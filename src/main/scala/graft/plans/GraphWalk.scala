package graft.plans

import java.lang.ref.WeakReference

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{LocalTableScanExec, RDDScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.storage.StorageLevel

/** Which edges one stage of a [[GraphWalk]] expands the frontier over. */
sealed trait EdgeSet
object EdgeSet {
  /** The entry lists: every `nb` whose `key` is one of the query's keys
    * (the frontier is not consulted). */
  case object Entry extends EdgeSet
  /** The adjacency (src, nb). */
  case object Graph extends EdgeSet
  /** One level of the layers table (lvl, src, nb). */
  final case class Layer(lvl: Int) extends EdgeSet
}

/** One stage of a walk's layer schedule: `hops` rounds of expand over
  * `edges`, drop the query's own id when `dropSelf`, score, and keep
  * the distinct top-`beam` of the frontier ∪ the scored expansion. */
final case class WalkStage(edges: EdgeSet, beam: Int, hops: Int, dropSelf: Boolean)

/** Greedy graph search as a FIRST-CLASS operator — custom `LogicalPlan`
  * + `Strategy` + `SparkPlan` beside [[AsOfJoin]] and [[RangeJoin]].
  * One node serves every graph path: the flat beam search (q171/q174,
  * the streaming serve), the ADC-scored traversal (q176) and the
  * hierarchical descent (q173) differ only in the scorer, the rank
  * direction and the layer schedule.
  *
  * Semantics, per query row: the frontier starts empty; each stage of
  * the schedule runs its hops — expand (entry lists by the query's
  * keys, or the frontier's out-edges), drop self if asked, score every
  * candidate against each vectors row with its id, then keep the
  * distinct top-`beam` of frontier ∪ scored by (score, vec_id), score
  * descending or ascending, vec_id ascending, a null score first — the
  * order and dedup of [[graft.functions.Retrieval.topDistinct]], with no
  * visited set, so each cut equals that heap over the same union. The
  * node emits the final frontier in rank order or, with `emitScored`,
  * every row it scored with its multiplicity.
  *
  * Why a physical operator: as a DataFrame loop every hop is a Spark
  * job with its own shuffle and a lineage-truncating checkpoint, and
  * the driver's planning of ~20 of them dominates a request. Here the
  * query rows stream; the adjacency, the entry lists, the vectors (or
  * PQ codes) and the layers are collected into one [[WalkIndex]] of hash
  * maps by one job, broadcast once, and each task runs every hop of its
  * queries in memory: a request is that job plus one stage. When
  * every table is read from persisted checkpoints (the resident
  * knngraph read of [[graft.queries.Round11Queries.readKnnGraphIndex]]
  * and a checkpointed corpus), the index is kept while they live, so a
  * repeat request is the one stage.
  * The scorer is the caller's Catalyst expression, bound to the joined
  * (query, vectors) row and evaluated by a generated projection, so
  * the arithmetic is the engine's own.
  *
  * Children and their columns: `query` (q_id, keys: array<bigint>, the
  * scorer's query columns), `adjacency` (src, nb), `entries` (key, nb),
  * `vectors` (vec_id, the scorer's vector columns) and optionally
  * `layers` (lvl, src, nb). q_id must be unique per walk. Scale limit:
  * the index must fit one executor; a sharded graph would
  * run one walk per shard and merge the frontiers with one distinct
  * top-k.
  *
  * OUTPUT BUFFER CONTRACT (as [[RangeJoin]]): the node emits ONE reused
  * `UnsafeRow`; a direct consumer of its RDD that buffers rows across
  * `next()` must `copy()` them first.
  */
case class GraphWalkPlan(
    children: Seq[LogicalPlan], required: Seq[Attribute], score: Expression,
    desc: Boolean, schedule: Seq[WalkStage], emitScored: Boolean,
    output: Seq[Attribute]) extends LogicalPlan {

  // `required` names every child column: the walk reads the id columns
  // by position, so column pruning must not drop what the scorer skips
  override def producedAttributes: AttributeSet = outputSet

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): GraphWalkPlan = copy(children = newChildren)
}

case class GraphWalkExec(
    children: Seq[SparkPlan], required: Seq[Attribute], score: Expression,
    desc: Boolean, schedule: Seq[WalkStage], emitScored: Boolean,
    output: Seq[Attribute]) extends SparkPlan {

  override def producedAttributes: AttributeSet = outputSet

  override def outputPartitioning: Partitioning =
    UnknownPartitioning(children.head.outputPartitioning.numPartitions)

  protected override def doExecute(): RDD[InternalRow] = {
    children.zip(GraphWalk.Layout).foreach { case (c, lead) =>
      require(c.output.map(_.name).take(lead.size) == lead.map(_._1),
        s"GraphWalk: a child must lead with ${lead.map(_._1)}, got ${c.output}")
    }
    val bound = BindReferences.bindReference(score, children.head.output ++ children(3).output)
    val index = WalkIndex.of(sparkContext, children.tail)
    val (d, plan, scored) = (desc, schedule, emitScored)
    children.head.execute().mapPartitions { rows =>
      val walker = new Walker(index.value, bound, d, plan, scored)
      rows.flatMap(walker.walk)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): GraphWalkExec = copy(children = newChildren)
}

/** The walk's read-only tables, built once from the collected table
  * children: the adjacency, entry and per-level layer multimaps (key →
  * values; null keys and values match nothing, as in the join they
  * replace) and the vectors rows by id. Broadcast once and shared by
  * every task, so never written. */
private[plans] final case class WalkIndex(
    adjacency: Map[Long, Array[Long]], entries: Map[Long, Array[Long]],
    layers: Map[Int, Map[Long, Array[Long]]], vectors: Map[Long, Array[InternalRow]]) {
  def edges(e: EdgeSet): Map[Long, Array[Long]] = e match {
    case EdgeSet.Entry => entries
    case EdgeSet.Graph => adjacency
    case EdgeSet.Layer(l) => layers.getOrElse(l, Map.empty)
  }
}

private[plans] object WalkIndex {

  /** key → values of (key, value) rows at ordinals (k, k + 1). */
  private def multimap(rows: Iterable[InternalRow], k: Int): Map[Long, Array[Long]] =
    rows.filter(r => !r.isNullAt(k) && !r.isNullAt(k + 1))
      .groupBy(_.getLong(k)).map { case (key, rs) => key -> rs.map(_.getLong(k + 1)).toArray }

  /** The index of the collected (adjacency, entries, vectors[, layers])
    * rows, columns by position ([[GraphWalk.Layout]]). */
  def apply(tables: Seq[Array[InternalRow]]): WalkIndex = {
    val Seq(adj, ent, vec, lyr @ _*) = tables
    WalkIndex(multimap(adj, 0), multimap(ent, 0),
      lyr.flatten.filter(!_.isNullAt(0)).groupBy(_.getInt(0))
        .map { case (l, rs) => l -> multimap(rs, 1) },
      vec.filter(!_.isNullAt(0)).groupBy(_.getLong(0)))
  }

  /** A built index kept for the checkpointed RDDs it was read from, held
    * weakly: it lives while each of them is reachable and persisted. */
  private final class Kept(rdds: Seq[RDD[_]], val index: Broadcast[WalkIndex]) {
    private val refs = rdds.map(new WeakReference(_))
    def live: Boolean = refs.forall(r => Option(r.get).exists(_.getStorageLevel != StorageLevel.NONE))
    def readFrom(leaves: Seq[RDD[_]]): Boolean = refs.map(_.get).corresponds(leaves)(_ eq _)
  }
  private val kept = mutable.Map.empty[(Seq[SparkPlan], Seq[Int]), Kept]

  /** The broadcast index of the table children. When every leaf of them
    * is a persisted checkpoint and their expressions are deterministic,
    * the same rows come back on every execution, so the index is kept
    * while those checkpoints live and a repeat walk over them collects
    * and broadcasts nothing; otherwise it is built for this execution. */
  def of(sc: SparkContext, tables: Seq[SparkPlan]): Broadcast[WalkIndex] = {
    // one job collects every table, each row tagged with its table
    def build() = {
      val rows = sc.union(tables.zipWithIndex.map { case (t, i) =>
        t.execute().map(r => (i, r.copy())) }).collect()
      sc.broadcast(WalkIndex(tables.indices.map(i => rows.collect { case (`i`, r) => r })))
    }
    val leaves = tables.flatMap(_.collectLeaves())
    val rdds = leaves.collect { case r: RDDScanExec
      if r.rdd.isCheckpointed && r.rdd.getStorageLevel != StorageLevel.NONE => r.rdd }
    if (rdds.size < leaves.size ||
        tables.exists(_.exists(p => p.subqueries.nonEmpty || p.expressions.exists(!_.deterministic))))
      build()
    else {
      // the plans with an empty stand-in for each RDD scan, so the key
      // holds none of the RDDs
      val key = (tables.map(_.canonicalized.transform {
        case r: RDDScanExec => LocalTableScanExec(r.output, Nil, None) }), rdds.map(_.id))
      kept.synchronized {
        kept.filterInPlace((_, k) => k.live)
        kept.get(key).filter(_.readFrom(rdds)).map(_.index)
      }.getOrElse {
        val index = build()
        kept.synchronized(kept(key) = new Kept(rdds, index))
        index
      }
    }
  }
}

/** The walk of one task over the shared [[WalkIndex]], one query at a
  * time. */
private[plans] final class Walker(
    index: WalkIndex, score: Expression,
    desc: Boolean, schedule: Seq[WalkStage], emitScored: Boolean) {
  import Walker.Hit

  private val scoreProj = UnsafeProjection.create(Seq(score))
  private val joined = new JoinedRow
  private val out = new UnsafeRowWriter(3)

  // the distinct heap's order: a null score first, then the score in
  // the walk's direction, then vec_id
  private val rank: Ordering[Hit] = (a, b) => {
    def key(s: java.lang.Long): Long = if (desc) -s.longValue else s.longValue
    val c =
      if (a.score == null || b.score == null) -java.lang.Boolean.compare(a.score == null, b.score == null)
      else java.lang.Long.compare(key(a.score), key(b.score))
    if (c != 0) c else java.lang.Long.compare(a.vecId, b.vecId)
  }

  private def emit(qId: Long, h: Hit): InternalRow = {
    out.reset(); out.zeroOutNullBytes()
    out.write(0, qId); out.write(1, h.vecId)
    if (h.score == null) out.setNullAt(2) else out.write(2, h.score.longValue)
    out.getRow
  }

  def walk(row: InternalRow): Iterator[InternalRow] =
    if (row.isNullAt(0)) Iterator.empty
    else {
      val q = row.copy() // the child may reuse its row; scoring reads it per candidate
      val qId = q.getLong(0)
      val keys = if (q.isNullAt(1)) Array.empty[Long] else q.getArray(1).toLongArray()
      val scored = mutable.ArrayBuffer.empty[Hit]
      def scoreAll(cands: Iterator[Long]): Seq[Hit] = {
        val hits = cands.flatMap(id => index.vectors.getOrElse(id, Array.empty[InternalRow]).map { v =>
          val s = scoreProj(joined(q, v))
          Hit(id, if (s.isNullAt(0)) null else java.lang.Long.valueOf(s.getLong(0)))
        }).toSeq
        if (emitScored) scored ++= hits
        hits
      }
      var frontier: Seq[Hit] = Nil
      for (st <- schedule; _ <- 1 to st.hops) {
        val adj = index.edges(st.edges)
        val from = st.edges match {
          case EdgeSet.Entry => keys.iterator
          case _ => frontier.iterator.map(_.vecId)
        }
        val cands = from.flatMap(adj.getOrElse(_, Array.empty[Long]))
          .filter(nb => !st.dropSelf || nb != qId)
        frontier = (frontier ++ scoreAll(cands)).distinct.sorted(rank).take(st.beam)
      }
      (if (emitScored) scored.iterator else frontier.iterator).map(emit(qId, _))
    }
}

private[plans] object Walker {
  /** One scored (vec_id, score); case-class equality is the heap's
    * (score, vec_id) distinctness. */
  final case class Hit(vecId: Long, score: java.lang.Long)
}

/** Planner rule: logical graph walk → the in-task walk. */
object GraphWalkStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GraphWalkPlan(cs, req, score, desc, sched, emitScored, out) =>
      GraphWalkExec(cs.map(planLater), req, score, desc, sched, emitScored, out) :: Nil
    case _ => Nil
  }
}

object GraphWalk {

  /** The leading columns of each child (query, adjacency, entries,
    * vectors, layers), in the order the walk reads them. */
  private[plans] val Layout: Seq[Seq[(String, DataType)]] = Seq(
    Seq("q_id" -> LongType, "keys" -> ArrayType(LongType)),
    Seq("src" -> LongType, "nb" -> LongType),
    Seq("key" -> LongType, "nb" -> LongType),
    Seq("vec_id" -> LongType),
    Seq("lvl" -> IntegerType, "src" -> LongType, "nb" -> LongType))

  /** `c` resolved against the columns `input` alone, as the BIGINT
    * scorer an operator binds to its joined rows. */
  private[plans] def resolveLong(spark: SparkSession, input: Seq[Attribute], c: Column,
                                 name: String, op: String): Expression = {
    val resolved = GraftSqlBridge.ofRows(spark, LocalRelation(input))
      .select(c.as(name)).queryExecution.analyzed match {
        case Project(Seq(Alias(e, _)), _) => e
        case p => throw new IllegalStateException(s"$op: unresolvable scorer $p")
      }
    require(resolved.dataType == LongType,
      s"$op: the scorer must be BIGINT, got ${resolved.dataType.simpleString}")
    resolved
  }

  /** The walk of every `query` row through `schedule` (see
    * [[GraphWalkPlan]] for the children's columns; `query` and `vectors`
    * keep their other columns for the scorer, the rest keep only
    * theirs). `score` is a BIGINT Column over the query's and the
    * vectors' columns; it is resolved here and evaluated per (query,
    * candidate) pair. Returns (q_id, vec_id, `name`): the final
    * frontier, or with `emitScored` every scored row. */
  def walk(query: DataFrame, adjacency: DataFrame, entries: DataFrame,
           vectors: DataFrame, layers: Option[DataFrame], score: Column, name: String,
           desc: Boolean, schedule: Seq[WalkStage], emitScored: Boolean): DataFrame = {
    val spark = query.sparkSession
    val plans = (Seq(query, adjacency, entries, vectors) ++ layers).zip(Layout).zipWithIndex
      .map { case ((df, lead), i) =>
        val rest = if (i == 0 || i == 3) df.columns.toSeq.filterNot(lead.map(_._1).contains) else Nil
        df.select(lead.map { case (n, t) => col(n).cast(t).as(n) } ++ rest.map(col): _*)
          .queryExecution.analyzed
      }
    val resolved = resolveLong(spark, plans.head.output ++ plans(3).output, score, name, "GraphWalk")
    val out = Seq(AttributeReference("q_id", LongType, nullable = false)(),
      AttributeReference("vec_id", LongType, nullable = false)(),
      AttributeReference(name, LongType)())
    GraftSqlBridge.ofRows(spark, GraphWalkPlan(plans, plans.flatMap(_.output), resolved,
      desc, schedule, emitScored, out))
  }
}
