package graft.plans

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BindReferences, Expression, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

/** The two-stage ANN route as a FIRST-CLASS operator beside
  * [[GraphWalk]]: a shortlist by a cheap stage-1 key over a compact
  * index, then the shortlist reranked by an exact score over the base
  * vectors fetched by id. The Hamming route (q163, q167, q183, the
  * streaming `annProbe`) and q162's prefix-cosine route are this one node.
  *
  * Semantics, per query id present in both query children: stage 1
  * keeps the `shortlist` index rows of smallest (key, vec_id), the key
  * "smaller is better"; `excludeSelf` first drops the row whose vec_id
  * equals the q_id (and a null vec_id). Stage 2 scores every base row
  * whose vec_id was shortlisted and keeps the `k` of smallest
  * (−score, vec_id, key). Both cuts use the interpreted struct
  * ordering of `collect_topk` (ascending, a null field first), so the
  * rows, ties and `rn` numbering equal [[graft.functions.Retrieval.heapTopK]]
  * over the joined candidates. Returns (q_id, rn, vec_id, key, score).
  *
  * Why a physical operator: as a DataFrame plan each broadcast and each
  * heap exchange is its own Spark job under AQE, and a request is
  * driver-bound. Here the query rows are collected on the driver (no
  * job for a local relation, one for any other plan) and handed whole
  * to every task, as Beam hands a side input, never joined; then
  *   - job 1 scans the index, keeps one bounded heap per query in each
  *     task and merges the per-task heaps on the driver;
  *   - job 2 scans `base`, scores only the shortlisted ids, keeps one
  *     top-`k` heap per query in each task and shuffles the heaps into
  *     one partition that merges them: the operator's output RDD.
  * The scorers are the caller's Catalyst expressions, bound to the
  * joined (query, index or base) row and evaluated by a generated
  * projection, as [[Walker]] does.
  *
  * Children and their columns: `queries` (q_id, the key's query
  * columns), `index` (vec_id, the key's index columns), `qVecs` (q_id,
  * the score's query columns), `base` (vec_id, the score's base
  * columns). q_id must be unique in each query child. Scale bound: the
  * index is one distributed scan and `base` is scanned once with no
  * shuffle on vec_id; the driver receives tasks·|Q|·shortlist rows from
  * stage 1 and the merge partition tasks·|Q|·k rows from stage 2.
  */
case class TwoStageRoutePlan(
    children: Seq[LogicalPlan], required: Seq[Attribute], key: Expression, score: Expression,
    shortlist: Int, k: Int, excludeSelf: Boolean, output: Seq[Attribute]) extends LogicalPlan {

  // `required` names every child column: the route reads the ids by
  // position, so column pruning must not drop what the scorers skip
  override def producedAttributes: AttributeSet = outputSet

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): TwoStageRoutePlan = copy(children = newChildren)
}

case class TwoStageRouteExec(
    children: Seq[SparkPlan], required: Seq[Attribute], key: Expression, score: Expression,
    shortlist: Int, k: Int, excludeSelf: Boolean, output: Seq[Attribute]) extends SparkPlan {
  import TwoStageRoute.{Heap, byId, cut}

  override def producedAttributes: AttributeSet = outputSet

  override def outputPartitioning: Partitioning = UnknownPartitioning(1)

  protected override def doExecute(): RDD[InternalRow] = {
    val Seq(queries, index, qVecs, base) = children
    val keys = byId(queries.executeCollect())
    val vecs = byId(qVecs.executeCollect())
    val ids = keys.keys.filter(vecs.contains).toArray.sorted
    val (sl, exclude) = (shortlist, excludeSelf)
    val keyBound = BindReferences.bindReference(key, queries.output ++ index.output)
    val qKeys = ids.map(keys)
    // job 1: a shortlist heap per query in each task, merged on the driver
    val short = if (ids.isEmpty) Array.empty[Array[InternalRow]] else
      index.execute().mapPartitions { rows =>
        val proj = UnsafeProjection.create(Seq(keyBound))
        val joined = new JoinedRow
        val heaps = Array.fill(ids.length)(new Heap(sl, TwoStageRoute.Stage1))
        rows.foreach { r =>
          val vid = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
          var i = 0
          while (i < ids.length) {
            if (!exclude || (vid != null && vid.longValue != ids(i))) {
              val s = proj(joined(qKeys(i), r))
              heaps(i) += new GenericInternalRow(Array[Any](
                if (s.isNullAt(0)) null else s.getLong(0), vid))
            }
            i += 1
          }
        }
        Iterator(heaps.map(_.sorted))
      }.fold(Array.fill(ids.length)(Array.empty[InternalRow]))((a, b) =>
        a.zip(b).map { case (x, y) => cut(x ++ y, sl, TwoStageRoute.Stage1) })
    // vec_id → (query ordinal, stage-1 key) of every shortlist entry
    val listed: Map[Long, Array[(Int, Any)]] = short.zipWithIndex.flatMap { case (es, i) =>
      es.filter(!_.isNullAt(1)).map(e => (e.getLong(1), (i, e.get(0, LongType)))) }
      .groupMap(_._1)(_._2)
    if (listed.isEmpty) sparkContext.emptyRDD[InternalRow] else rerank(ids, vecs, listed)
  }

  /** Job 2's RDD over the shortlist `listed` of the queries `ids`. */
  private def rerank(ids: Array[Long], vecs: Map[Long, InternalRow],
                     listed: Map[Long, Array[(Int, Any)]]): RDD[InternalRow] = {
    val Seq(_, _, qVecs, base) = children
    val topK = k
    val scoreBound = BindReferences.bindReference(score, qVecs.output ++ base.output)
    val qv = ids.map(vecs)
    val outTypes = output.map(_.dataType)
    // job 2: a top-k heap per query in each task, merged in one partition
    base.execute().mapPartitions { rows =>
      val proj = UnsafeProjection.create(Seq(scoreBound))
      val joined = new JoinedRow
      val heaps = Array.fill(ids.length)(new Heap(topK, TwoStageRoute.Stage2))
      rows.foreach { r =>
        if (!r.isNullAt(0)) listed.get(r.getLong(0)).foreach(_.foreach { case (i, hk) =>
          val s = proj(joined(qv(i), r))
          heaps(i) += new GenericInternalRow(Array[Any](
            if (s.isNullAt(0)) null else -s.getLong(0), r.getLong(0), hk))
        })
      }
      heaps.indices.iterator.map(i => i -> heaps(i).sorted)
    }.reduceByKey(new HashPartitioner(1), (a, b) => cut(a ++ b, topK, TwoStageRoute.Stage2))
      .mapPartitions { merged =>
        val toUnsafe = UnsafeProjection.create(outTypes.toArray)
        merged.toArray.sortBy(_._1).iterator.flatMap { case (i, es) =>
          es.iterator.zipWithIndex.map { case (e, p) =>
            val hk = e.get(0, LongType)
            toUnsafe(new GenericInternalRow(Array[Any](ids(i), p + 1, e.getLong(1), e.get(2, LongType),
              if (hk == null) null else -hk.asInstanceOf[Long]))).copy()
          }
        }
      }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): TwoStageRouteExec = copy(children = newChildren)
}

/** Planner rule: logical two-stage route → the two-job route. */
object TwoStageRouteStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TwoStageRoutePlan(cs, req, key, score, sl, k, ex, out) =>
      TwoStageRouteExec(cs.map(planLater), req, key, score, sl, k, ex, out) :: Nil
    case _ => Nil
  }
}

object TwoStageRoute {

  private def order(fields: DataType*): Ordering[InternalRow] = TypeUtils.getInterpretedOrdering(
    StructType(fields.zipWithIndex.map { case (t, i) => StructField(s"f$i", t) }))
    .asInstanceOf[Ordering[InternalRow]]

  /** `collect_topk`'s ascending order of the heap entries: (key,
    * vec_id) in stage 1, (−score, vec_id, key) in stage 2. */
  private[plans] val Stage1 = order(LongType, LongType)
  private[plans] val Stage2 = order(LongType, LongType, LongType)

  /** The `n` smallest of `rows` under `ord`, ascending. */
  private[plans] def cut(rows: Array[InternalRow], n: Int, ord: Ordering[InternalRow]): Array[InternalRow] =
    rows.sorted(ord).take(n)

  /** A bounded heap of the `n` smallest entries under `ord`. */
  private[plans] final class Heap(n: Int, ord: Ordering[InternalRow]) {
    private val q = new java.util.PriorityQueue[InternalRow](n, ord.reverse)
    def +=(e: InternalRow): Unit =
      if (q.size < n) q.add(e) else if (ord.lt(e, q.peek)) { q.poll(); q.add(e) }
    def sorted: Array[InternalRow] = q.toArray(Array.empty[InternalRow]).sorted(ord)
  }

  /** The collected query rows by their leading q_id; a null q_id
    * matches nothing, as in the equi-join on q_id it replaces. */
  private[plans] def byId(rows: Array[InternalRow]): Map[Long, InternalRow] = {
    val live = rows.filter(!_.isNullAt(0))
    val m = live.map(r => r.getLong(0) -> r).toMap
    require(m.size == live.length, "TwoStageRoute: q_id must be unique in each query child")
    m
  }

  /** The route of every query (see [[TwoStageRoutePlan]]): `key` is a
    * BIGINT Column over the columns of `queries` and `index`, smaller
    * is better; `score` a BIGINT Column over those of `qVecs` and
    * `base`, larger is better. Each child keeps its lead id and the
    * columns its scorer reads, so the index scan reads only those. */
  def apply(queries: DataFrame, index: DataFrame, key: Column, qVecs: DataFrame,
            base: DataFrame, score: Column, shortlist: Int, k: Int,
            excludeSelf: Boolean): DataFrame = {
    require(shortlist > 0 && k > 0, s"TwoStageRoute: shortlist $shortlist and k $k must be positive")
    val spark = queries.sparkSession
    // every column aliased afresh, so no attribute sits in two children:
    // the query children are often one relation, and analysis renews
    // such an attribute in one child only, while the scorers keep the
    // old one
    val plans = Seq(queries -> "q_id", index -> "vec_id", qVecs -> "q_id", base -> "vec_id")
      .map { case (df, id) =>
        df.select(col(id).cast(LongType).as(id) +: df.columns.filter(_ != id).map(c => col(c).as(c)): _*)
          .queryExecution.analyzed
      }
    val Seq(keyE, scoreE) = Seq((key, 0, "key"), (score, 2, "score")).map { case (c, i, name) =>
      GraphWalk.resolveLong(spark, plans(i).output ++ plans(i + 1).output, c, name, "TwoStageRoute")
    }
    val refs = keyE.references ++ scoreE.references
    val pruned = plans.map(p => Project(p.output.head +: p.output.tail.filter(refs.contains), p))
    val out = Seq(AttributeReference("q_id", LongType, nullable = false)(),
      AttributeReference("rn", IntegerType, nullable = false)(),
      AttributeReference("vec_id", LongType, nullable = false)(),
      AttributeReference("key", LongType)(),
      AttributeReference("score", LongType)())
    GraftSqlBridge.ofRows(spark, TwoStageRoutePlan(pruned, pruned.flatMap(_.output),
      keyE, scoreE, shortlist, k, excludeSelf, out))
  }
}
