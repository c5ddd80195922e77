package graft.plans

import org.apache.spark.{Partitioner, RangePartitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, BoundReference, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Pure range (interval) join as a FIRST-CLASS operator — the second
  * (c)-class rung of the custom-operator ladder (SURVEY §7.2, after
  * [[AsOfJoin]]): custom `LogicalPlan` + `Strategy` + `SparkPlan`
  * registered by `GraftFunctions.ensure` through
  * `spark.experimental.extraStrategies`.
  *
  * Semantics: every (left, right) pair with
  * `right.lo <= left.ts <= right.hi` — the no-equi-key interval join of
  * window attribution, sensor enrichment, and q103's ±1 h event count.
  *
  * Why a physical operator: with no equality predicate Spark plans this
  * join as BroadcastNestedLoopJoin — O(n·m) and only viable while one
  * side broadcasts. The compositional alternative (q103's bucketing)
  * works but hard-codes a granule: too coarse and every bucket pays a
  * wide residual scan, too fine and intervals explode. This operator
  * instead samples the POINT side to build equi-depth range bounds
  * (`RangePartitioner` — the same sampling machinery `ORDER BY` uses),
  * ships each point to its one range, duplicates each interval to just
  * the ranges it overlaps, and runs an O(n log a) sweep per partition
  * (a = max concurrently-open intervals): points stream in ts order,
  * intervals enter a min-heap on `hi` when `lo` passes, leave when `hi`
  * expires. No granule to tune — bounds adapt to the observed ts
  * distribution; skewed point clusters get narrow ranges, so interval
  * duplication tracks actual overlap density, not a fixed calendar.
  *
  * At 100 TB: one sampling pass over the point side (bounded sketch,
  * driver artifact = p cut points), one shuffle per side through
  * `repartitionAndSortWithinPartitions` (spill-safe sort inside the
  * shuffle machinery, never in operator memory), sweep state = the
  * open-interval heap only — the operator's memory bound is the
  * interval overlap degree, the same contract as a stream-stream
  * interval join's state store.
  *
  * OUTPUT BUFFER CONTRACT (round-15 ADVICE): `doExecute` emits the
  * SAME reused `UnsafeRow` buffer for every output pair of a left row
  * (no per-pair copy — the standard pipelined-exec contract, exactly
  * as `SortMergeJoinExec`'s joined output behaves). Catalyst parents
  * (aggregates, exchanges, sorts) copy what they retain; any DIRECT
  * consumer of the operator's RDD (`queryExecution.toRdd`, a future
  * custom parent) that buffers rows across `next()` calls — e.g.
  * `iterator.toArray` — MUST call `row.copy()` first, or it will see
  * the last row duplicated.
  */
case class RangeJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftTs: Attribute, rightLo: Attribute, rightHi: Attribute)
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): RangeJoinPlan =
    copy(left = newLeft, right = newRight)
}

private[plans] class PidPartitioner(n: Int) extends Partitioner {
  override def numPartitions: Int = n
  override def getPartition(key: Any): Int = key.asInstanceOf[(Int, Long)]._1
}

/** Per-partition sweep state shared by BOTH execution paths (the
  * interpreted `doExecute` and the generated whole-stage loop): the
  * open-interval active set over the partition's lo-sorted right rows,
  * INDEXABLE so the emit loop is a plain counted `for` with no
  * iterator allocation per left row. Admission copies each right row
  * once per INTERVAL (the shuffle reader reuses its buffer and an
  * admitted interval outlives many left rows); expiry compacts by
  * swap-with-last during the same O(active) walk the pair emit already
  * pays, so maintenance never exceeds the output work. */
final class RangeSweep(loOrd: Int, hiOrd: Int) {
  private var it: Iterator[InternalRow] = Iterator.empty
  private var pending: UnsafeRow = null
  private var pendingLo = 0L
  private var rows = new Array[InternalRow](16)
  private var his = new Array[Long](16)
  private var n = 0

  def setInput(rightIter: Iterator[InternalRow]): Unit = { it = rightIter }

  private def add(r: InternalRow, hi: Long): Unit = {
    if (n == rows.length) {
      rows = java.util.Arrays.copyOf(rows, n * 2)
      his = java.util.Arrays.copyOf(his, n * 2)
    }
    rows(n) = r; his(n) = hi; n += 1
  }

  /** Advance the sweep line to `ts` (left rows arrive ts-sorted):
    * admit intervals whose lo has passed — those already expired
    * (hi < ts) never enter — and expire open ones whose hi has.
    * Afterwards indices [0, size) are exactly the open set at ts. */
  def advance(ts: Long): Unit = {
    var more = true
    while (more) {
      if (pending == null && it.hasNext) {
        pending = it.next().asInstanceOf[UnsafeRow].copy()
        pendingLo = pending.getLong(loOrd)
      }
      if (pending != null && pendingLo <= ts) {
        val hi = pending.getLong(hiOrd)
        if (hi >= ts) add(pending, hi)
        pending = null
      } else more = false
    }
    var i = 0
    while (i < n) {
      if (his(i) < ts) { n -= 1; rows(i) = rows(n); his(i) = his(n); rows(n) = null }
      else i += 1
    }
  }

  def size: Int = n
  def get(i: Int): InternalRow = rows(i)
}

case class RangeJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftTs: Attribute, rightLo: Attribute, rightHi: Attribute)
  extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = left.output ++ right.output

  private def ord(attrs: Seq[Attribute], a: Attribute): Int = {
    val i = attrs.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"attribute $a not found in $attrs")
    i
  }
  private lazy val tsOrd = ord(left.output, leftTs)
  private lazy val loOrd = ord(right.output, rightLo)
  private lazy val hiOrd = ord(right.output, rightHi)

  /** Shuffle both sides into ts-equi-depth ranges and sort within each
    * partition (left by ts, right by lo), returning plain sorted row
    * RDDs with aligned partitioning — the input contract of the sweep,
    * shared by the interpreted and codegen paths.
    *
    * Equi-depth bounds come from a sketch sample of the point side
    * (`RangePartitioner`, the ORDER BY machinery; the partitioner
    * object is the bounded driver artifact). Monotone getPartition
    * means an interval's overlapped ranges are exactly the contiguous
    * span [getPartition(lo), getPartition(hi)]. Null ts/lo/hi rows and
    * lo > hi intervals are dropped here — inner semantics. */
  private def preparedInputs(): (RDD[InternalRow], RDD[InternalRow]) = {
    val lOut = left.output
    val rOut = right.output
    val lts = BindReferences.bindReference(
      leftTs: org.apache.spark.sql.catalyst.expressions.Expression, lOut)
    val rlo = BindReferences.bindReference(
      rightLo: org.apache.spark.sql.catalyst.expressions.Expression, rOut)
    val rhi = BindReferences.bindReference(
      rightHi: org.apache.spark.sql.catalyst.expressions.Expression, rOut)
    val targetP = math.max(1, conf.numShufflePartitions)
    val tsKeyed: RDD[(Long, Null)] = left.execute().mapPartitions(_.flatMap { r =>
      val t = lts.eval(r)
      if (t == null) None else Some((t.asInstanceOf[Long], null))
    })
    val ranger = new RangePartitioner[Long, Null](targetP, tsKeyed)
    val p = math.max(1, ranger.numPartitions) // collapses on tiny/empty input

    val lKeyed: RDD[((Int, Long), UnsafeRow)] =
      left.execute().mapPartitions(_.flatMap { r =>
        val t = lts.eval(r)
        if (t == null) None // inner semantics: null ts matches nothing
        else {
          val ts = t.asInstanceOf[Long]
          Some(((ranger.getPartition(ts), ts), r.asInstanceOf[UnsafeRow].copy()))
        }
      })
    val rKeyed: RDD[((Int, Long), UnsafeRow)] =
      right.execute().mapPartitions(_.flatMap { r =>
        val loAny = rlo.eval(r); val hiAny = rhi.eval(r)
        if (loAny == null || hiAny == null) Iterator.empty
        else {
          val lo = loAny.asInstanceOf[Long]; val hi = hiAny.asInstanceOf[Long]
          if (lo > hi) Iterator.empty
          else {
            val row = r.asInstanceOf[UnsafeRow].copy()
            (ranger.getPartition(lo) to ranger.getPartition(hi)).iterator
              .map(pid => ((pid, lo), row))
          }
        }
      })

    val part = new PidPartitioner(p)
    import org.apache.spark.rdd.RDD.rddToOrderedRDDFunctions
    (lKeyed.repartitionAndSortWithinPartitions(part)
       .mapPartitions(_.map(_._2), preservesPartitioning = true),
     rKeyed.repartitionAndSortWithinPartitions(part)
       .mapPartitions(_.map(_._2), preservesPartitioning = true))
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outSchema = output
    val (tso, loo, hio) = (tsOrd, loOrd, hiOrd)
    val (lSorted, rSorted) = preparedInputs()
    lSorted.zipPartitions(rSorted) { (li, ri) =>
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(outSchema, lOut ++ rOut)
      val sweep = new RangeSweep(loo, hio)
      sweep.setInput(ri)
      li.flatMap { lrow =>
        // ts is a non-null top-level column by the prepare contract
        sweep.advance(lrow.getLong(tso))
        // NO per-pair copy: outProj reuses its buffer row, the standard
        // pipelined-exec contract (consumers that buffer must copy,
        // exactly as SortMergeJoin's joined output behaves). The copy
        // was O(output-pairs) allocation — the round-15 sf10 sweep
        // measured it as a 43x blowup on 10x data (70.2 s vs the
        // bucket-join form's 2.4 s on the same 100x-denser pair set).
        (0 until sweep.size).iterator.map(i => outProj(joined(lrow, sweep.get(i))))
      }
    }
  }

  // ---- whole-stage codegen (round-16 verdict ask #2) -------------------
  //
  // The exec is a codegen LEAF in the SortMergeJoin mold: the generated
  // processNext() drives the sweep directly over the two sorted shuffle
  // iterators and feeds each (left, open-interval) pair to consume() as
  // column variables — no per-pair UnsafeRow materialization, no
  // iterator boundary between the join and the aggregation above it.
  // Round-15's sf10 disposition measured that boundary at 2.4x the
  // fused form on q117's ~300M-pair output; fusing removes it.

  override def inputRDDs(): Seq[RDD[InternalRow]] = {
    val (l, r) = preparedInputs()
    Seq(l, r)
  }

  // output rows are assembled from a buffer-reusing pair stream: a
  // parent that buffers (e.g. sort) must copy, as with all join execs
  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String = {
    val leftInput = ctx.addMutableState("scala.collection.Iterator", "rjLeftInput",
      v => s"$v = inputs[0];")
    val rightInput = ctx.addMutableState("scala.collection.Iterator", "rjRightInput",
      v => s"$v = inputs[1];")
    val sweepCls = classOf[RangeSweep].getName
    val sweep = ctx.addMutableState(sweepCls, "rjSweep",
      v => s"$v = new $sweepCls($loOrd, $hiOrd); $v.setInput($rightInput);")
    // resumable state: shouldStop() can suspend mid-active-set; the
    // current left row and emit index live in class fields so the next
    // processNext() call continues exactly where this one stopped
    val lrow = ctx.addMutableState("InternalRow", "rjLeftRow")
    val idx = ctx.addMutableState("int", "rjIdx")
    ctx.INPUT_ROW = lrow
    ctx.currentVars = null
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    val rrow = ctx.freshName("rjRightRow")
    ctx.INPUT_ROW = rrow
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    val leftEval = evaluateVariables(leftVars)
    val rightEval = evaluateVariables(rightVars)
    // the loop FALLS THROUGH on input exhaustion (an enclosing
    // aggregate emits its finish code right after the produce block —
    // a blind `return` there is unreachable-code-invalid Java), and
    // emits a stop check only when the parent chain wants one (an
    // aggregate eliminates them; a row-streaming parent resumes via
    // the $lrow/$idx fields)
    s"""
       |while ($lrow != null || $leftInput.hasNext()) {
       |  if ($lrow == null) {
       |    $lrow = (InternalRow) $leftInput.next();
       |    $sweep.advance($lrow.getLong($tsOrd));
       |    $idx = 0;
       |  }
       |  $leftEval
       |  while ($idx < $sweep.size()) {
       |    InternalRow $rrow = $sweep.get($idx++);
       |    $rightEval
       |    ${consume(ctx, leftVars ++ rightVars)}
       |    $shouldStopCheckCode
       |  }
       |  $lrow = null;
       |}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): RangeJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: logical range join → the partitioned-sweep physical form. */
object RangeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeJoinPlan(l, r, ts, lo, hi) =>
      RangeJoinExec(planLater(l), planLater(r), ts, lo, hi) :: Nil
    case _ => Nil
  }
}

object RangeJoin {

  /** Inner interval join: all (left, right) pairs with
    * `lo <= left.ts <= hi`. The ts/lo/hi columns must be BIGINT; null
    * bounds and lo > hi intervals match nothing. */
  def joinRange(left: DataFrame, right: DataFrame,
                ts: String, lo: String, hi: String): DataFrame = {
    val spark = left.sparkSession
    def attr(df: DataFrame, name: String): Attribute = {
      val a = df.queryExecution.analyzed.output.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"column $name not found"))
      require(a.dataType == LongType, s"$name must be BIGINT, got ${a.dataType.simpleString}")
      a
    }
    // same self-join guard as AsOfJoin: re-alias the right side to
    // fresh exprIds so a shared scan can't collide
    val rightFresh = right.select(right.columns.map(c => col(c).as(c)): _*)
    GraftSqlBridge.ofRows(spark,
      RangeJoinPlan(
        left.queryExecution.analyzed, rightFresh.queryExecution.analyzed,
        attr(left, ts), attr(rightFresh, lo), attr(rightFresh, hi)))
  }
}
