package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** As-of join as a FIRST-CLASS operator — the (c)-class extension of
  * the custom-operator ladder (SURVEY §7.2): custom `LogicalPlan` +
  * `Strategy` + `SparkPlan`; `GraftFunctions.ensure` registers the
  * strategy through the public `spark.experimental.extraStrategies` hook.
  *
  * Semantics: for every left row, append the payload of the LAST right
  * row with the same key and `rightTs <= leftTs` (nulls when none) —
  * the point-in-time lookup of feature-store joins, trade/quote
  * alignment, and q25's purchase→last-click attribution.
  *
  * Why a physical operator: expressed compositionally (q25's
  * union + running-last window) the engine must materialize BOTH
  * streams through one window; as a join, Spark's nearest native shape
  * is a range join that explodes to BroadcastNestedLoop. This operator
  * instead declares `ClusteredDistribution` on the keys and
  * per-partition `(key, ts)` ordering — EnsureRequirements inserts the
  * exchanges/sorts exactly as it does for SortMergeJoin — and then a
  * single O(n+m) forward merge sweep per partition with ONE buffered
  * payload row of state. At 100 TB: one shuffle per side, streaming
  * iterators, no per-key buffering, no window state.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTs: Attribute,
    rightKey: Attribute, rightTs: Attribute,
    rightPayload: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ rightPayload.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, leftTs: Attribute,
    rightKey: Attribute, rightTs: Attribute,
    rightPayload: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ rightPayload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // The right payload columns join the sort key as a deterministic
  // tiebreak: the sweep buffers the LAST row per (key, ts), so without
  // a total order, equal-(key, ts) rows with different payloads would
  // make the output depend on partition-internal sort luck. With them,
  // ties resolve to the GREATEST orderable payload tuple — documented
  // tie semantics at the cost of extra comparisons only on ties.
  // (Un-orderable payload types — maps — are skipped; ties among them
  // remain implementation-defined, which joinAsOf's scaladoc states.)
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)) ::
      (Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)) ++
        rightPayload.filter(a => RowOrdering.isOrderable(a.dataType))
          .map(SortOrder(_, Ascending))) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val payload = rightPayload
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val lk = BindReferences.bindReference(leftKey: org.apache.spark.sql.catalyst.expressions.Expression, lOut)
      val lt = BindReferences.bindReference(leftTs: org.apache.spark.sql.catalyst.expressions.Expression, lOut)
      val rk = BindReferences.bindReference(rightKey: org.apache.spark.sql.catalyst.expressions.Expression, rOut)
      val rt = BindReferences.bindReference(rightTs: org.apache.spark.sql.catalyst.expressions.Expression, rOut)
      val payloadProj = UnsafeProjection.create(payload, rOut)
      // the payload side of the joined row is nullable HERE even when
      // the right attribute is not (no-match rows) — widen before
      // binding or the projection reads a null slot as 0
      val outProj = UnsafeProjection.create(output, lOut ++ payload.map(_.withNullability(true)))
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(payload.size)

      // one row of sweep state: the latest right payload for the
      // current key whose ts has been passed
      var rHead: InternalRow = null
      var rHeadKey = 0L
      var rHeadTs = 0L
      var headValid = false
      def advanceRight(): Unit = {
        headValid = false
        while (!headValid && ri.hasNext) {
          rHead = ri.next()
          val k = rk.eval(rHead); val t = rt.eval(rHead)
          if (k != null && t != null) { // null keys/ts can match nothing
            rHeadKey = k.asInstanceOf[Long]; rHeadTs = t.asInstanceOf[Long]
            headValid = true
          }
        }
      }
      advanceRight()

      var lastMatch: InternalRow = null
      var lastMatchKey = 0L
      li.map { l =>
        val kAny = lk.eval(l); val tAny = lt.eval(l)
        if (kAny == null || tAny == null) {
          outProj(joined(l, nullRight))
        } else {
          val lKey = kAny.asInstanceOf[Long]; val lTs = tAny.asInstanceOf[Long]
          while (headValid && (rHeadKey < lKey || (rHeadKey == lKey && rHeadTs <= lTs))) {
            if (rHeadKey == lKey) {
              lastMatch = payloadProj(rHead).copy() // buffer exactly one row
              lastMatchKey = lKey
            }
            advanceRight()
          }
          val matched = lastMatch != null && lastMatchKey == lKey
          outProj(joined(l, if (matched) lastMatch else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: logical as-of join → the merge-sweep physical form. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, lt, rk, rt, pay) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, pay) :: Nil
    case _ => Nil
  }
}

object AsOfJoin {

  /** `left` asof-joined to `right` on equal `key` with the last
    * `right.ts <= left.ts`; `payload` names the right columns to
    * append. Key and ts columns must be LongType on both sides.
    * Ties: when several right rows share the matching (key, ts), the
    * one with the greatest payload tuple (orderable payload columns,
    * in declaration order) wins — deterministic because those columns
    * are part of the operator's required child ordering. */
  def joinAsOf(left: DataFrame, right: DataFrame, key: String, ts: String,
               payload: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    def attr(df: DataFrame, name: String): Attribute = {
      val a = df.queryExecution.analyzed.output.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"column $name not found"))
      require(a.dataType == LongType, s"$name must be BIGINT, got ${a.dataType.simpleString}")
      a
    }
    // hand-built plans bypass the analyzer's join-side deduplication,
    // so a right side derived from the same scan as the left would
    // carry the SAME exprIds (the self-join trap) — re-alias every
    // right column to fresh ids first
    val rightFresh = right.select(right.columns.map(c => col(c).as(c)): _*)
    val l = left.queryExecution.analyzed
    val r = rightFresh.queryExecution.analyzed
    val rOut = r.output
    val pay = payload.map(n => rOut.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"payload column $n not found")))
    GraftSqlBridge.ofRows(spark,
      AsOfJoinPlan(l, r, attr(left, key), attr(left, ts),
        attr(rightFresh, key), attr(rightFresh, ts), pay))
  }
}
