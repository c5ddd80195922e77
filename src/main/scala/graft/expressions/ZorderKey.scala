package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._

/** Z-order (Morton) curve key: interleaves the low 31 bits of two long
  * keys into a 62-bit (always non-negative) curve position, the
  * multi-dimensional clustering key used for data LAYOUT at scale —
  * write a 100 TB table sorted by `zorder_key(a, b)` and range pruning
  * works on BOTH dimensions from one sort order (the same idea as
  * Delta/Iceberg Z-ordering; see Morton 1966 and the
  * DataBricks/Iceberg public docs).
  *
  * Domain: each input is taken modulo 2^31 (low 31 bits). Keys that
  * differ only above bit 30 alias to the same curve position — layout
  * quality (not correctness) degrades; quantize such a dimension to a
  * 31-bit rank or bucket first. 31 bits covers e.g. TPC-H partkey
  * through sf10000 (2 B parts); the cap keeps the result non-negative
  * so plain ascending BIGINT ordering is curve ordering.
  *
  * The interleave is the classic magic-number bit spread — O(1), no
  * loop, fully inside whole-stage codegen via a static call.
  */
case class ZorderKey(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"zorder_key expects (bigint, bigint), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    ZorderKey.interleave31(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.ZorderKey.interleave31($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZorderKey =
    copy(left = newLeft, right = newRight)
}

object ZorderKey {

  /** Spread the low 31 bits of v to even bit positions 0,2,…,60. */
  def spread31(v0: Long): Long = {
    var v = v0 & 0x7FFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  /** x in even bits, y in odd bits; always >= 0 (top bit unused). */
  def interleave31(x: Long, y: Long): Long =
    spread31(x) | (spread31(y) << 1)
}
