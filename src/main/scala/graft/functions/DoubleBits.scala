package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Raw IEEE-754 bits of a double as a BIGINT
  * (`Double.doubleToRawLongBits`) — the primitive behind order-preserving
  * radix bucketing (ops.RankSelect): flip all bits of negatives / the
  * sign bit of non-negatives and the UNSIGNED long order equals the
  * double order, so a value's top bits are a pure-function histogram
  * bucket that needs no data-dependent bounds metadata.
  */
case class DoubleBits(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "double_bits"

  override protected def nullSafeEval(v: Any): Any =
    java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"java.lang.Double.doubleToRawLongBits($v)")

  override protected def withNewChildInternal(newChild: Expression): DoubleBits =
    copy(child = newChild)
}

object DoubleBits {
  /** Non-double inputs (ints, floats, decimals) are cast up front — the
    * expression itself evaluates raw doubles only. The registry builder
    * sees unresolved children, so the cast is unconditional; Catalyst's
    * SimplifyCasts erases it when the input is already a double.
    */
  def withCast(e: Expression): DoubleBits = DoubleBits(Cast(e, DoubleType))

  /** Column wrapper. */
  def apply(v: Column): Column = call_function("double_bits", v)
}
