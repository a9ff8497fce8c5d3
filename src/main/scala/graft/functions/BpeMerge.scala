package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One BPE merge round applied to a token array: every LEFT-TO-RIGHT,
  * non-overlapping adjacent occurrence of (a, b) is replaced by the
  * concatenated symbol `ab` (Sennrich et al., ACL'16 — the rewrite that
  * runs between pair-count rounds when training a BPE vocabulary).
  * Left-to-right greedy matters only when a == b: in a run `a a a` the
  * first two merge and the third survives, exactly what a sequential
  * trainer does. Single fused pass per row (the same kernel discipline
  * as ShingleHashes); the q105 oracle reproduces the identical
  * semantics in DuckDB via gaps-and-islands run parity over exploded
  * token positions.
  */
case class BpeMerge(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_merge"

  override protected def nullSafeEval(toks: Any, a: Any, b: Any): Any =
    BpeMerge.merge(toks.asInstanceOf[ArrayData],
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, a, b) =>
      s"${ev.value} = graft.functions.BpeMerge.merge($t, $a, $b);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BpeMerge =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BpeMerge {

  /** The fused rewrite loop (static so generated code stays one call). */
  def merge(arr: ArrayData, a: UTF8String, b: UTF8String): GenericArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      val cur = arr.getUTF8String(i)
      if (i + 1 < n && cur.equals(a) && arr.getUTF8String(i + 1).equals(b)) {
        out.add(UTF8String.concat(a, b))
        i += 2
      } else {
        out.add(cur)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Column wrapper. */
  def apply(toks: Column, a: Column, b: Column): Column =
    call_function("bpe_merge", toks, a, b)
}
