package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash over a string's Unicode code points,
  * h = (h*31 + codepoint) mod (2^31 - 1) — document fingerprinting for
  * the training-data pipeline (cheaper than md5, order-sensitive).
  *
  * Mod-prime (not wrapping-64-bit) arithmetic so a DuckDB oracle computes
  * the identical value with overflow-checked BIGINTs:
  * `list_reduce(list_concat([0], list_transform(string_split(s, ''),
  *    c -> unicode(c))), (a, b) -> (a * 31 + b) % 2147483647)`.
  *
  * Implemented as a native Catalyst Expression with codegen so it stays
  * inside WholeStageCodegen (no UDF serialization, no codegen fallback) —
  * the preferred extension point when built-ins can't express the op.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % 2147483647L
      i += Character.charCount(cp)
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      s"""
         |String $s = $c.toString();
         |long ${ev.value}_h = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  ${ev.value}_h = (${ev.value}_h * 31L + $cp) % 2147483647L;
         |  $i += Character.charCount($cp);
         |}
         |${ev.value} = ${ev.value}_h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  /** Column wrapper (the Column companion / expression converter are
    * private[sql] in Spark 4, so `call_function` on the name
    * `GraftExtensions` injects is the public bridge).
    */
  def apply(c: Column): Column = call_function("rolling_hash", c)

  /** DuckDB SQL mirror of the hash over an arbitrary string expression.
    * The fold seed is CAST AS BIGINT so `a * 31` stays in 64-bit range
    * (DuckDB integer arithmetic is overflow-checked, not wrapping).
    */
  def oracleSql(e: String): String =
    s"list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(string_split($e, ''), c -> unicode(c))), (a, b) -> (a * 31 + b) % 2147483647)"
}
