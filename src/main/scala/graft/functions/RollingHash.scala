package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 64-bit-safe polynomial rolling hash
  * over the codepoints of a string, `h := (h*31 + cp) mod m`.
  *
  * Participates in whole-stage codegen via `doGenCode` (a static Java
  * method call — no boxing, no UDF serialization), so fingerprinting
  * stays inside the generated loop at 100 TB scale. Cross-checked
  * against the DuckDB fold oracle in `text_fingerprint`.
  */
case class RollingHashExpr(child: Expression, mod: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_hash"

  override protected def nullSafeEval(input: Any): Any =
    RollingHashExpr.hash(input.asInstanceOf[UTF8String].toString, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingHashExpr.hash($c.toString(), ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): RollingHashExpr =
    copy(child = newChild)
}

object RollingHashExpr {
  def hash(s: String, mod: Long): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % mod
      i += Character.charCount(cp)
    }
    h
  }
}

object RollingHash {
  /** Column API, routed through the registered function name — keeps
    * us off the non-public Column(Expression) constructors in Spark 4. */
  def rollingHash(c: Column, mod: Long): Column =
    org.apache.spark.sql.functions.call_function(
      "graft_rolling_hash", c, org.apache.spark.sql.functions.lit(mod))
}
