package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Native Catalyst expression: `graft_dbits(x)` maps a double to a
  * SIGNED long whose `<` order equals Spark's double ordering
  * (−Inf < … < −0.0 < +0.0 < … < +Inf < NaN) — the standard
  * radix-sort bit twiddle: positives keep their IEEE bits (already
  * ascending), negatives complement-and-flip so bigger magnitudes go
  * more negative, and `doubleToLongBits` canonicalizes NaN. SQL has
  * no raw-bits builtin, so distributed exact selection over doubles
  * ([[graft.operators.ExactPercentiles]]) needs this 3-instruction
  * kernel to do rank-narrowing in an integer domain where range
  * splitting is exact. */
case class DBitsExpr(child: Expression) extends UnaryExpression {
  require(child != null)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dbits"

  // the interpreted path casts to Double while codegen would silently
  // widen ints (eval/codegen divergence) — gate at analysis instead
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_dbits requires a double input, got ${other.catalogString} — " +
        "cast explicitly, e.g. CAST(x AS DOUBLE)")
  }

  override protected def nullSafeEval(input: Any): Any =
    DBitsExpr.ordered(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DBitsExpr.ordered($c)")

  override protected def withNewChildInternal(newChild: Expression): DBitsExpr =
    copy(child = newChild)
}

object DBitsExpr {
  /** Order-preserving double → signed long. +0.0 → 0; −0.0 → −1 (so
    * −0.0 < +0.0, matching Spark's total order for sorting). */
  def ordered(x: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(x)
    if (b >= 0) b else ~b ^ Long.MinValue
  }
}

object DBits {
  def ordered(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dbits", c)
}
