package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: `graft_zorder(x, y)` — the Morton
  * (Z-order) interleave of two keys' low 31 bits (x on even bit
  * positions, y on odd; result < 2^62, sign-safe in both engines).
  * Inputs are masked to 31 bits (`& 0x7FFFFFFF`) — callers normalize
  * dimensions into that range first (rank/bucket/epoch-day), and the
  * oracle applies the identical mask.
  *
  * Why this exists: sorting a table by ONE column clusters min/max
  * file statistics for that column only — a predicate on a second
  * column prunes nothing. Writing data ordered by the interleaved key
  * keeps BOTH dimensions locally clustered (each file covers a small
  * rectangle of the key space instead of a full-width stripe), so
  * parquet row-group/file skipping works for predicates on either or
  * both columns — the standard layout technique for multi-dimension
  * scan pruning at 100 TB (`ZOrderSpec` measures the bounding-box
  * shrinkage vs a single-column sort on real files). The interleave
  * is 12 shift-mask ops via the classic bit-spreading sequence — one
  * codegen'd primitive expression, no UDF.
  */
case class ZOrderExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "graft_zorder"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_zorder requires two bigint inputs, got ${l.catalogString}, ${r.catalogString} — " +
          "cast explicitly, e.g. CAST(x AS BIGINT)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ZOrderExpr.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ZOrderExpr.interleave($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrderExpr =
    copy(left = newLeft, right = newRight)
}

object ZOrderExpr {
  /** Spread the low 31 bits of v to the even bit positions of a long
    * (the classic mask sequence). */
  private def spread(v0: Long): Long = {
    var v = v0 & 0x7FFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  def interleave(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)
}

object ZOrder {
  def zkey(x: Column, y: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_zorder", x, y)

  /** The matching DuckDB-dialect oracle expression (31 interleaved
    * bit terms, same 31-bit mask — shifts stay ≤ 61, sign-safe).
    * Every term is FULLY parenthesized: SQL gives `<<` lower
    * precedence than `+`, so unparenthesized `a << 0 + b << 1`
    * parses as `a << (0 + b) << 1`. */
  def zkeySql(x: String, y: String): String = {
    val terms = (0 until 31).flatMap { i =>
      Seq(s"((((($x) & 2147483647) >> $i) & 1) << ${2 * i})",
        s"((((($y) & 2147483647) >> $i) & 1) << ${2 * i + 1})")
    }
    s"CAST(${terms.mkString(" + ")} AS BIGINT)"
  }
}
