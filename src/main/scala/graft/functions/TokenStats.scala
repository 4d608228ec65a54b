package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: one-pass per-document token frequency
  * statistics — `graft_token_stats(s)` over a whitespace-normalized
  * string returns
  * `struct<n_tokens:long, n_distinct:long, sumsq:long, max_count:long,
  * top_token:string>` where `sumsq = Σ c_t²` over per-token counts
  * (the Simpson-index numerator), `max_count` the modal count, and
  * `top_token` the lexicographically-least token among those at
  * `max_count` (deterministic tie-break, binary UTF-8 order — the
  * collation DuckDB's `min()` uses, so the oracle agrees exactly).
  *
  * The composed form needs `explode` + a (doc_id, token) hash
  * aggregate — a full shuffle of the corpus's token volume. This
  * kernel keeps the whole computation inside the row (~n_tokens map
  * operations on UTF8String slices, zero copies except the returned
  * top token), so lexical-diversity scoring is map-only at any corpus
  * size. Tokens are maximal runs between single 0x20 bytes, matching
  * `split(normText(text), ' ')` — including the empty token a
  * zero-length input yields (`string_split('', ' ') = ['']` in the
  * oracle too, so both engines count 1 token).
  */
case class TokenStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("sumsq", LongType, nullable = false),
    StructField("max_count", LongType, nullable = false),
    StructField("top_token", StringType, nullable = false)))
  override def prettyName: String = "graft_token_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_token_stats requires a string input, got ${other.catalogString} — " +
        "cast explicitly, e.g. CAST(s AS STRING)")
  }

  override protected def nullSafeEval(input: Any): Any =
    TokenStatsExpr.stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenStatsExpr.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenStatsExpr =
    copy(child = newChild)
}

object TokenStatsExpr {
  /** Mutable count box so each map update is one lookup, no unboxing
    * churn on hot tokens. */
  private final class Cnt { var c: Long = 0L }

  def stats(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val counts = new java.util.HashMap[UTF8String, Cnt]()
    var n = 0L
    var from = 0
    var i = 0
    val len = bytes.length
    while (i <= len) {
      if (i == len || bytes(i) == ' ') {
        val tok = UTF8String.fromBytes(bytes, from, i - from)
        var box = counts.get(tok)
        if (box == null) { box = new Cnt; counts.put(tok, box) }
        box.c += 1
        n += 1
        from = i + 1
      }
      i += 1
    }
    var sumsq = 0L
    var maxc = 0L
    var top: UTF8String = null
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue.c
      sumsq += c * c
      if (c > maxc || (c == maxc && e.getKey.compareTo(top) < 0)) {
        maxc = c
        top = e.getKey
      }
    }
    new GenericInternalRow(Array[Any](n, counts.size.toLong, sumsq, maxc, top))
  }
}

object TokenStats {
  def of(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_token_stats", c)
}
