package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The one table of graft's native SQL functions. Sessions built with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (every
  * `Sessions.local` session) get all of them once, through
  * `injectFunction`; Spark copies the registry into each clone and
  * child session. [[ensure]] covers sessions built without the
  * extension. */
object Natives {
  val all: Seq[(String, FunctionBuilder)] = Seq(
    "graft_bloom_agg" -> { e =>
      val m = e(1) match {
        case Literal(v: Int, IntegerType) if v >= 64 && v % 64 == 0 => v.toLong
        case Literal(v: Long, LongType) if v >= 64 && v % 64 == 0 => v
        case other => sys.error(
          s"graft_bloom_agg: mBits must be an int literal >= 64 and a multiple of 64, got $other")
      }
      BloomAgg(e.head, m, intLit("graft_bloom_agg", "k", e(2), 1, 32)).toAggregateExpression()
    },
    "graft_bloom_contains" -> (e => BloomContainsExpr(e(0), e(1))),
    "graft_dbits" -> (e => DBitsExpr(e.head)),
    "graft_dot" -> (e => DotExpr(e(0), e(1))),
    "graft_kmv" -> (e => KMinValues(e.head, intLit("graft_kmv", "k", e(1), 16)).toAggregateExpression()),
    "graft_minhash_sigs" -> (e => MinhashSigsExpr(e.head)),
    "graft_ngrams" -> (e => NgramsExpr(e.head, intLit("graft_ngrams", "n", e(1), 1))),
    "graft_outer_sum_dec" -> (e => OuterSumDec(e.head).toAggregateExpression()),
    "graft_rolling_hash" -> { e =>
      val mod = e(1) match {
        case Literal(v: Long, LongType) => v
        case Literal(v: Int, _) => v.toLong
        case other => sys.error(s"graft_rolling_hash: mod must be a literal, got $other")
      }
      RollingHashExpr(e.head, mod)
    },
    "graft_simhash" -> (e => SimhashExpr(e.head, intLit("graft_simhash", "bits", e(1), 1, 63))),
    "graft_sorted_inter_size" -> (e => SortedInterSizeExpr(e(0), e(1))),
    "graft_tdigest" -> (e =>
      TDigestAgg(e.head, intLit("graft_tdigest", "delta", e(1), 10)).toAggregateExpression()),
    "graft_tdigest_quantile" -> (e => TDigestQuantile(e.head, e(1))),
    "graft_token_stats" -> (e => TokenStatsExpr(e.head)),
    "graft_topk_sketch" -> (e =>
      TopKSketch(e.head, intLit("graft_topk_sketch", "k", e(1), 1)).toAggregateExpression()),
    "graft_vecminmax" -> (e => VecMinMax(e.head).toAggregateExpression()),
    "graft_vecsum_dec" -> (e => VecSumDec(e.head).toAggregateExpression()),
    "graft_winnow" -> (e =>
      WinnowExpr(e.head, intLit("graft_winnow", "k", e(1), 1), intLit("graft_winnow", "w", e(2), 1))),
    "graft_word_shingles" -> (e => WordShinglesExpr(e.head, intLit("graft_word_shingles", "k", e(1), 1))),
    "graft_zorder" -> (e => ZOrderExpr(e(0), e(1))))

  /** `injectFunction`'s form of [[all]]. */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    all.map { case (name, b) =>
      (FunctionIdentifier(name), new ExpressionInfo(b.getClass.getCanonicalName, name), b)
    }

  /** Register every missing native on a session built without the
    * extension. The session's own registry is the only record of what
    * is registered, and the check and the registration share one lock,
    * so no caller can see a name as present before it resolves. */
  def ensure(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    for ((id, info, b) <- descriptions if !registry.functionExists(id))
      registry.registerFunction(id, info, b)
  }

  /** An int literal argument in `[min, max]`. */
  private def intLit(fn: String, arg: String, e: Expression, min: Int,
      max: Int = Int.MaxValue): Int = e match {
    case Literal(v: Int, IntegerType) if v >= min && v <= max => v
    case other =>
      val range = if (max == Int.MaxValue) s">= $min" else s"in [$min,$max]"
      sys.error(s"$fn: $arg must be an int literal $range, got $other")
  }
}
