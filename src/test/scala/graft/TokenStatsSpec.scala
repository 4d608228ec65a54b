package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Equivalence contract of the one-pass token-stats kernel: for any
  * string, `graft_token_stats(s)` must equal the composed
  * explode + (doc, token) aggregate it replaces — including the
  * deterministic tie-break on the modal token (binary-least) and the
  * single-empty-token behavior of `split("", " ")`.
  */
class TokenStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def viaNative(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "s")
      .select(col("id"), call_function("graft_token_stats", col("s")).as("st"))
      .select(col("id"), col("st.n_tokens"), col("st.n_distinct"), col("st.sumsq"),
        col("st.max_count"), col("st.top_token"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
  }

  private def viaExplode(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "s")
      .select(col("id"), explode(split(col("s"), " ", -1)).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("mc", max(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("d"), sum(col("c") * col("c")).as("sq"),
        max(col("c")).as("mc"), min(when(col("c") === col("mc"), col("tok"))).as("top"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
  }

  test("matches the explode+aggregate form on random token streams") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "aa", "ab", "the", "zz", "ünïcode", "日本", "x1", "0")
    val texts = (0 until 300).map { _ =>
      Seq.fill(1 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    assert(viaNative(texts) == viaExplode(texts))
  }

  test("edge cases: empty string, single token, all-same, modal tie") {
    val texts = Seq(
      "",            // one empty token: n=1, d=1, top=""
      "only",        // n=1
      "x x x x",     // dominance 1
      "b a b a",     // tie at c=2: top must be "a" (binary-least)
      "ø a ø a")     // multi-byte vs ascii tie: "a" < "ø" in UTF-8 order
    val n = viaNative(texts)
    assert(n == viaExplode(texts))
    assert(n(0L) == ((1L, 1L, 1L, 1L, "")))
    assert(n(3L)._5 == "a")
    assert(n(4L)._5 == "a")
  }

  test("rejects non-string input at analysis time") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq(1L).toDF("v").select(call_function("graft_token_stats", col("v"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"))
  }
}
