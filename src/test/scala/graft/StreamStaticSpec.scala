package graft

import java.nio.file.Files
import java.sql.Timestamp
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Stream–static join: a stream enriched against a static dimension —
  * the most common streaming pattern (no state store needed; the
  * static side is simply joined per microbatch, broadcast when small). */
class StreamStaticSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("stream enriched with a static dimension per microbatch") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-ss-static").toString
    Seq(
      Streams.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Streams.Event(2, ts("2024-01-01 10:01:00"), 2, "view", 2.0),
      Streams.Event(3, ts("2024-01-01 10:02:00"), 99, "click", 3.0) // no dim row
    ).toDF().write.parquet(s"$in/b0")

    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")

    val q = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Streams.Event]].schema)
      .parquet(s"$in/*")
      .join(broadcast(dim), Seq("user_id"), "left")
      .select(col("event_id"), coalesce(col("tier"), lit("unknown")).as("tier"))
      .writeStream.format("memory").queryName("ss_static_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val out = spark.table("ss_static_out")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "gold"), (2L, "silver"), (3L, "unknown")), out.toString)
  }

  test("noveltyStream: windowed new-shingle fraction vs the corpus table, distinct across microbatches, batch parity (r10)") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-novelty-in").toString
    // corpus: one doc -> 3 shingles (k = 5)
    val corpus = Seq((100L, "alpha beta gamma delta epsilon zeta eta")).toDF("doc_id", "text")
    val static = Streams.corpusShingleTable(corpus).localCheckpoint(true)
    assert(static.count() == 3)
    // window 10:00 split ACROSS two microbatches with an overlapping
    // shingle (doc 1's and doc 2's first shingle are identical — the
    // cross-batch distinct must count it once)
    val b1 = Seq((1L, ts("2024-01-01 10:05:00"), "alpha beta gamma delta epsilon zeta"))
    val b2 = Seq(
      (2L, ts("2024-01-01 10:40:00"), "alpha beta gamma delta epsilon noveltoken"),
      (3L, ts("2024-01-01 11:10:00"), "one two three four five six"))
    val b3 = Seq((9L, ts("2024-01-01 20:00:00"), "closer doc with enough tokens here")) // advances watermark
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "ts", "text").coalesce(1).write.parquet(f"$in/b$i%03d")
    }
    val stream = spark.readStream
      .schema(Seq((0L, ts("2024-01-01 00:00:00"), "")).toDF("doc_id", "ts", "text").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
    val q = Streams.noveltyStream(stream, static)
      .writeStream.format("memory").queryName("novelty_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("novelty_out")
      .collect().map(r => r.getTimestamp(0).toString -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // window 10: shingles {(a..eps), (b..zeta), (b..novel)} = 3 distinct
    // (the duplicated first shingle counted ONCE across batches), 1 new
    assert(rows("2024-01-01 10:00:00.0") == ((3L, 1L, 1.0 / 3)), rows.toString)
    // window 11: both shingles novel
    assert(rows("2024-01-01 11:00:00.0") == ((2L, 2L, 1.0)), rows.toString)
    assert(!rows.contains("2024-01-01 20:00:00.0"), "open window must not emit")
    // batch parity: the same computation over the union of all batches
    val batchDocs = spark.read.parquet(s"$in/*")
    val batch = batchDocs
      .select(date_trunc("hour", col("ts")).as("w"), explode(
        functions.WordShingles.hashes(Portable.normText(col("text")), 5)).as("h"))
      .distinct()
      .join(static.select(col("h"), lit(1L).as("known")), Seq("h"), "left")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"), sum(when(col("known").isNull, 1L).otherwise(0L)).as("nn"))
      .collect().map(r => r.getTimestamp(0).toString -> ((r.getLong(1), r.getLong(2)))).toMap
    rows.foreach { case (w, (n, nn, _)) =>
      assert(batch(w) == ((n, nn)), s"batch parity broke at $w: ${batch(w)} vs ($n, $nn)") }
  }

  test("oovStream: occurrence-weighted OOV rate vs the published vocab, counts merge across microbatches, batch parity (r11)") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-oov-in").toString
    val vocab = Seq("alpha", "beta").toDF("tok").localCheckpoint(true)
    // window 10:00 split across two microbatches: occurrences
    // {alpha, beta, zork, zork, alpha} → 5 tokens, 2 OOV (zork twice —
    // occurrence-weighted, NOT distinct); window 11: all in-vocab
    val b1 = Seq((1L, ts("2024-01-01 10:05:00"), "alpha beta zork"))
    val b2 = Seq(
      (2L, ts("2024-01-01 10:40:00"), "zork alpha"),
      (3L, ts("2024-01-01 11:10:00"), "beta beta"))
    val b3 = Seq((9L, ts("2024-01-01 20:00:00"), "alpha"))
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "ts", "text").coalesce(1).write.parquet(f"$in/b$i%03d")
    }
    val stream = spark.readStream
      .schema(Seq((0L, ts("2024-01-01 00:00:00"), "")).toDF("doc_id", "ts", "text").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
    val q = Streams.oovStream(stream, vocab)
      .writeStream.format("memory").queryName("oov_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("oov_out")
      .collect().map(r => r.getTimestamp(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows("2024-01-01 10:00:00.0") == ((5L, 2L, 0.4)), rows.toString)
    assert(rows("2024-01-01 11:00:00.0") == ((2L, 0L, 0.0)), rows.toString)
    assert(!rows.contains("2024-01-01 20:00:00.0"), "open window must not emit")
    // batch parity over the closed windows' rows
    val all = (b1 ++ b2).toDF("doc_id", "ts", "text")
    val batch = all
      .select(col("ts"), explode(split(graft.Portable.normText(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .join(vocab.select(col("tok"), lit(1L).as("hit")), Seq("tok"), "left")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).cast("long").as("o"))
      .collect().map(r => r.getStruct(0).getTimestamp(0).toString ->
        ((r.getLong(1), r.getLong(2)))).toMap
    for ((w, (n, o, _)) <- rows)
      assert(batch(w) == ((n, o)), s"batch parity broke at $w")
  }
}
