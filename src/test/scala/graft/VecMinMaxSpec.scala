package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Equivalence contract of the native element-wise min/max aggregate:
  * for every position, `graft_vecminmax(v).mins[i]` / `.maxs[i]` must
  * equal `min(v[i])` / `max(v[i])` of the posexplode formulation it
  * replaces, independent of partitioning (double min/max is exact and
  * merge-order-free).
  */
class VecMinMaxSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def viaExplode(df: org.apache.spark.sql.DataFrame) =
    df.select(col("g"), posexplode(col("v")).as(Seq("pos0", "x")))
      .groupBy(col("g"), col("pos0"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => ((r.getLong(0), r.getInt(1)), (r.getDouble(2), r.getDouble(3)))).toMap

  private def viaNative(df: org.apache.spark.sql.DataFrame) = {
    df.groupBy(col("g"))
      .agg(call_function("graft_vecminmax", col("v")).as("mm"))
      .select(col("g"), posexplode(expr("zip_with(mm.mins, mm.maxs, (a, b) -> struct(a AS mn, b AS mx))"))
        .as(Seq("pos0", "m")))
      .select(col("g"), col("pos0"), col("m.mn"), col("m.mx"))
      .collect().map(r => ((r.getLong(0), r.getInt(1)), (r.getDouble(2), r.getDouble(3)))).toMap
  }

  test("matches the posexplode min/max on random vectors at any partitioning") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      (i.toLong % 5, Array.fill(16)(rnd.nextDouble() * 1e3 - 500))
    }
    import spark.implicits._
    for (parts <- Seq(1, 7)) {
      val df = rows.toDF("g", "v").repartition(parts)
      val (n, e) = (viaNative(df), viaExplode(df))
      assert(n == e, s"native min/max diverges from posexplode at $parts partitions")
    }
  }

  test("ragged vectors, signed zeros, and null elements keep posexplode semantics") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq[Option[Double]](Some(-0.0), Some(1.0))),
      (0L, Seq[Option[Double]](Some(0.0), Some(-1.0), Some(5.0))),
      (0L, Seq[Option[Double]](None, Some(2.0)))
    ).toDF("g", "v").select(col("g"), col("v").cast("array<double>").as("v"))
    val r = df.groupBy(col("g"))
      .agg(call_function("graft_vecminmax", col("v")).as("mm"))
      .select(col("mm.mins").as("mns"), col("mm.maxs").as("mxs"))
      .collect().head
    val mns = r.getSeq[Any](0)
    val mxs = r.getSeq[Any](1)
    // min(-0.0, 0.0): either zero is an acceptable exact min — both
    // engines compare them equal; pin magnitude, not sign
    assert(math.abs(mns.head.asInstanceOf[Double]) == 0.0 && mxs.head == 0.0)
    assert(mns(1) == -1.0 && mxs(1) == 2.0)
    assert(mns(2) == 5.0 && mxs(2) == 5.0)
  }

  test("array<float> input is an analysis error with a cast hint, never reinterpreted") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0f, 2.0f))).toDF("g", "v")
    val e = intercept[Exception] {
      df.groupBy(col("g")).agg(call_function("graft_vecminmax", col("v"))).collect()
    }
    assert(e.getMessage.contains("array<double>") || e.getMessage.contains("cast"),
      s"expected a typed analysis failure, got: ${e.getMessage}")
  }

  test("sq8 ADC ranking recovers most of the brute top-5") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val probes = emb.filter(col("vec_id") < 10).select(col("vec_id"))
    val brute = similarity.AnnApi.bruteTopK(emb, "vec_id", "embedding", probes)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val sq8 = similarity.AnnApi.sq8TopK(emb, "vec_id", "embedding", probes)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & sq8).size.toDouble / brute.size
    // 8-bit/dim quantization is near-lossless on 64-dim unit vectors —
    // far above the house ANN floors (LSH 0.15, PQ 0.3)
    assert(recall >= 0.8, s"SQ8 recall@5 $recall below floor")
  }
}
