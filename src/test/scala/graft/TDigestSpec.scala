package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** t-digest sketch properties (r9): rank-error envelope on planted and
  * skewed data, partition/merge-order robustness, bounded centroid
  * count, weight conservation, and tail accuracy — the published
  * contracts of Dunning & Ertl 2019 at δ = 200. */
class TDigestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rankOf(sorted: Array[Double], v: Double): Double = {
    val i = java.util.Arrays.binarySearch(sorted, v)
    val pos = if (i >= 0) i else -(i + 1)
    pos.toDouble / sorted.length
  }

  test("uniform 0..9999: quantile estimates land within 1% rank of exact") {
    val df = spark.range(0, 10000).selectExpr("CAST(id AS DOUBLE) AS x")
    val dig = df.agg(expr("graft_tdigest(x, 200)").as("d"))
    val qs = Seq(0.01, 0.1, 0.5, 0.9, 0.99, 0.999)
    val est = dig.selectExpr(qs.map(q => s"graft_tdigest_quantile(d, $q)"): _*)
      .collect().head
    val sorted = (0 until 10000).map(_.toDouble).toArray
    qs.zipWithIndex.foreach { case (q, i) =>
      val r = rankOf(sorted, est.getDouble(i))
      assert(math.abs(r - q) <= 0.01, f"q=$q: est=${est.getDouble(i)} rank=$r%.4f")
    }
  }

  test("partitioning cannot push an estimate outside the envelope; weights conserve") {
    // lognormal-ish skew from a deterministic hash (no Random in tests)
    val df = spark.range(0, 20000)
      .selectExpr("exp(CAST(pmod(hash(id), 1000) AS DOUBLE) / 120.0) AS x")
      .localCheckpoint(true)
    val exact = df.selectExpr(
      "percentile(x, array(0.49, 0.5, 0.51, 0.98, 0.99, 0.995))").collect().head
      .getSeq[Double](0)
    for (parts <- Seq(1, 7, 32)) {
      val d = df.repartition(parts).agg(expr("graft_tdigest(x, 200)").as("d"))
      val r = d.selectExpr(
        "graft_tdigest_quantile(d, 0.5) AS m",
        "graft_tdigest_quantile(d, 0.99) AS t",
        "aggregate(d, CAST(0 AS BIGINT), (acc, c) -> acc + c.w) AS n").collect().head
      assert(r.getLong(2) == 20000L, s"parts=$parts: weight must conserve, got ${r.getLong(2)}")
      assert(r.getDouble(0) >= exact(0) && r.getDouble(0) <= exact(2),
        s"parts=$parts: median ${r.getDouble(0)} outside [${exact(0)}, ${exact(2)}]")
      assert(r.getDouble(1) >= exact(3) && r.getDouble(1) <= exact(5),
        s"parts=$parts: p99 ${r.getDouble(1)} outside [${exact(3)}, ${exact(5)}]")
    }
  }

  test("centroid count stays bounded (the fixed-size-summary contract)") {
    val df = spark.range(0, 50000).selectExpr("CAST(id AS DOUBLE) AS x")
    val n = df.repartition(32).agg(expr("size(graft_tdigest(x, 200))").as("n"))
      .collect().head.getInt(0)
    assert(n <= 4 * 200, s"centroid count must stay O(delta): $n")
    assert(n >= 50, s"a 50k-point digest should hold many centroids: $n")
  }

  test("single-value and tiny inputs are exact") {
    import spark.implicits._
    val one = Seq(42.0).toDF("x")
    assert(one.agg(expr("graft_tdigest_quantile(graft_tdigest(x, 200), 0.5)"))
      .collect().head.getDouble(0) == 42.0)
    val five = Seq(1.0, 2.0, 3.0, 4.0, 5.0).toDF("x")
    val med = five.agg(expr("graft_tdigest_quantile(graft_tdigest(x, 200), 0.5)"))
      .collect().head.getDouble(0)
    assert(med == 3.0, s"5 distinct points fit 5 centroids; median must be exact: $med")
  }

  test("graft_tdigest over a DECIMAL column works (no Number cast crash)") {
    // regression (r9 advice): Spark's Decimal is not a java.lang.Number,
    // so aggregating a raw DECIMAL column (e.g. l_extendedprice without
    // the gated query's CAST AS DOUBLE) used to throw ClassCastException
    val df = spark.range(1, 101).selectExpr("CAST(id AS DECIMAL(12,2)) AS x")
    val med = df.agg(expr("graft_tdigest_quantile(graft_tdigest(x, 200), 0.5)"))
      .collect().head.getDouble(0)
    assert(med >= 45.0 && med <= 56.0, s"decimal median off: $med")
  }
}
