package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** KMV/theta sketch properties (r9): exactness under capacity,
  * estimator error bound, BIT-IDENTICAL partition invariance (the
  * k smallest distinct values are a unique set), and union-sketch
  * equality with the directly-built sketch of the union. */
class KmvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Mask = 9223372036854775807L

  test("under capacity the sketch IS the value set and the estimate is exact") {
    val df = spark.range(0, 500)
      .selectExpr(s"xxhash64(id) & $Mask AS h")
    val r = df.agg(expr("graft_kmv(h, 1024)").as("sk"))
      .selectExpr("size(sk) AS n", functions.KMinValues.estimateSql("sk", 1024) + " AS est")
      .collect().head
    assert(r.getInt(0) == 500 && r.getDouble(1) == 500.0)
  }

  test("estimate lands within 3 sigma (~10%) of 50k true distinct at k=1024") {
    val df = spark.range(0, 50000)
      .selectExpr(s"xxhash64(id) & $Mask AS h")
    val est = df.agg(expr("graft_kmv(h, 1024)").as("sk"))
      .selectExpr(functions.KMinValues.estimateSql("sk", 1024) + " AS est")
      .collect().head.getDouble(0)
    assert(math.abs(est - 50000) <= 0.10 * 50000, s"est = $est")
  }

  test("sketch is bit-identical under any partitioning (unique k-min set)") {
    def sk(parts: Int): Seq[Long] = spark.range(0, 30000)
      .selectExpr(s"xxhash64(id) & $Mask AS h").repartition(parts)
      .agg(expr("graft_kmv(h, 256)").as("sk"))
      .collect().head.getSeq[Long](0)
    val one = sk(1)
    assert(one.length == 256 && one == one.sorted)
    assert(sk(7) == one && sk(32) == one)
  }

  test("union of two sketches equals the sketch of the union (both regimes)") {
    import spark.implicits._
    def build(ids: Seq[Long], k: Int): Seq[Long] = ids.toDF("id")
      .selectExpr(s"xxhash64(id) & $Mask AS h")
      .agg(expr(s"graft_kmv(h, $k)").as("sk"))
      .collect().head.getSeq[Long](0)
    // full regime: two overlapping 3k-id sets at k=256
    val a = build(0L until 3000L, 256)
    val b = build(1500L until 4500L, 256)
    val whole = build(0L until 4500L, 256)
    val merged = (a ++ b).distinct.sorted.take(256)
    assert(merged == whole, "k smallest of merged retained sets must be the union's KMV")
    // exact regime: tiny disjoint sets keep everything
    val a2 = build(0L until 50L, 256)
    val b2 = build(100L until 150L, 256)
    assert((a2 ++ b2).distinct.sorted == build((0L until 50L) ++ (100L until 150L), 256))
  }

  test("theta intersection recovers a planted overlap within bound") {
    import spark.implicits._
    // A = 0..20000, B = 10000..30000: true intersection 10000
    val k = 1024
    val a = (0L until 20000L).toDF("id")
      .selectExpr(s"xxhash64(id) & $Mask AS h")
      .agg(expr(s"graft_kmv(h, $k)").as("ska"))
    val b = (10000L until 30000L).toDF("id")
      .selectExpr(s"xxhash64(id) & $Mask AS h")
      .agg(expr(s"graft_kmv(h, $k)").as("skb"))
    val hs = functions.KMinValues.HashSpace
    val thetaA = s"CASE WHEN size(ska) < $k THEN 1.0D ELSE CAST(element_at(ska, $k) AS DOUBLE) / ${hs}D END"
    val thetaB = s"CASE WHEN size(skb) < $k THEN 1.0D ELSE CAST(element_at(skb, $k) AS DOUBLE) / ${hs}D END"
    val est = a.crossJoin(b).selectExpr(
      s"""CAST(size(filter(array_intersect(ska, skb),
          x -> CAST(x AS DOUBLE) / ${hs}D < least($thetaA, $thetaB))) AS DOUBLE)
        / least($thetaA, $thetaB) AS est""")
      .collect().head.getDouble(0)
    assert(math.abs(est - 10000) <= 0.15 * 10000, s"intersection est = $est")
  }
}
