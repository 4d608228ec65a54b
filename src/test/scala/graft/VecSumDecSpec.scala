package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Equivalence contract of the native vector-sum aggregate: for every
  * position, `graft_vecsum_dec(v).sum[i]` must equal
  * `sum(CAST(v[i] AS DECIMAL(28,12)))` and `.cnt[i]` must equal
  * `count(*)` of the posexplode formulation it replaces — same
  * per-element cast, same exact decimal result — independent of
  * partitioning (decimal addition is merge-order-free).
  */
class VecSumDecSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def viaExplode(df: org.apache.spark.sql.DataFrame) =
    df.select(col("g"), posexplode(col("v")).as(Seq("pos0", "x")))
      .groupBy(col("g"), (col("pos0") + 1).as("i"))
      .agg(sum(col("x").cast(DecimalType(28, 12))).as("s"), count(lit(1)).as("c"))
      .collect().map(r => ((r.getLong(0), r.getInt(1)), (r.getDecimal(2), r.getLong(3)))).toMap

  private def viaNative(df: org.apache.spark.sql.DataFrame) = {
    df.groupBy(col("g"))
      .agg(call_function("graft_vecsum_dec", col("v")).as("sv"))
      .select(col("g"), posexplode(expr("zip_with(sv.sum, sv.cnt, (x, c) -> struct(x AS s, c AS c))"))
        .as(Seq("pos0", "sc")))
      .select(col("g"), col("pos0"), col("sc.s"), col("sc.c"))
      .collect().map(r => ((r.getLong(0), r.getInt(1) + 1), (r.getDecimal(2), r.getLong(3)))).toMap
  }

  private def assertSame(
      native: Map[(Long, Int), (java.math.BigDecimal, Long)],
      exploded: Map[(Long, Int), (java.math.BigDecimal, Long)]): Unit = {
    assert(native.keySet == exploded.keySet)
    for ((k, (s, c)) <- exploded) {
      val (ns, nc) = native(k)
      assert(nc == c, s"position $k: native count $nc != count(*) $c")
      assert((ns == null && s == null) || (ns != null && s != null && ns.compareTo(s) == 0),
        s"position $k: native $ns != sum $s")
    }
  }

  test("matches the posexplode decimal sum + count(*) on random vectors at any partitioning") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 300).map { i =>
      (i.toLong % 7, Array.fill(16)(rnd.nextDouble() * 2 - 1))
    }
    import spark.implicits._
    for (parts <- Seq(1, 5)) {
      val df = rows.toDF("g", "v").repartition(parts)
      assertSame(viaNative(df), viaExplode(df))
    }
  }

  test("extreme magnitudes keep the exact double→decimal(28,12) cast semantics") {
    import spark.implicits._
    // values whose shortest repr exercises HALF_UP rounding at scale 12
    val df = Seq(
      (0L, Array(1.0000000000005e-1, 123456789.123456789, -9.9999999999995e-3)),
      (0L, Array(2.5e-13, -2.5e-13, 0.1 + 0.2))).toDF("g", "v")
    assertSame(viaNative(df), viaExplode(df))
  }

  test("ragged and null inputs mirror posexplode row semantics, incl. the mean divisor") {
    import spark.implicits._
    val df = Seq(
      (0L, Some(Array(1.5, 2.5, 3.5))),
      (0L, Some(Array(0.25))), // shorter: contributes only position 1
      (0L, None), // null vector: no rows
      (1L, Some(Array(4.0, 5.0)))).toDF("g", "v")
    assertSame(viaNative(df), viaExplode(df.filter(col("v").isNotNull)))
    // the mean built the library way equals the posexplode mean: the
    // per-POSITION count divides, never the row count (the bug a
    // count(lit(1)) divisor would reintroduce: 1.75/2, not 1.75/3)
    val mean = df.groupBy(col("g"))
      .agg(call_function("graft_vecsum_dec", col("v")).as("sv"))
      .select(col("g"), expr("zip_with(sv.sum, sv.cnt, (x, c) -> CAST(x AS DOUBLE) / c)").as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(mean(0L) == Seq((1.5 + 0.25) / 2, 2.5, 3.5))
    assert(mean(1L) == Seq(4.0, 5.0))
  }

  test("array<float> input is an analysis error with a cast hint, never reinterpreted") {
    import spark.implicits._
    val floats = Seq((0L, Array(1.5f, 2.5f)), (0L, Array(0.5f, 1.0f))).toDF("g", "v")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      floats.groupBy(col("g"))
        .agg(call_function("graft_vecsum_dec", col("v")).as("sv"))
        .collect()
    }
    assert(e.getMessage.contains("array<double>"), e.getMessage)
    // the hinted explicit cast works and widens per element
    val out = floats
      .groupBy(col("g"))
      .agg(call_function("graft_vecsum_dec",
        expr("transform(v, x -> CAST(x AS DOUBLE))")).as("sv"))
      .select(expr("transform(sv.sum, x -> CAST(x AS DOUBLE))").as("s"))
      .collect()(0).getSeq[Double](0)
    assert(out == Seq(2.0, 3.5), s"explicitly cast float arrays must widen, got $out")
  }
}
