package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Equivalence contract of the native outer-product aggregate: for
  * every dimension pair i ≤ j, `graft_outer_sum_dec(v)` must equal
  * `sum(CAST(a.x * b.x AS DECIMAL(28,12)))` + pair count of the
  * posexplode self-join formulation it replaces — same per-pair
  * double product, same decimal cast, exact decimal sum — independent
  * of partitioning.
  */
class OuterSumDecSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def viaExplode(df: org.apache.spark.sql.DataFrame) = {
    val x = df.select(col("g"), col("id"), posexplode(col("v")).as(Seq("pos0", "x")))
      .select(col("g"), col("id"), (col("pos0") + 1).as("i"), col("x"))
    x.as("a").join(x.as("b"),
        col("a.g") === col("b.g") && col("a.id") === col("b.id") && col("a.i") <= col("b.i"))
      .groupBy(col("a.g").as("g"), col("a.i").as("i"), col("b.i").as("j"))
      .agg(sum((col("a.x") * col("b.x")).cast(DecimalType(28, 12))).as("s"),
        count(lit(1)).as("c"))
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), (r.getDecimal(3), r.getLong(4))))
      .toMap
  }

  private def viaNative(df: org.apache.spark.sql.DataFrame) = {
    df.groupBy(col("g"))
      .agg(call_function("graft_outer_sum_dec", col("v")).as("so"))
      .select(col("g"), explode(col("so")).as("c"))
      .select(col("g"), col("c.i"), col("c.j"), col("c.sum"), col("c.cnt"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt), (r.getDecimal(3), r.getLong(4))))
      .toMap
  }

  private def assertSame(
      native: Map[(Long, Int, Int), (java.math.BigDecimal, Long)],
      exploded: Map[(Long, Int, Int), (java.math.BigDecimal, Long)]): Unit = {
    assert(native.keySet == exploded.keySet)
    for ((k, (s, c)) <- exploded) {
      val (ns, nc) = native(k)
      assert(nc == c, s"pair $k: native count $nc != join count $c")
      assert((ns == null && s == null) || (ns != null && s != null && ns.compareTo(s) == 0),
        s"pair $k: native $ns != sum $s")
    }
  }

  test("matches the posexplode self-join on random vectors at any partitioning") {
    val rnd = new scala.util.Random(19)
    val rows = (0 until 200).map { i =>
      (i.toLong % 3, i.toLong, Array.fill(8)(rnd.nextDouble() * 2 - 1))
    }
    import spark.implicits._
    for (parts <- Seq(1, 5)) {
      val df = rows.toDF("g", "id", "v").repartition(parts)
      assertSame(viaNative(df), viaExplode(df))
    }
  }

  test("ragged vectors: short rows contribute only to their covered pairs") {
    import spark.implicits._
    val df = Seq(
      (0L, 0L, Array(1.0, 2.0, 3.0)),
      (0L, 1L, Array(4.0, 5.0)),
      (0L, 2L, Array(6.0)))
      .toDF("g", "id", "v").repartition(2)
    assertSame(viaNative(df), viaExplode(df))
  }

  test("rejects non-double arrays at analysis time") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq((1L, Array(1.0f))).toDF("g", "v")
        .groupBy(col("g")).agg(call_function("graft_outer_sum_dec", col("v"))).collect()
    }
    assert(e.getMessage.contains("array<double>"))
  }
}
