package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the Z-order layout tier: the interleave math (vs a
  * naive bit loop and vs the generated DuckDB-twin SQL run through
  * Spark), the analysis type gate, and the actual LAYOUT EFFECT —
  * files written in zkey order must cover dramatically smaller
  * two-dimensional bounding boxes than a single-column sort, which is
  * exactly what parquet min/max skipping prunes by.
  */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def naive(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 31) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("interleave equals the naive bit loop, masks to 31 bits, monotone on boxes") {
    val rnd = new scala.util.Random(67)
    val cases = Seq[(Long, Long)]((0, 0), (1, 0), (0, 1), (0x7FFFFFFFL, 0x7FFFFFFFL),
      (0x80000000L, 5), (-1L, 7), (Long.MaxValue, Long.MinValue)) ++
      Seq.fill(500)((rnd.nextLong(), rnd.nextLong()))
    for ((x, y) <- cases) {
      val masked = (x & 0x7FFFFFFFL, y & 0x7FFFFFFFL)
      assert(functions.ZOrderExpr.interleave(x, y) == naive(masked._1, masked._2),
        s"mismatch at ($x, $y)")
    }
    // a z-range bounds both dims: points inside a power-of-two box
    // share the box's high z-bits (the property pruning relies on)
    assert(functions.ZOrderExpr.interleave(5, 9) >> 8 ==
      functions.ZOrderExpr.interleave(7, 11) >> 8)
  }

  test("native expression equals the generated DuckDB-twin SQL") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val df = (0 until 300).map(_ => (rnd.nextInt(1 << 20).toLong, rnd.nextInt(1 << 10).toLong))
      .toDF("x", "y")
    // zkeySql is DuckDB dialect but uses only portable operators
    // (& >> << +) — running it through Spark pins both twins at once
    val twin = df.selectExpr(s"${functions.ZOrder.zkeySql("x", "y")} AS z1",
        "graft_zorder(x, y) AS z2")
      .filter(col("z1") =!= col("z2")).count()
    assert(twin == 0)
  }

  test("type gate: non-bigint inputs fail analysis with a cast hint") {
    import spark.implicits._
    val e = intercept[Exception](
      Seq(("a", 1L)).toDF("x", "y").selectExpr("graft_zorder(x, y)").collect())
    assert(e.getMessage.contains("bigint"), e.getMessage)
  }

  test("zkey layout prunes point predicates on BOTH dims; 1-D sort only on its own") {
    import spark.implicits._
    // uniform synthetic grid: equal 12-bit domains, so neither layout
    // wins by domain skinniness. The pruning metric is the real one:
    // for a point predicate on a dim, how many files' [min, max]
    // stats contain it (what parquet skipping reads).
    val rnd = new scala.util.Random(73)
    val pts = (0 until 20000).map(_ => (rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong))
      .toDF("x", "y")
    val parts = 16
    def fileRanges(sorted: org.apache.spark.sql.DataFrame, tag: String) = {
      val dir = s"/root/repo/target/graft_tmp/zorder_$tag"
      sorted.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("x")).as("xlo"), max(col("x")).as("xhi"),
          min(col("y")).as("ylo"), max(col("y")).as("yhi"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }
    def avgFilesRead(ranges: Array[(Long, Long, Long, Long)], onY: Boolean): Double = {
      val probes = (0 until 64).map(i => i * 64L + 17)
      probes.map(p => ranges.count(r =>
        if (onY) r._3 <= p && p <= r._4 else r._1 <= p && p <= r._2)).sum.toDouble / probes.size
    }
    val zr = fileRanges(pts.withColumn("z", functions.ZOrder.zkey(col("x"), col("y")))
      .repartitionByRange(parts, col("z")).sortWithinPartitions(col("z")).drop("z"), "z")
    val xr = fileRanges(pts.repartitionByRange(parts, col("x")).sortWithinPartitions(col("x")), "x")
    assert(zr.length == parts && xr.length == parts)
    // 1-D x-sort: perfect on x (~1 file), USELESS on y (every file)
    assert(avgFilesRead(xr, onY = false) <= 2.0)
    assert(avgFilesRead(xr, onY = true) >= parts - 0.5,
      s"x-sorted files should all span the full y domain")
    // z-order: 16 z-segments ≈ a 4×4 quadrant grid, so a point
    // predicate on either dim hits ~one row/column of cells (+range
    // -boundary straddlers) — well under half the files, where the
    // 1-D layout reads ALL of them on its unsorted dim
    val zx = avgFilesRead(zr, onY = false)
    val zy = avgFilesRead(zr, onY = true)
    // range-partitioner SAMPLING places the 16 z boundaries, so the
    // straddler count jitters run-to-run (observed 7.0–7.4 of 16);
    // assert the structural claim — well under the 16/16 the 1-D
    // layout reads on its unsorted dim — not a boundary-exact count
    assert(zx <= parts * 0.5, s"z layout must prune on x: reads $zx of $parts")
    assert(zy <= parts * 0.5, s"z layout must prune on y: reads $zy of $parts")
  }
}
