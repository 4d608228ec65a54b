package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The scalable exact-selection percentiles must equal Spark's
  * buffer-everything `percentile()` aggregate bit-for-bit — same order
  * statistics, same interpolation — on adversarial multisets and at
  * any partitioning. */
class ExactPercentilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Ps = Seq(0.0, 0.5, 0.9, 0.99, 1.0)

  private def check(rows: Seq[(Long, java.lang.Double)], parts: Int): Unit = {
    import spark.implicits._
    val df = rows.toDF("g", "x").repartition(parts)
    val fast = CacheScope.withScope { implicit s =>
      operators.ExactPercentiles.percentiles(df, "g", "x", Ps)
        .collect().map(r => (r.getLong(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    }
    val aggs = Ps.map(p => expr(s"percentile(x, $p)").as(s"p$p"))
    val slow = df.filter(col("x").isNotNull).groupBy(col("g"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().flatMap(r => Ps.zipWithIndex.map { case (p, i) =>
        (r.getLong(0), p) -> r.getDouble(i + 1) }).toMap
    assert(fast.keySet == slow.keySet, s"${fast.keySet} vs ${slow.keySet}")
    for ((k, v) <- slow)
      assert(java.lang.Double.doubleToLongBits(fast(k)) == java.lang.Double.doubleToLongBits(v),
        s"$k: exact-selection ${fast(k)} != percentile() $v")
  }

  test("graft_dbits is order-isomorphic to java.lang.Double.compare") {
    // Double.compare is the ordering Spark's Percentile aggregate (and
    // thus this selection) ranks by: −0.0 < +0.0 strictly, NaN largest.
    // (SQL ORDER BY differs — it treats ±0.0 as equal.)
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val specials = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      Double.MaxValue, Double.MinValue, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.NaN, 1e-300, -1e-300)
    val xs = specials ++ (0 until 500).map(_ => rnd.nextDouble() * math.pow(10, rnd.nextInt(40) - 20) *
      (if (rnd.nextBoolean()) 1 else -1))
    val expected = xs.zipWithIndex
      .sortBy { case (x, i) => (x, i) }(Ordering.Tuple2(Ordering.fromLessThan[Double](
        (a, b) => java.lang.Double.compare(a, b) < 0), Ordering.Int))
      .map(_._2.toLong)
    val byBits = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("id", "x")
      .select(col("id"), functions.DBits.ordered(col("x")).as("s"))
      .orderBy(col("s"), col("id")).select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(byBits == expected, "dbits order must equal Double.compare order")
  }

  test("matches percentile() on random multisets at any partitioning") {
    val rnd = new scala.util.Random(41)
    val rows = (0 until 4000).map { i =>
      val g = (i % 3).toLong
      // heavy duplicates + negatives + wide magnitudes
      val x = rnd.nextInt(4) match {
        case 0 => rnd.nextInt(10).toDouble
        case 1 => -rnd.nextInt(10).toDouble
        case 2 => rnd.nextDouble() * 1e12
        case _ => rnd.nextDouble() * 1e-12
      }
      (g, java.lang.Double.valueOf(x))
    }
    for (parts <- Seq(1, 7)) check(rows, parts)
  }

  test("edge groups: single value, all-equal values, nulls ignored, negative zero") {
    val rows: Seq[(Long, java.lang.Double)] = Seq(
      (0L, java.lang.Double.valueOf(42.0)),                 // single-value group
      (1L, java.lang.Double.valueOf(7.0)), (1L, java.lang.Double.valueOf(7.0)),
      (1L, java.lang.Double.valueOf(7.0)),                  // all equal
      (2L, java.lang.Double.valueOf(-0.0)), (2L, java.lang.Double.valueOf(0.0)),
      (2L, java.lang.Double.valueOf(1.5)), (2L, null),      // null ignored
      (3L, java.lang.Double.valueOf(-1e300)), (3L, java.lang.Double.valueOf(1e300)),
      (3L, java.lang.Double.valueOf(0.0)))                  // 2^63-scale span
    check(rows, 3)
  }

  test("values 1 ulp apart straddling a rank narrow to distinct buckets") {
    // Regression: 0.3 vs 0.1+0.2 differ by one dbits ulp at ~2^62
    // magnitude, where a SEPARATELY double-cast (s − lo) rounds to
    // ~512-long granularity — the old bucket index collapsed them into
    // one bucket forever (bmin != bmax, no narrowing) and threw after
    // MaxPasses. The long-arithmetic offset keeps them apart.
    assert(0.3 != 0.1 + 0.2) // the premise: genuinely distinct doubles
    val rows: Seq[(Long, java.lang.Double)] = Seq(
      (0L, java.lang.Double.valueOf(0.3)), (0L, java.lang.Double.valueOf(0.1 + 0.2)),
      // same trap on negatives (dbits maps them to far-negative longs)
      (1L, java.lang.Double.valueOf(-0.3)), (1L, java.lang.Double.valueOf(-(0.1 + 0.2))),
      // adjacent-ulp pair around a third value, ranks on both sides
      (2L, java.lang.Double.valueOf(1.0)),
      (2L, java.lang.Double.valueOf(math.nextUp(1.0))),
      (2L, java.lang.Double.valueOf(math.nextDown(1.0))))
    check(rows, 2)
  }

  test("duplicate ps entries are deduplicated, not duplicated in the output") {
    import spark.implicits._
    val df = Seq((0L, 1.0), (0L, 2.0), (0L, 3.0)).toDF("g", "x")
    val out = CacheScope.withScope { implicit s =>
      operators.ExactPercentiles.percentiles(df, "g", "x", Seq(0.5, 0.5, 1.0)).collect()
    }
    assert(out.length == 2, s"expected one row per distinct p, got ${out.toSeq}")
  }

  test("early exit: low-cardinality domains resolve in one pass, ulp traps in few") {
    import spark.implicits._
    // 50 distinct integer-valued doubles: in dbits space adjacent
    // integers sit ~2^45+ apart while pass-1 buckets are span/2^16 —
    // every distinct value gets its own bucket, so bmin == bmax
    // resolves EVERY target on the first pass and the early exit must
    // skip the remaining MaxPasses − 1 scans
    val ints = (0 until 2000).map(i => ((i % 2).toLong, ((i * 7) % 50 + 1).toDouble)).toDF("g", "x")
    val (outI, passesI) = CacheScope.withScope { implicit s =>
      val (o, p) = operators.ExactPercentiles.percentilesCounted(ints, "g", "x", Ps)
      (o.collect(), p)
    }
    assert(outI.nonEmpty)
    assert(passesI == 1, s"integer domain must resolve in one pass, took $passesI")
    // the ulp regression shape: initial bounds are the group's ACTUAL
    // [min, max] — a 1-dbits-ulp span buckets exactly, so even this
    // resolves on pass 1 (the r4 bug made it never resolve); assert it
    // exits well under the ceiling either way
    val ulps = Seq((0L, 0.3), (0L, 0.1 + 0.2)).toDF("g", "x")
    val (outU, passesU) = CacheScope.withScope { implicit s =>
      val (o, p) = operators.ExactPercentiles.percentilesCounted(ulps, "g", "x", Seq(0.5))
      (o.collect(), p)
    }
    assert(outU.nonEmpty)
    assert(passesU < operators.ExactPercentiles.MaxPasses,
      s"ulp-apart pair must resolve early, took $passesU")
  }

  test("the q13 shape on lineitem matches percentile() exactly") {
    val li = Tables.lineitem(spark, TestSpark.sfDir)
    val fast = CacheScope.withScope { implicit s =>
      operators.ExactPercentiles.percentiles(
          li.select(col("l_returnflag").as("g"), col("l_quantity").as("x")), "g", "x", Seq(0.5, 0.9))
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    }
    val slow = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("m"), expr("percentile(l_quantity, 0.9)").as("p90"))
      .collect().flatMap(r => Seq((r.getString(0), 0.5) -> r.getDouble(1),
        (r.getString(0), 0.9) -> r.getDouble(2))).toMap
    assert(fast == slow, s"$fast vs $slow")
  }

  test("orderStatistics: every rank of a random multiset equals the sorted reference, any partitioning") {
    import spark.implicits._
    // adversarial multiset: duplicates, negatives, ulp-neighbors, -0.0
    val rng = new scala.util.Random(42)
    val vals = Seq.fill(40)(rng.nextInt(8).toDouble - 3) ++
      Seq(-0.0, 0.0, 0.3, 0.30000000000000004, -1e300, 1e300) ++
      Seq.fill(20)(rng.nextDouble())
    val sorted = vals.sorted
    for (parts <- Seq(1, 7)) {
      val df = vals.map(("g", _)).toDF("g", "x").repartition(parts)
      val ranks = vals.indices.map(i => ("g", i.toLong)).toDF("g", "k")
      val got = CacheScope.withScope { implicit s =>
        operators.ExactPercentiles.orderStatistics(df, "g", "x", ranks)
          .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
      }
      vals.indices.foreach { i =>
        // compare as bits so -0.0 vs 0.0 ordering is pinned too
        assert(java.lang.Double.doubleToRawLongBits(got(i.toLong)) ==
          java.lang.Double.doubleToRawLongBits(sorted(i)),
          s"rank $i at parts=$parts: ${got(i.toLong)} vs ${sorted(i)}")
      }
    }
  }

  test("valueGrain=true equals valueGrain=false bit-for-bit on ties, ±0.0 and ulp neighbors") {
    // r14 ADVICE: the value-grain collapse (grouped by the LONG s so
    // −0.0 survives NormalizeFloatingNumbers) had only transitive
    // oracle coverage — pin it directly on a domain with heavy ties,
    // both zeros, and ulp-adjacent values, at more than one input
    // partitioning
    import spark.implicits._
    val rnd = new scala.util.Random(44)
    val rows: Seq[(Long, java.lang.Double)] =
      (0 until 3000).map { i =>
        val g = (i % 3).toLong
        val x = rnd.nextInt(6) match {
          case 0 => rnd.nextInt(8).toDouble            // heavy ties
          case 1 => -rnd.nextInt(8).toDouble
          case 2 => if (rnd.nextBoolean()) 0.0 else -0.0
          case 3 => if (rnd.nextBoolean()) 0.3 else 0.1 + 0.2 // 1 dbits ulp apart
          case 4 => if (rnd.nextBoolean()) 1.0 else math.nextUp(1.0)
          case _ => rnd.nextDouble() * 1e6
        }
        (g, java.lang.Double.valueOf(x))
      } :+ ((1L, null: java.lang.Double))
    for (parts <- Seq(1, 5)) {
      val df = rows.toDF("g", "x").repartition(parts)
      def run(vg: Boolean) = CacheScope.withScope { implicit s =>
        operators.ExactPercentiles.percentiles(df, "g", "x", Ps, valueGrain = vg)
          .collect().map(r => (r.getLong(0), r.getDouble(1)) ->
            java.lang.Double.doubleToRawLongBits(r.getDouble(2))).toMap
      }
      val (grained, raw) = (run(true), run(false))
      assert(grained.keySet == raw.keySet)
      for ((k, bits) <- raw)
        assert(grained(k) == bits,
          s"$k at parts=$parts: valueGrain ${java.lang.Double.longBitsToDouble(grained(k))} " +
            s"!= raw ${java.lang.Double.longBitsToDouble(bits)}")
    }
  }

  test("valueGrain: bounded domains still resolve in one pass") {
    import spark.implicits._
    val ints = (0 until 2000).map(i => ((i % 2).toLong, ((i * 7) % 50 + 1).toDouble)).toDF("g", "x")
    val (out, passes) = CacheScope.withScope { implicit s =>
      val (o, p) = operators.ExactPercentiles.percentilesCounted(
        ints, "g", "x", Ps, valueGrain = true)
      (o.collect(), p)
    }
    assert(out.nonEmpty)
    assert(passes == 1, s"bounded domain under valueGrain must resolve in one pass, took $passes")
  }

  test("empty input, an all-NULL value column and a rank k >= n give no row, typed as ever") {
    import spark.implicits._
    val one = Seq((0L, 1.0)).toDF("g", "x")
    val nulls = Seq((0L, null: java.lang.Double), (1L, null)).toDF("g", "x")
    val ranks = Seq((0L, 5L), (1L, 0L)).toDF("g", "k")
    val pct = StructType(Seq(StructField("g", LongType, nullable = false),
      StructField("p", DoubleType, nullable = false), StructField("value", DoubleType)))
    // `value` is nullable whether or not a pass ran: the schema does
    // not depend on the data
    val ord = StructType(Seq(StructField("g", LongType, nullable = false),
      StructField("k", LongType, nullable = false), StructField("value", DoubleType)))
    CacheScope.withScope { implicit s =>
      for (df <- Seq(one.limit(0), nulls)) {
        val p = operators.ExactPercentiles.percentiles(df, "g", "x", Seq(0.5))
        assert(p.schema == pct && p.collect().isEmpty)
        val o = operators.ExactPercentiles.orderStatistics(df, "g", "x", ranks)
        assert(o.schema == ord && o.collect().isEmpty)
      }
      // group 0 has one value, so rank 5 never resolves; group 1 is absent
      val o = operators.ExactPercentiles.orderStatistics(one, "g", "x", ranks)
      assert(o.schema == ord && o.collect().isEmpty)
    }
  }

  test("orderStatistics: duplicate (g, k) targets select the TRUE rank, once") {
    // regression (r9 advice): a duplicated rank used to duplicate the
    // selection-state row, double-counting every histogram bucket while
    // rem stayed k — silently returning the ~k/2 order statistic.
    // equidepthHistogram emits exactly such duplicates when n < buckets.
    import spark.implicits._
    val vals = Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0)
    val df = vals.map(("g", _)).toDF("g", "x").repartition(3)
    // rank 6 requested three times, rank 1 twice — true answers 70 and 20
    val ranks = Seq(("g", 6L), ("g", 6L), ("g", 6L), ("g", 1L), ("g", 1L)).toDF("g", "k")
    val got = CacheScope.withScope { implicit s =>
      operators.ExactPercentiles.orderStatistics(df, "g", "x", ranks)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
    }
    assert(got.length == 2, s"deduped output expected, got ${got.toSeq}")
    val m = got.toMap
    assert(m(("g", 6L)) == 70.0, s"rank 6: ${m(("g", 6L))}")
    assert(m(("g", 1L)) == 20.0, s"rank 1: ${m(("g", 1L))}")
  }
}
