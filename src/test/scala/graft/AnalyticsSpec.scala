package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fixtures for the round-6 analytics tier (operators.Analytics):
  * planted closed-form answers for the fuzzy linker, the transition
  * matrix, the skyline, and the linear probe, plus the
  * partition-invariance property the two-level skyline scan buys. */
class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ------------------------------------------------------------- q55
  test("fuzzy link finds distance-1 pairs and only those") {
    val r = operators.Analytics.q55.build(spark, TestSpark.sfDir).collect()
    assert(r.nonEmpty, "the padded customer roster carries 1-digit variants")
    assert(r.forall(_.getLong(2) == 1L), "verify must keep only distance-1 pairs")
    // Customer#000000000 vs Customer#000000001 differ in one digit
    assert(r.exists(row => row.getLong(0) == 0L && row.getLong(1) == 1L))
    // distance-2 pair must NOT appear: ids 0 and 11 differ in two digits
    assert(!r.exists(row => row.getLong(0) == 0L && row.getLong(1) == 11L))
  }

  test("fuzzy link on a planted roster: indel + substitution found, far names not") {
    import spark.implicits._
    val names = Seq(
      (1L, "anna meyer"), (2L, "anna mayer"),   // substitution, dist 1
      (3L, "jon smith"), (4L, "john smith"),    // insertion, dist 1
      (5L, "completely different")).toDF("id", "nm")
    // re-run the q55 plan shape inline on the fixture
    val k = names.select(col("id"), col("nm"),
      explode(expr("""array_union(
          transform(sequence(1, length(nm)), i -> concat(substr(nm, 1, i - 1), substr(nm, i + 1, length(nm)))),
          array(nm))""")).as("key"))
    val a = k.select(col("id").as("a_id"), col("nm").as("a_nm"), col("key"))
    val b = k.select(col("id").as("b_id"), col("nm").as("b_nm"), col("key"))
    val pairs = a.join(b, Seq("key")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("a_nm"), col("b_id"), col("b_nm")).distinct()
      .filter(levenshtein(col("a_nm"), col("b_nm")) === 1)
      .select(col("a_id"), col("b_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
  }

  // ------------------------------------------------------------- q56
  test("transition matrix on a two-user fixture is the closed form") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // user 1: a -> b -> a ; user 2: a -> b    => a->b twice, b->a once
    val ev = Seq(
      (1L, ts(10), 1L, "a"), (2L, ts(20), 1L, "b"), (3L, ts(30), 1L, "a"),
      (4L, ts(10), 2L, "a"), (5L, ts(20), 2L, "b"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val t = ev.withColumn("nxt", lead(col("event_type"), 1).over(w)).filter(col("nxt").isNotNull)
    val c = t.groupBy(col("event_type").as("cur"), col("nxt")).agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("cur")).agg(sum(col("n")).as("tot"))
    val out = c.join(broadcast(tot), Seq("cur"))
      .select(col("cur"), col("nxt"), col("n"), round(col("n").cast("double") / col("tot"), 6).as("p"))
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(("a", "b") -> ((2L, 1.0d)), ("b", "a") -> ((1L, 1.0d))))
  }

  test("transition probabilities sum to 1 per source state on real data") {
    val r = operators.Analytics.q56.build(spark, TestSpark.sfDir)
      .groupBy(col("cur")).agg(sum(col("p")).as("s")).collect()
    assert(r.nonEmpty)
    r.foreach(row => assert(math.abs(row.getDouble(1) - 1.0) < 1e-4,
      s"per-cur probabilities must sum to ~1, got ${row.getDouble(1)}"))
  }

  // ------------------------------------------------------------- q57
  test("skyline keeps exactly the non-dominated rows, ties included") {
    import spark.implicits._
    import java.sql.Timestamp
    def day(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val rows = Seq(
      (1L, 100.0, day(5)),  // dominated by 2 (higher price, later date)
      (2L, 200.0, day(6)),  // skyline
      (3L, 200.0, day(6)),  // tie with 2 on both axes -> both kept
      (4L, 200.0, day(3)),  // same price as 2, earlier date -> dominated
      (5L, 300.0, day(2)),  // skyline (highest price)
      (6L, 150.0, day(9))   // skyline (latest date)
    ).toDF("o_orderkey", "o_totalprice", "o_orderdate")
    def run(parts: Int): Set[Long] = CacheScope.withScope { implicit s =>
      operators.Analytics.skyline2d(rows.repartition(parts),
        col("o_totalprice"), col("o_orderdate"))
        .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    }
    assert(run(2) == Set(2L, 3L, 5L, 6L))
    assert(run(7) == Set(2L, 3L, 5L, 6L), "two-level scan must be partition-count invariant")
  }

  test("skyline members are mutually non-dominated on real data") {
    val sky = operators.Analytics.q57.build(spark, TestSpark.sfDir)
      .select(col("o_totalprice"), col("o_orderdate")).collect()
      .map(r => (r.getDouble(0), r.getAs[java.time.LocalDateTime](1)))
    assert(sky.nonEmpty)
    for (a <- sky; b <- sky if a != b)
      assert(!(b._1 >= a._1 && !b._2.isBefore(a._2) && (b._1 > a._1 || b._2.isAfter(a._2))),
        s"$a dominated by $b inside the skyline")
  }

  // --------------------------------------------------- ml_linear_probe
  test("linear probe recovers a planted exact linear signal") {
    import spark.implicits._
    // y = 3 + 2*x1 - 5*x2 exactly; OLS must recover it with rmse 0, r2 1
    val rows = for (x1 <- 1 to 20; x2 <- Seq(0.0, 0.04, 0.08))
      yield (x1.toDouble, x2, 3.0 + 2.0 * x1 - 5.0 * x2)
    val df = rows.toDF("l_quantity", "l_discount", "l_extendedprice")
    df.createOrReplaceTempView("li_probe")
    // reuse the fragments through the public QueryDef on a temp dir is
    // not possible (it reads parquet); assert on the closed-form math
    // via a direct normal-equation solve over the fixture instead
    val m = df.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("s1"),
      sum(col("l_discount").cast("decimal(18,6)")).cast("double").as("s2"),
      sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("sy"),
      sum((col("l_quantity") * col("l_quantity")).cast("decimal(28,8)")).cast("double").as("s11"),
      sum((col("l_quantity") * col("l_discount")).cast("decimal(28,8)")).cast("double").as("s12"),
      sum((col("l_discount") * col("l_discount")).cast("decimal(28,8)")).cast("double").as("s22"),
      sum((col("l_quantity") * col("l_extendedprice")).cast("decimal(28,8)")).cast("double").as("s1y"),
      sum((col("l_discount") * col("l_extendedprice")).cast("decimal(28,8)")).cast("double").as("s2y"))
    val w = m.selectExpr(
      "(sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)) / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) AS w0",
      "(n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2)) / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) AS w1",
      "(n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2)) / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) AS w2")
      .collect().head
    assert(math.abs(w.getDouble(0) - 3.0) < 1e-6)
    assert(math.abs(w.getDouble(1) - 2.0) < 1e-6)
    assert(math.abs(w.getDouble(2) + 5.0) < 1e-6)
  }

  test("ab test flags a planted arm shift and stays quiet on exchangeable arms") {
    import spark.implicits._
    // arm A (even users) shifted +10 on type "x"; type "y" exchangeable
    val rows = (0 until 400).map { i =>
      val u = i % 20
      val shift = if (u % 2 == 0) 10.0 else 0.0
      ("x", u.toLong, 1.0 + (i % 5) + shift)
    } ++ (0 until 400).map { i => ("y", (i % 20).toLong, 1.0 + (i % 5)) }
    val got = operators.Analytics.abTest(rows.toDF("event_type", "user_id", "value"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(5), r.getBoolean(6)))).toMap
    assert(got("x")._2, s"a +10 shift on 400 rows must flag: ${got("x")}")
    assert(got("x")._1 > 1.96)
    assert(!got("y")._2, s"identical arms must not flag: ${got("y")}")
  }

  test("degree stats buckets a planted star graph exactly") {
    // star: hub 0 with 8 leaves (plus both edge directions) -> hub
    // degree 8 = bucket 3, leaves degree 1 = bucket 0
    val und = (1L to 8L).map(v => (0L, v))
    val e = und ++ und.map(p => (p._2, p._1))
    import spark.implicits._
    val deg = e.toDF("src", "dst").groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val got = deg.select((length(bin(col("deg"))) - 1).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(0L -> 8L, 3L -> 1L), s"got $got")
  }

  test("logreg GD learns a planted separable rule and is partition-invariant") {
    import spark.implicits._
    // y = 1 iff x1 > 10; center the feature so lr 0.01 converges fast
    val rows = (0 until 200).map { i =>
      val x1 = (i % 21).toDouble
      (x1 - 10.0, 0.0, if (x1 > 10.0) 1.0 else 0.0)
    }
    def run(parts: Int) = operators.Analytics.logregGd(
        rows.toDF("x1", "x2", "y").repartition(parts), lr = 0.5, rounds = 60)
      .collect().head
    val a = run(3)
    assert(a.getDouble(5) > 0.9, s"separable rule must be learned: $a")
    // boundary sits at x1 = 0.5 (y flips between 0 and 1), so the
    // intercept is small-negative relative to the slope, not zero
    assert(math.abs(a.getDouble(1)) < 2.0, s"near-centered threshold -> bounded intercept: $a")
    assert(a.getDouble(2) > 0, "slope must point toward the positive class")
    val b = run(11)
    assert(a.getDouble(1) == b.getDouble(1) && a.getDouble(2) == b.getDouble(2) &&
      a.getDouble(4) == b.getDouble(4),
      "decimal-term gradients must make GD bit-reproducible across partitionings")
  }

  test("psi drift flags a planted distribution shift and stays quiet on a stable stream") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(min * 60000L)
    // type x: ref half in [0, 10), cur half in [50, 60) -> massive PSI.
    // type y: identical uniform pattern in both halves -> tiny PSI.
    val rows =
      (0 until 100).map(i => ("x", ts(i), (i % 10).toDouble)) ++
      (0 until 100).map(i => ("x", ts(200 + i), 50.0 + (i % 10))) ++
      (0 until 100).map(i => ("y", ts(i), (i % 10).toDouble)) ++
      (0 until 100).map(i => ("y", ts(200 + i), (i % 10).toDouble))
    val got = operators.Analytics.psiDrift(rows.toDF("event_type", "ts", "value"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got("x")._2, s"a full range shift must flag: ${got("x")}")
    assert(!got("y")._2 && got("y")._1 < 0.05, s"identical halves must stay quiet: ${got("y")}")
  }

  test("kfold CV: folds partition the corpus and held-out rmse is sane") {
    val total = Tables.lineitem(spark, TestSpark.sfDir).count()
    val rows = operators.Analytics.mlKfoldCv.build(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 5)
    rows.foreach { case (_, nTrain, nTest, rmse) =>
      assert(nTrain + nTest == total, "train + test must partition the corpus exactly")
      assert(rmse > 0)
    }
    // held-out rmse should sit near the full-fit train rmse (same
    // model family, same data distribution) — a wild ratio means the
    // total-minus-fold decimal algebra broke
    val trainRmse = operators.Analytics.linearProbe.build(spark, TestSpark.sfDir)
      .collect().head.getDouble(4)
    rows.foreach { case (f, _, _, rmse) =>
      assert(rmse > trainRmse * 0.5 && rmse < trainRmse * 2.0,
        s"fold $f rmse $rmse implausible vs train $trainRmse") }
  }

  test("histogram2d covers the corpus with bins in range") {
    val total = Tables.lineitem(spark, TestSpark.sfDir).count()
    val rows = operators.Analytics.q62.build(spark, TestSpark.sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(rows.map(_._3).sum == total, "every row lands in exactly one cell")
    assert(rows.forall(r => r._1 >= 0 && r._1 <= 9 && r._2 >= 0 && r._2 <= 9))
  }

  test("cumulative reach ends at the distinct-user count and never decreases") {
    val ev = Tables.events(spark, TestSpark.sfDir)
    val users = ev.select(col("user_id")).distinct().count()
    val rows = operators.Analytics.q63.build(spark, TestSpark.sfDir).collect()
      .map(r => r.getLong(1))
    assert(rows.nonEmpty)
    assert(rows.zip(rows.tail).forall { case (a, b) => a <= b }, "reach is cumulative")
    assert(rows.last == users, "final reach = every user ever seen")
  }

  test("rfm covers every customer with scores in 1..5 and near-quintile marginals") {
    val nCust = Tables.orders(spark, TestSpark.sfDir)
      .select(col("o_custkey")).distinct().count()
    val rows = operators.Analytics.q64.build(spark, TestSpark.sfDir).collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
    assert(rows.map(_._2).sum == nCust, "every customer lands in exactly one cell")
    assert(rows.forall { case ((a, b, c), _) =>
      Seq(a, b, c).forall(s => s >= 1 && s <= 5) })
    // monetary is continuous-ish, so its marginal should be close to
    // quintiles (recency/frequency are chunky integers — skip those)
    val mMarg = rows.groupBy(_._1._3).view.mapValues(_.map(_._2).sum).toMap
    mMarg.values.foreach(v => assert(v > nCust / 10 && v < nCust * 3 / 10,
      s"monetary marginal far from quintile: $mMarg"))
  }

  test("snapshot diff census is the closed form on a planted pair of versions") {
    import spark.implicits._
    val v1 = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("doc_id", "fp")
    val v2 = Seq((1L, 10L), (2L, 99L), (4L, 40L)).toDF("doc_id", "fp")
    val got = functions.Corpus.snapshotDiff(v1, v2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("added" -> 1L, "changed" -> 1L, "removed" -> 1L, "unchanged" -> 1L))
  }

  test("threshold sweep: recall non-increasing in t, positives conserved") {
    val rows = operators.Analytics.mlThresholdSweep.build(spark, TestSpark.sfDir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.length == 9)
    val positives = rows.map(r => r._2 + r._4).distinct
    assert(positives.size == 1, s"tp + fn must be the positive count at every t: $rows")
    val tps = rows.map(_._2)
    assert(tps.zip(tps.tail).forall { case (a, b) => a >= b },
      "raising the threshold can only shed true positives")
  }

  test("seasonality chi2: all-one-weekday hits the 6n closed form, uniform weeks stay quiet") {
    import spark.implicits._
    import java.sql.Timestamp
    def day(d: Int) = Timestamp.valueOf(f"2024-01-${d}%02d 12:00:00")
    // type "m": 70 events all on Mondays (2024-01-01, -08, ...) ->
    // chi2 = 6n = 420; type "u": 10 on each of 7 consecutive days
    val rows = (0 until 70).map(i => ("m", day(1 + 7 * (i % 4)))) ++
      (0 until 70).map(i => ("u", day(1 + i % 7)))
    val got = operators.Analytics.seasonalityOf(rows.toDF("event_type", "ts"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got("m") == ((70L, 420.0, true)), s"closed form 6n: ${got("m")}")
    assert(got("u") == ((70L, 0.0, false)), s"uniform: ${got("u")}")
  }

  test("gini: bounded in [0, 1) and positive on skewed real spend") {
    val r = operators.Analytics.q67.build(spark, TestSpark.sfDir).collect().head
    val (n, g) = (r.getLong(0), r.getDouble(2))
    assert(n > 0)
    assert(g >= 0.0 && g < 1.0, s"gini out of range: $g")
  }

  test("lift deciles: population conserved, cumulative gain reaches 1, base lift averages out") {
    val rows = operators.Analytics.mlLiftDeciles.build(spark, TestSpark.sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.length == 10)
    val total = Tables.lineitem(spark, TestSpark.sfDir).count()
    assert(rows.map(_._2).sum == total, "every row lands in exactly one decile")
    // cumulative gain runs from the TOP decile down to 1.0 at decile 1
    val byDec = rows.sortBy(_._1)
    assert(math.abs(byDec.head._6 - 1.0) < 1e-9, "full population captures all positives")
    val gains = byDec.map(_._6)
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b - 1e-9 },
      "cumulative gain decreases toward the top decile slice")
  }

  test("zipf fit: exponent positive and in a plausible band on the corpus head") {
    val r = operators.Analytics.q68.build(spark, TestSpark.sfDir).collect().head
    // the sf0.001 synthetic vocabulary is tiny — the head is whatever
    // exists, the fit still runs
    assert(r.getLong(0) > 10)
    val s = r.getDouble(1)
    assert(s > 0.0 && s < 3.0, s"zipf exponent implausible: $s")
  }

  test("lead time: quantiles ordered, orders conserved") {
    val rows = operators.Analytics.q69.build(spark, TestSpark.sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (p, _, p50, p90, mx) =>
      assert(p50 <= p90 + 1e-9 && p90 <= mx + 1e-9, s"quantiles out of order for $p") }
    val totalOrders = Tables.orders(spark, TestSpark.sfDir)
      .join(Tables.lineitem(spark, TestSpark.sfDir),
        col("o_orderkey") === col("l_orderkey"), "left_semi").count()
    assert(rows.map(_._2).sum == totalOrders, "every shipped order counted once")
  }

  test("mergeSchema read nulls the evolved column for pre-evolution files") {
    val rows = sources.Sources.mergeSchemaRead.build(spark, TestSpark.sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // v1 files (even ids) lack n_chars: roughly half the rows carry it
    val (n, withC) = (rows.map(_._2).sum, rows.map(_._3).sum)
    assert(withC > 0 && withC < n, s"expected a null/non-null mix, got $withC of $n")
  }

  test("abandoned carts: forward window honors direction, tolerance, and the 1h boundary") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val H = 3600L
    val ev = Seq(
      // user 1: click then purchase 10 min later -> converted
      (1L, ts(100), 1L, "click"), (2L, ts(700), 1L, "purchase"),
      // user 2: purchase BEFORE the click only -> abandoned (forward!)
      (3L, ts(50), 2L, "purchase"), (4L, ts(100), 2L, "click"),
      // user 3: purchase at exactly +1h -> converted (inclusive)
      (5L, ts(100), 3L, "click"), (6L, ts(100 + H), 3L, "purchase"),
      // user 4: purchase at +1h+1s -> abandoned
      (7L, ts(100), 4L, "click"), (8L, ts(101 + H), 4L, "purchase"),
      // user 5: click, never purchases -> abandoned
      (9L, ts(100), 5L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val got = operators.Analytics.abandonedCarts(ev).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).head
    assert(got == ((5L, 3L, 0.6d)), s"got $got")
  }

  test("linear probe on real data: valid audit stats, OLS r2 in [0,1]") {
    val r = operators.Analytics.linearProbe.build(spark, TestSpark.sfDir).collect().head
    val (n, rmse, r2) = (r.getLong(0), r.getDouble(4), r.getDouble(5))
    assert(n > 0)
    assert(rmse > 0, "the synthetic price column is not an exact linear function")
    // train-set OLS with an intercept: 0 <= r2 <= 1 by construction
    assert(r2 >= 0 && r2 <= 1)
  }

  // --------------------------------------------------- ml_calibration
  test("calibration: bins conserve the corpus, rates in range, empirical rate tracks bin order") {
    val rows = operators.Analytics.mlCalibration.build(spark, TestSpark.sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val total = Tables.lineitem(spark, TestSpark.sfDir).count()
    assert(rows.map(_._2).sum == total, "bins must conserve the corpus")
    rows.foreach { case (bin, n, pos, avgp, rate) =>
      assert(bin >= 0 && bin <= 9)
      assert(pos <= n)
      assert(avgp > 0 && avgp < 1)
      assert(rate >= 0 && rate <= 1)
      // avg predicted probability must fall inside its own decile band
      assert(avgp >= bin / 10.0 - 1e-9 && avgp <= (bin + 1) / 10.0 + 1e-9,
        s"bin $bin avg_pred $avgp outside its band")
    }
    // bins come out sorted and average predictions are increasing
    val preds = rows.sortBy(_._1).map(_._4)
    assert(preds.zip(preds.tail).forall { case (a, b) => a < b })
  }

  // ------------------------------------------- portable 6-dp rounding
  test("round6Ratio: pure-integer half-away rounding equals BigDecimal HALF_UP at 6 dp") {
    import spark.implicits._
    // adversarial cases: exact .5 boundaries both signs, huge ratios,
    // tiny ratios, and a pseudo-random sweep
    val planted = Seq(
      (1L, 2L), (-1L, 2L), (1L, -2L), (-1L, -2L),       // ±0.5
      (1L, 2000000L), (-1L, 2000000L),                  // ±5e-7, the rounding boundary
      (3L, 2000000L), (-3L, 2000000L),                  // ±1.5e-6
      (1L, 3L), (-2L, 3L), (100L, 7L), (-1000L, 7L),
      (999999999L, 1000000L), (1L, 999999937L))
    val rng = new scala.util.Random(42)
    val swept = (0 until 500).map { _ =>
      val den = { val x = rng.nextLong() % 1000000L; if (x == 0) 7L else x }
      (rng.nextLong() % 100000000L, den)
    }
    val rows = (planted ++ swept).toDF("num", "den")
    val got = rows.selectExpr("num", "den",
        graft.Portable.round6RatioSpark("num", "den") + " AS r")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    (planted ++ swept).foreach { case (n0, d0) =>
      val expect = (BigDecimal(n0) / BigDecimal(d0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got((n0, d0)) == expect,
        s"$n0/$d0: got ${got((n0, d0))}, want $expect")
    }
  }

  test("q65 percent deltas: planted weeks hit the closed form, first week NULL") {
    import spark.implicits._
    // 3 weeks of counts 8, 10, 7 → +25%, -30%; pure-integer path
    val ev = Seq.tabulate(8)(i => ("a", "2024-01-01 10:00:00", i)) ++
      Seq.tabulate(10)(i => ("a", "2024-01-08 10:00:00", i)) ++
      Seq.tabulate(7)(i => ("a", "2024-01-15 10:00:00", i))
    val df = ev.toDF("event_type", "tss", "i")
      .select(col("event_type"), col("tss").cast("timestamp").as("ts"),
        lit(1.5).as("value"))
    val w = df.groupBy(col("event_type"), date_trunc("week", col("ts")).cast("date").as("wk"))
      .agg(count(lit(1)).as("n"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("wk"))
    val out = w.withColumn("pn", lag(col("n"), 1).over(win))
      .selectExpr("wk", "n",
        s"CASE WHEN pn IS NOT NULL THEN ${graft.Portable.round6RatioSpark("(n - pn) * 100", "pn")} END AS pct")
      .orderBy(col("wk")).collect()
    assert(out.length == 3)
    assert(out(0).isNullAt(2), "first week has no prior")
    assert(out(1).getDouble(2) == 25.0)
    assert(out(2).getDouble(2) == -30.0)
  }

  test("weekday binning: pre-1970 timestamps get the correct floor-mod day (r8 epoch-offset fix)") {
    import spark.implicits._
    // 1969-12-31 = Wednesday(3), 1969-12-28 = Sunday(0), 1970-01-01 =
    // Thursday(4), 2024-06-05 = Wednesday(3). The mid-day pre-1970 row
    // is the one unshifted truncating division mislabels (Thursday).
    val df = Seq("1969-12-31 12:00:00", "1969-12-28 00:00:01",
        "1970-01-01 00:00:00", "2024-06-05 09:30:00")
      .toDF("s").select(col("s").cast("timestamp").as("ts"))
    val dows = df.select(expr(operators.Analytics.DowSpark).as("dow"))
      .as[Long].collect().toSeq
    assert(dows == Seq(3L, 0L, 4L, 3L), s"got $dows")
  }

  test("scoreWith + weightsOf: readouts run off published constants, no training (r8)") {
    import spark.implicits._
    val b = Seq((1.0, 0.0, 1.0), (2.0, 0.0, 1.0), (-1.0, 0.0, 0.0), (-2.0, 0.0, 0.0))
      .toDF("x1", "x2", "y")
    val w = operators.Analytics.weightsOf(spark, 0.0, 1.0, 0.0) // z = x1
    val sweep = operators.Analytics.sweepOfVg(operators.Analytics.vgOfScores(
      operators.Analytics.scoreWith(b, w))).collect()
    assert(sweep.length == 9)
    // at t = 0.5 the z edge is logit(0.5) = 0: a perfect separation
    val mid = sweep.find(r => r.getDouble(0) == 0.5).get
    assert(mid.getLong(1) == 2 && mid.getLong(2) == 0 && mid.getLong(3) == 0)
    assert(mid.getDouble(4) == 1.0 && mid.getDouble(5) == 1.0)
  }

  test("pipeline_ml_readouts: composed rows EQUAL the standalone readouts' rows (r8)") {
    val composed = operators.Analytics.pipelineMlReadouts
      .build(spark, TestSpark.sfDir).collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val sweep = operators.Analytics.mlThresholdSweep
      .build(spark, TestSpark.sfDir).collect()
    sweep.foreach { r =>
      assert(composed(("sweep", r.getDouble(0))) ==
        ((r.getLong(1), r.getLong(2), r.getLong(3))),
        s"sweep t=${r.getDouble(0)} diverged from the composed readout")
    }
    val calib = operators.Analytics.mlCalibration
      .build(spark, TestSpark.sfDir).collect()
    calib.foreach { r =>
      assert(composed(("calib", r.getInt(0).toDouble))._1 == r.getLong(1),
        s"calib bin=${r.getInt(0)} diverged from the composed readout")
    }
  }
}
