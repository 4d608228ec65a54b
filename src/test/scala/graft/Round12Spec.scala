package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 fixtures: the r11 ADVICE regressions — the value-grain
  * rank-map broadcast guard, HL NULL verdicts, shared PSI edges, the
  * hint-free clustering join, and the co-located normText twin. */
class Round12Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("spearmanOfScores: broadcast and shuffle rank-map paths produce bit-identical rho") {
    import spark.implicits._
    // midrank ties in both columns; the guard must not change values:
    // the moment sums are merge-order-free DECIMALs, so broadcast vs
    // shuffle join differ only in plan, never in bits
    val rows = Seq((1.0, 3.0), (1.0, 1.0), (2.0, 1.0), (3.0, 2.0),
      (3.0, 5.0), (4.0, 4.0), (4.0, 4.0), (5.0, 0.5))
    def run(maxKeys: Long) = CacheScope.withScope { implicit s =>
      operators.Analytics.spearmanOfScores(rows.toDF("za", "zb"), maxKeys)
        .collect().head
    }
    val bc = run(Long.MaxValue) // every map broadcasts
    val sh = run(0L)            // every map shuffle-joins
    assert(bc.getLong(0) == sh.getLong(0), s"$bc vs $sh")
    assert(java.lang.Double.doubleToRawLongBits(bc.getDouble(1)) ==
      java.lang.Double.doubleToRawLongBits(sh.getDouble(1)), s"$bc vs $sh")
  }

  test("spearmanOfScores: shuffle path plans no broadcast of the rank maps, broadcast path does") {
    import spark.implicits._
    val rows = (1 to 20).map(i => (i.toDouble, (i * 7 % 5).toDouble))
    // count the ResolvedHint nodes the guard plants (r12 ADVICE: the
    // old `!plan.contains("broadcast hint")` text check was vacuous —
    // physical plan text never contains that literal). fracRanks
    // broadcasts its metadata-scale offsets/nn frames on BOTH paths;
    // the guard adds exactly the TWO rank-map hints on top, so the
    // broadcast path must carry precisely two more hints than the
    // shuffle path, and the executed broadcast plan must realize them.
    def run(maxKeys: Long): (Int, String) = CacheScope.withScope { implicit s =>
      val df = operators.Analytics.spearmanOfScores(rows.toDF("za", "zb"), maxKeys)
      val hints = df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
      val p = df.queryExecution.executedPlan.toString
      df.collect() // release the scope only after the plan is read
      (hints, p)
    }
    val (hintsBc, planBc) = run(Long.MaxValue)
    val (hintsSh, _) = run(0L)
    assert(planBc.contains("BroadcastHashJoin"))
    assert(hintsBc == hintsSh + 2,
      s"broadcast path must hint exactly the two rank maps: $hintsBc vs $hintsSh")
  }

  test("hosmerLemeshow: all-degenerate bins make the test undefined — hl_stat and verdict are NULL, not 0") {
    import spark.implicits._
    // every row at z = 40: round(p, 12) = 1 → sp = n in the only bin →
    // zero usable bins, df = -2, no statistic, no verdict
    val zz = Seq.fill(4)((40.0, 1.0)).toDF("z", "y")
    val r = operators.Analytics.hosmerLemeshowOfScores(zz).collect().head
    assert(r.getLong(3) == 0L, r.toString)   // n_bins_used
    assert(r.isNullAt(5), r.toString)        // hl_stat
    assert(r.isNullAt(6), r.toString)        // significant: NULL, not 0
  }

  test("psiStream bins against the shared calibration edges and honors scoreCol (batch replay)") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq.fill(3)((-3.0, t("2024-01-01 00:05:00"))) ++
      Seq.fill(2)((0.0, t("2024-01-01 00:10:00"))) ++
      Seq.fill(5)((3.0, t("2024-01-01 00:40:00")))
    val ref = Seq(0.3, 1e-6, 1e-6, 1e-6, 1e-6, 0.2, 1e-6, 1e-6, 1e-6, 0.5)
    val z = streaming.Streams.psiStream(rows.toDF("z", "ts"), ref).collect()
    val sc = streaming.Streams.psiStream(
      rows.toDF("score", "ts"), ref, scoreCol = "score").collect()
    assert(z.map(_.toString).toSeq == sc.map(_.toString).toSeq,
      s"${z.toSeq} vs ${sc.toSeq}")
    assert(z.head.getDouble(12) == 0.0 && z.head.getString(13) == "stable")
    // drift guard: the plane's edges ARE the batch calibration edges
    assert(operators.Analytics.calibEdges ==
      (1 to 9).map(k => math.log((k / 10.0) / (1.0 - k / 10.0))))
  }

  test("triangleStats, localClustering: broadcast and forced-shuffle joins agree exactly") {
    import spark.implicits._
    // two triangles sharing edge 2-3, a pendant 4-5 and a hub 3
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 6L), (3L, 6L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    def run() = CacheScope.withScope { implicit s =>
      (operators.Graph.triangleStats(e).collect().map(_.toString).toSeq,
        operators.Graph.localClustering(e).collect().map(_.toString).toSeq)
    }
    val default = run()
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val shuffled = try {
      keys.foreach(spark.conf.set(_, "-1"))
      run()
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(default._1 == Seq("[7,12,2,0.5]"), s"triangles ${default._1}")
    assert(default == shuffled, s"$default vs forced shuffle $shuffled")
  }

  test("trainDataCard: every token emitted by the mixture is packed, funnel retention is monotone, fills respect capacity") {
    import spark.implicits._
    // two sources, two langs, a URL dup (2 ~ 1), an exact content dup
    // (4 ~ 3), and doc 5 long enough to split into window + remainder
    val docs = Seq(
      (1L, "s1", "en", "alpha beta gamma delta", "http://ex.com/a"),
      (2L, "s1", "en", "other words here now", "http://ex.com/a?utm_source=x"),
      (3L, "s2", "de", "eins zwei drei vier", "http://ex.com/b"),
      (4L, "s2", "de", "eins zwei drei vier", "http://ex.com/c"),
      (5L, "s2", "en", (1 to 9).map(i => s"w$i").mkString(" "), "http://ex.com/d")
    ).toDF("doc_id", "source", "lang", "text", "url")
    val card = CacheScope.withScope { implicit s =>
      functions.Pipeline.trainDataCard(docs, capacity = 4, salts = 2).collect()
    }
    def sec(s: String) = card.filter(_.getString(0) == s)
    val fun = sec("funnel").map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(fun("0_raw/s1") == 2L && fun("1_url_dedup/s1") == 1L, fun.toString)
    assert(fun("0_raw/s2") == 3L && fun("3_exact_dedup/s2") <= fun("0_raw/s2"))
    // conservation: total packed tokens == sum of mixture emitted tokens
    val emitted = sec("mixture").map(_.getLong(3)).sum
    val packed = sec("total").head.getLong(2)
    assert(packed == emitted, s"packed $packed vs emitted $emitted")
    // no bin overfills: per-class fill ratio <= 1 (capacity honored)
    sec("pack").foreach(r => assert(r.getDouble(4) <= 1.0, r.toString))
  }

  test("normText twins: Column, Spark-SQL-string, and the Pipeline call site agree byte-for-byte") {
    import spark.implicits._
    val df = Seq("  A\t b\nC  ", "x", " MiXeD   caSe ").toDF("text")
    val both = df.select(
        Portable.normText(col("text")).as("a"),
        expr(Portable.normTextSparkSql("text")).as("b"))
      .collect()
    both.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }
}
