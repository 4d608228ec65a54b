package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted closed-form fixtures for the round-7 analytics tier
  * (operators.Insights): basket-lift association rules, DAU/MAU
  * stickiness, BM25 ranking, cohort retention matrix. */
class InsightsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  // ------------------------------------------------------------- q71
  test("basket lift: planted baskets hit the closed form, support gate holds") {
    import spark.implicits._
    // baskets: {A,B} {A,B} {A,C} {C} → N=4, ca(A)=3, c(B)=2, c(C)=2,
    // cab(A,B)=2 → lift = 2·4/(3·2) = 4/3; (A,C) support 1 < 2 dropped
    val rows = Seq(
      (1L, 10L), (1L, 20L),
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L),
      (4L, 30L)).toDF("ok", "pk")
    val got = operators.Insights.basketLift(rows).collect()
    assert(got.length == 1, s"only (A,B) clears min support: ${got.mkString(";")}")
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
      ((10L, 20L, 2L, 3L, 2L)))
    assert(r.getDouble(6) == 2.0 * 4 / 3 / 2, "lift must be the exact IEEE tree")
  }

  test("basket lift: the basket-size cap drops a planted mega-basket") {
    import spark.implicits._
    // one 60-item basket (over the 50 cap) would mint C(60,2) pairs;
    // two small baskets keep their rule
    val mega = (1L to 60L).map(pk => (100L, pk))
    val small = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
    val got = operators.Insights.basketLift((mega ++ small).toDF("ok", "pk")).collect()
    assert(got.length == 1, s"mega-basket pairs must be dropped: ${got.length} rules")
    // N counts only surviving baskets (2), so lift = 2·2/(2·2) = 1
    assert(got.head.getDouble(6) == 1.0)
  }

  // ------------------------------------------------------------- q72
  test("stickiness: planted days hit the closed DAU/MAU form") {
    import spark.implicits._
    // 2-day window for a readable fixture: day1 users {1,2}, day2 {2,3}
    // → DAU 2,2; MAU(day1)={1,2}, MAU(day2)={1,2,3}
    val ev = Seq(
      (1L, "2024-03-01 01:00:00"), (2L, "2024-03-01 02:00:00"),
      (2L, "2024-03-02 01:00:00"), (3L, "2024-03-02 02:00:00"))
      .toDF("user_id", "tss")
      .select(col("user_id"), col("tss").cast("timestamp").as("ts"))
    val got = operators.Insights.stickiness(ev, windowDays = 2).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("2024-03-01", 2L, 2L, 1.0),
      ("2024-03-02", 2L, 3L, 0.666667)))
  }

  // ------------------------------------------------------------- q73
  test("bm25: ranks the term-dense doc first and scores only matching docs") {
    val rows = operators.Insights.q73.build(spark, d).collect()
    assert(rows.length == operators.Insights.Bm25TopK)
    // ranks are 1..k and scores non-increasing in rank
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length))
    val scores = rows.map(_.getDouble(2))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(_ > 0), "the +1 idf variant is always positive")
  }

  // ----------------------------------------------------- ml_ridge_path
  test("ridge path: lambda=0 equals the OLS probe; shrinkage is monotone in lambda") {
    val ridge = operators.Analytics.mlRidgePath.build(spark, d).collect()
    assert(ridge.length == operators.Analytics.RidgeLambdas.length)
    val ols = operators.Analytics.linearProbe.build(spark, d).collect().head
    val r0 = ridge.find(_.getDouble(0) == 0.0).get
    assert((r0.getDouble(1), r0.getDouble(2), r0.getDouble(3)) ==
      ((ols.getDouble(1), ols.getDouble(2), ols.getDouble(3))),
      "the unpenalized row must reproduce OLS bit-for-bit")
    // slope norm shrinks toward 0 as lambda grows (intercept unpenalized)
    val norms = ridge.sortBy(_.getDouble(0)).map(r =>
      r.getDouble(2) * r.getDouble(2) + r.getDouble(3) * r.getDouble(3))
    assert(norms.zip(norms.tail).forall { case (a, b) => b <= a + 1e-9 },
      s"slope norm must be non-increasing in lambda: ${norms.mkString(",")}")
    // training rmse can only get worse as the fit is constrained
    val rmses = ridge.sortBy(_.getDouble(0)).map(_.getDouble(4))
    assert(rmses.zip(rmses.tail).forall { case (a, b) => b >= a - 1e-9 })
  }

  // -------------------------------------------------- text_keyphrases
  test("keyphrases: ranked by score, phrases are stopword-free and bounded") {
    val rows = functions.TextAnalysis.keyphrases.build(spark, d).collect()
    assert(rows.length == functions.TextAnalysis.KeyphraseTopK)
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length))
    val scores = rows.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val words = r.getString(1).split(" ")
      assert(words.length <= functions.TextAnalysis.MaxPhraseLen)
      assert(!words.exists(Seq("the", "a", "of", "and", "to").contains(_)),
        s"phrase contains a stopword: ${r.getString(1)}")
      assert(r.getLong(2) > 0)
    }
  }

  // ------------------------------------------------------------- q76
  test("grouped regression: exact line recovered per group, r2 bounded on real data") {
    import spark.implicits._
    // group a: y = 3x + 2 exactly (r2 = 1); group b: y = -x + 10
    val planted = Seq(
      ("a", 1.0, 5.0), ("a", 2.0, 8.0), ("a", 3.0, 11.0), ("a", 4.0, 14.0),
      ("b", 1.0, 9.0), ("b", 2.0, 8.0), ("b", 5.0, 5.0)).toDF("grp", "x", "y")
    val got = operators.Insights.groupedRegression(planted).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val (sa, ia, ra) = got("a")
    assert(math.abs(sa - 3.0) < 1e-9 && math.abs(ia - 2.0) < 1e-9 && math.abs(ra - 1.0) < 1e-9,
      s"group a: $sa $ia $ra")
    val (sb, ib, rb) = got("b")
    assert(math.abs(sb + 1.0) < 1e-9 && math.abs(ib - 10.0) < 1e-9 && math.abs(rb - 1.0) < 1e-9,
      s"group b: $sb $ib $rb")
    // real data: groups populated, r2 in range
    val rows = operators.Insights.q76.build(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      val r2 = r.getDouble(4)
      assert(r2 >= -1e-9 && r2 <= 1 + 1e-9, s"r2 out of range: $r2")
    }
  }

  // ------------------------------------------------------------- q77
  test("abc classification: classes partition the catalog, shares ordered and sum to 1") {
    val rows = operators.Insights.q77.build(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq("A", "B", "C"))
    val shares = rows.map(_._4)
    assert(math.abs(shares.sum - 1.0) < 1e-9, s"shares must sum to 1: ${shares.toSeq}")
    // A carries at least 80% by construction (the boundary part is in A)
    assert(shares(0) >= 0.80 - 1e-9, s"A share ${shares(0)}")
    assert(shares(1) >= shares(2) || rows(1)._2 <= rows(2)._2,
      "B parts are each bigger than C parts by rank order")
    // partition invariance of the two-level scan: a different shuffle
    // width must not move any class boundary
    val sp2 = spark.newSession()
    sp2.conf.set("spark.sql.shuffle.partitions", "7")
    val rows7 = operators.Insights.q77.build(sp2, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows7.toSeq == rows.toSeq, "class census must be partition-count invariant")
  }

  // ------------------------------------------------------------- q78
  test("new vs returning: day-level split conserves DAU and flags first days exactly") {
    val rows = operators.Insights.q78.build(spark, d).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // day 1 of the corpus: every active user is new by definition
    assert(rows.head._3 == 0L && rows.head._4 == 1.0, s"first day must be all-new: ${rows.head}")
    // conservation vs the stickiness DAU
    val dau = operators.Insights.q72.build(spark, d).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    rows.foreach { case (day, nu, ru, _) =>
      assert(nu + ru == dau(day), s"$day: new+returning must equal DAU") }
    // new users across all days = distinct users (each is new exactly once)
    val distinctUsers = Tables.events(spark, d).select(col("user_id")).distinct().count()
    assert(rows.map(_._2).sum == distinctUsers)
  }

  // ------------------------------------------------------------- q79
  test("trend decompose: flat planted series has zero residual; edges use truncated frames") {
    import spark.implicits._
    // 10 days x 4 events/day — trend = 4 everywhere, residual 0
    val ev = (0 until 10).flatMap(day => (0 until 4).map(i =>
      (day * 4L + i, f"2024-02-${day + 1}%02d 0$i:00:00")))
      .toDF("user_id", "tss")
      .select(col("user_id"), col("tss").cast("timestamp").as("ts"))
    // reuse the q79 day-grain plan inline on the fixture
    val dd = ev.groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
      .rowsBetween(-operators.Insights.TrendHalfWindow, operators.Insights.TrendHalfWindow)
    val out = dd.withColumn("ws", sum(col("n")).over(w).cast("long"))
      .withColumn("wc", count(lit(1)).over(w).cast("long"))
      .selectExpr("d", "n", s"${graft.Portable.round6RatioSpark("ws", "wc")} AS trend")
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(out.length == 10)
    out.foreach { case (n, t) => assert(n == 4L && t == 4.0, s"flat series: $n $t") }
    // real data: every residual equals n - trend
    val real = operators.Insights.q79.build(spark, d).collect()
    real.foreach { r =>
      assert(math.abs(r.getLong(1).toDouble - r.getDouble(2) - r.getDouble(3)) < 1e-9) }
  }

  // ------------------------------------------------- inverted index
  test("inverted index: df descending, postings sorted, truncated, and consistent with df") {
    val rows = functions.TextAnalysis.invertedIndex.build(spark, d).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.length == functions.TextAnalysis.IndexTopTokens)
    val dfs = rows.map(_._3)
    assert(dfs.zip(dfs.tail).forall { case (a, b) => a >= b }, "df must be non-increasing in rank")
    rows.foreach { case (_, tok, df, postings) =>
      val ids = postings.split(",").map(_.toLong)
      assert(ids.length == math.min(df, functions.TextAnalysis.PostingsPerToken.toLong),
        s"$tok: postings truncated to min(df, cap)")
      assert(ids.sorted.sameElements(ids), s"$tok: postings must be ascending")
      assert(ids.distinct.length == ids.length, s"$tok: postings must be distinct docs")
    }
  }

  // ------------------------------------------------------------- q74
  test("cohort matrix: planted two-cohort fixture hits the closed form") {
    import spark.implicits._
    // cohort W1 = {u1, u2}: u1 active W1+W2, u2 only W1
    // cohort W2 = {u3}: active W2 only
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"), (2L, "2024-01-02 10:00:00"),
      (1L, "2024-01-08 10:00:00"), (3L, "2024-01-09 10:00:00"))
      .toDF("user_id", "tss")
      .select(col("user_id"), col("tss").cast("timestamp").as("ts"))
    val got = operators.Insights.cohortMatrix(ev).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      ("2024-01-01", 0L, 2L, 2L, 1.0),
      ("2024-01-01", 1L, 1L, 2L, 0.5),
      ("2024-01-08", 0L, 1L, 1L, 1.0)))
  }

  test("grouped regression: degenerate groups (constant x or y) yield NULL, not Inf/NaN (r8)") {
    import spark.implicits._
    val planted = Seq(
      ("cx", 2.0, 1.0), ("cx", 2.0, 5.0), ("cx", 2.0, 9.0),   // constant x: no fit
      ("cy", 1.0, 7.0), ("cy", 2.0, 7.0), ("cy", 3.0, 7.0),   // constant y: slope 0, r2 NULL
      ("ok", 1.0, 3.0), ("ok", 2.0, 5.0)).toDF("grp", "x", "y")
    val got = operators.Insights.groupedRegression(planted).collect()
      .map(r => r.getString(0) -> r).toMap
    val cx = got("cx")
    assert(cx.isNullAt(2) && cx.isNullAt(3) && cx.isNullAt(4),
      "constant-x group must NULL all three outputs (detX = 0)")
    val cy = got("cy")
    assert(cy.getDouble(2) == 0.0 && cy.getDouble(3) == 7.0 && cy.isNullAt(4),
      "constant-y group fits the flat line but r2 is undefined (detY = 0)")
    val ok = got("ok")
    assert(math.abs(ok.getDouble(2) - 2.0) < 1e-9 && math.abs(ok.getDouble(3) - 1.0) < 1e-9)
  }

  test("mannKendallFromDaily persists into the caller's scope, and the result reads the cache") {
    import spark.implicits._
    val dd = Seq(("a", "2024-01-01", 3L), ("a", "2024-01-02", 5L), ("a", "2024-01-03", 4L),
        ("a", "2024-01-04", 8L), ("b", "2024-01-01", 2L), ("b", "2024-01-02", 1L))
      .toDF("event_type", "d", "c").withColumn("d", to_date(col("d")))
    CacheScope.withScope { implicit scope =>
      val out = operators.Insights2.mannKendallFromDaily(dd)
      assert(scope.trackedCount > 0, "the day frame must be persisted in the caller's scope")
      assert(out.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"),
        "the returned plan must read the persisted day frame")
      assert(out.collect().length == 2)
    }
  }
}
