package graft.operators

import graft.{Portable, QueryDef, Small, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Round-8 analytics tier (SURVEY.md §2.2 cont.): CUSUM changepoint
  * detection, market concentration (HHI), log-log price elasticity,
  * cohort lifetime value, and Kaplan–Meier retention survival — the
  * time-series / econometrics readouts the q1–q79 ladder doesn't
  * cover.
  *
  * House determinism rules (the q65/q77 lessons): cross-engine
  * comparisons run on EXACT integers or DECIMAL(38,0) products
  * (never a float threshold, never a BIGINT product that can wrap);
  * `ln` terms are 12-dp-rounded into DECIMAL(28,12) merge-order-free
  * sums (the `corpus_ngram_lm` discipline); surfaced doubles are
  * fixed-order IEEE trees over exacts shared token-for-token with
  * the oracle, unrounded.
  */
object Insights2 {

  // ----------------------------------------------------------- q80
  /** Oracle of the CUSUM deviation over daily counts `dd`: prefix
    * sums `w` and each day's exact |t·S_k − k·S_t| in `dev`. */
  private def cusumDevSql: String =
    """w AS (SELECT event_type, d, c,
          CAST(sum(c) OVER (PARTITION BY event_type ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sk,
          CAST(row_number() OVER (PARTITION BY event_type ORDER BY d) AS BIGINT) AS k,
          CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS st,
          CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS t
        FROM dd),
      dev AS (SELECT event_type, d, k, t, st,
          abs(CAST(t AS DECIMAL(19,0)) * sk - CAST(k AS DECIMAL(19,0)) * st) AS dk
        FROM w)"""

  /** Oracle of the Theil–Sen pair slopes over daily counts `dd`:
    * days since each type's first day `dx`, and every pair's slope
    * `pr`. */
  private def theilSenPairsSql: String =
    """dx AS (SELECT event_type,
        CAST(d - min(d) OVER (PARTITION BY event_type) AS BIGINT) AS x, c FROM dd),
      pr AS (SELECT a.event_type, (CAST(b.c AS DOUBLE) - a.c) / (b.x - a.x) AS slope
        FROM dx a JOIN dx b ON a.event_type = b.event_type AND b.x > a.x)"""

  /** Oracle of the Theil–Sen intercept given slopes `sl`: the median
    * residual `ic(event_type, ts_intercept)`. */
  private def theilSenInterceptSql: String =
    """rs AS (SELECT dx.event_type, CAST(dx.c AS DOUBLE) - sl.ts_slope * dx.x AS resid
        FROM dx JOIN sl ON dx.event_type = sl.event_type),
      ic AS (SELECT event_type, round(percentile_cont(0.5) WITHIN GROUP (ORDER BY resid), 6) AS ts_intercept
        FROM rs GROUP BY 1)"""

  /** q80: CUSUM changepoint detection on the daily event volume per
    * type — "did the level shift, and when?" (Page 1954's cumulative
    * sum; the at-most-one-changepoint scan every pipeline monitor
    * runs before alerting on drift). The statistic is the max over k
    * of |S_k − k·S_T/T| where S_k is the day-count prefix sum —
    * evaluated EXACTLY as |T·S_k − k·S_T| in DECIMAL(38,0) (the
    * scaled form never divides, and decimal, not BIGINT, so
    * day-count·total products cannot wrap int64 — the q77 lesson);
    * the argmax day breaks ties on the earlier day in both engines.
    *
    * 100 TB shape: the corpus collapses to ONE (type, day) count
    * aggregate (map-combinable); prefix sums, the max pick, and the
    * surfaced relative deviation all run at days-scale. */
  val q80 = QueryDef(
    "q80_cusum_changepoint",
    Some(s"""WITH dd AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS c
        FROM events GROUP BY 1, 2),
      $cusumDevSql,
      mx AS (SELECT event_type, d AS cp_day, dk, t, st,
          row_number() OVER (PARTITION BY event_type ORDER BY dk DESC, d) AS rk
        FROM dev)
      SELECT event_type, cp_day, t AS n_days, st AS n_events,
        CAST(dk AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(st AS DOUBLE)) AS rel_dev
      FROM mx WHERE rk = 1 ORDER BY event_type"""),
    (s, d) => cusumChangepoint(Tables.events(s, d)
      .select(col("event_type"), col("ts"))))

  /** CUSUM argmax over (event_type, ts) rows — see [[q80]]. */
  def cusumChangepoint(ev: DataFrame): DataFrame =
    cusumFromDaily(ev
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("c")))

  /** [[cusumChangepoint]] off a prebuilt (event_type, d, c) day-grain
    * frame — the `pipeline_trend_panel` reuse point. */
  def cusumFromDaily(dd: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val wAll = Window.partitionBy(col("event_type"))
    val dev = dd
      .withColumn("sk", sum(col("c")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast(LongType))
      .withColumn("k", row_number().over(wOrd).cast(LongType))
      .withColumn("st", sum(col("c")).over(wAll).cast(LongType))
      .withColumn("t", count(lit(1)).over(wAll).cast(LongType))
      .selectExpr("event_type", "d", "k", "t", "st",
        "abs(CAST(t AS DECIMAL(19,0)) * sk - CAST(k AS DECIMAL(19,0)) * st) AS dk")
    dev.withColumn("rk",
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("dk").desc, col("d"))))
      .filter(col("rk") === 1)
      .selectExpr("event_type", "d AS cp_day", "t AS n_days", "st AS n_events",
        "CAST(dk AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(st AS DOUBLE)) AS rel_dev")
      .orderBy(col("event_type"))
  }

  // ----------------------------------------------------------- q81
  /** q81: market concentration per region — supplier revenue shares,
    * Herfindahl–Hirschman index (Σ 10000·sᵢ², the antitrust/catalog-
    * concentration staple) and the top-firm share.
    *
    * Determinism: revenues are exact BIGINT cents; Σ rcᵢ² is a
    * DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0) product sum (exact
    * at any corpus size — BIGINT rc² would wrap past ~3e9 cents per
    * firm); HHI and top-share are single fixed-order IEEE trees over
    * the exact aggregates, shared token-for-token, unrounded.
    *
    * 100 TB shape: lineitem collapses to ONE (nation, supplier)
    * cents aggregate keyed by suppkey (map-combinable); the
    * nation→region dims ride broadcasts; everything after is
    * firm-grain then region-grain. */
  val q81 = QueryDef(
    "q81_hhi_concentration",
    Some("""WITH rev AS (SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
        CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rc
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2),
      rr AS (SELECT r.r_name AS region, rev.sk, rev.rc
        FROM rev JOIN nation n ON rev.nk = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey),
      agg AS (SELECT region, CAST(count(*) AS BIGINT) AS n_firms,
          CAST(sum(rc) AS BIGINT) AS tc, CAST(max(rc) AS BIGINT) AS mx,
          sum(CAST(rc AS DECIMAL(19,0)) * CAST(rc AS DECIMAL(19,0))) AS ssq
        FROM rr GROUP BY region)
      SELECT region, n_firms, CAST(tc AS DOUBLE) / 100.0 AS revenue,
        10000.0 * (CAST(ssq AS DOUBLE) / (CAST(tc AS DOUBLE) * CAST(tc AS DOUBLE))) AS hhi,
        CAST(mx AS DOUBLE) / CAST(tc AS DOUBLE) AS top_share
      FROM agg ORDER BY region"""),
    (s, d) => {
      val rev = Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nk"), col("l_suppkey").as("sk"))
        .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .cast(LongType).as("rc"))
      val dims = broadcast(Tables.nation(s, d)
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("nk"), col("r_name").as("region")))
      rev.join(dims, Seq("nk"))
        .groupBy(col("region"))
        .agg(count(lit(1)).cast(LongType).as("n_firms"),
          sum(col("rc")).cast(LongType).as("tc"),
          max(col("rc")).cast(LongType).as("mx"),
          sum(expr("CAST(rc AS DECIMAL(19,0)) * CAST(rc AS DECIMAL(19,0))")).as("ssq"))
        .selectExpr("region", "n_firms", "CAST(tc AS DOUBLE) / 100.0 AS revenue",
          "10000.0 * (CAST(ssq AS DOUBLE) / (CAST(tc AS DOUBLE) * CAST(tc AS DOUBLE))) AS hhi",
          "CAST(mx AS DOUBLE) / CAST(tc AS DOUBLE) AS top_share")
        .orderBy(col("region"))
    })

  // ----------------------------------------------------------- q82
  /** Shared 12-dp ln-feature moment fragments for [[q82]] — the
    * [[Insights.q76]] closed forms over moments built from
    * `round(ln(·), 12)` features summed as DECIMAL(28,12) (the
    * `corpus_ngram_lm` ln discipline: q76's DECIMAL(18,6) feature
    * casts are exact only for ≤2-dp decimal-origin inputs; ln outputs
    * need the 12-dp rounding + wide-decimal path to stay
    * merge-order-free AND cross-engine identical). */
  private def lnMomentsSql(src: String): String =
    s"""SELECT grp, CAST(count(*) AS DOUBLE) AS n,
       CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
       CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
       CAST(sum(CAST(round(x * x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
       CAST(sum(CAST(round(x * y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
       CAST(sum(CAST(round(y * y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS syy
       FROM $src GROUP BY grp"""

  /** q82: price elasticity of demand per part brand — the log-log
    * regression `ln(qty) ~ ln(unit price)` whose slope IS the
    * elasticity (the pricing-analytics staple; elastic products have
    * slope < −1). Features are `round(ln(·), 12)` doubles (identical
    * in both engines by the ngram-LM discipline), moments are
    * DECIMAL(28,12) merge-order-free sums, the closed forms are
    * [[Insights]]'s det-guarded OLS fragments, surfaced unrounded.
    *
    * 100 TB shape: lineitem joins the part dim on partkey for the
    * brand key (at catalog scale this is the one corpus shuffle —
    * or zero with both sides bucketed by partkey), then ONE
    * map-combinable moment aggregate per brand and brand-grain
    * algebra. */
  val q82 = QueryDef(
    "q82_price_elasticity",
    Some(s"""WITH f AS (SELECT p.p_brand AS grp,
        round(ln(CAST(l.l_extendedprice AS DOUBLE) / CAST(l.l_quantity AS DOUBLE)), 12) AS x,
        round(ln(CAST(l.l_quantity AS DOUBLE)), 12) AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      m AS (${lnMomentsSql("f")})
      SELECT grp AS brand, CAST(n AS BIGINT) AS n_rows,
        ${Insights.regSlope} AS elasticity,
        ${Insights.regIntercept} AS intercept,
        ${Insights.regR2} AS r2
      FROM m ORDER BY brand"""),
    (s, d) => {
      val f = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .selectExpr("p_brand AS grp",
          "round(ln(CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE)), 12) AS x",
          "round(ln(CAST(l_quantity AS DOUBLE)), 12) AS y")
      val m = f.groupBy(col("grp"))
        .agg(count(lit(1)).cast(DoubleType).as("n"),
          sum(col("x").cast(DecimalType(28, 12))).cast(DoubleType).as("sx"),
          sum(col("y").cast(DecimalType(28, 12))).cast(DoubleType).as("sy"),
          sum(expr("CAST(round(x * x, 12) AS DECIMAL(28,12))")).cast(DoubleType).as("sxx"),
          sum(expr("CAST(round(x * y, 12) AS DECIMAL(28,12))")).cast(DoubleType).as("sxy"),
          sum(expr("CAST(round(y * y, 12) AS DECIMAL(28,12))")).cast(DoubleType).as("syy"))
      m.selectExpr("grp AS brand", "CAST(n AS BIGINT) AS n_rows",
          s"${Insights.regSlope} AS elasticity",
          s"${Insights.regIntercept} AS intercept",
          s"${Insights.regR2} AS r2")
        .orderBy(col("brand"))
    })

  // ----------------------------------------------------------- q83
  /** q83: cohort lifetime value — customers grouped by first-order
    * month, cumulative revenue per cohort by months-since-first (the
    * LTV curve finance models payback periods on; q74 is the
    * retention COUNT matrix, this is the REVENUE matrix). Exact
    * BIGINT cents end to end; month index is `year·12 + month`
    * (exact integers, identical in both engines); LTV is one
    * fixed-order IEEE tree over exacts, unrounded.
    *
    * 100 TB shape: orders pre-collapse to (customer, month) cents
    * BEFORE the cohort join (one customer-keyed shuffle joins the
    * customer-grain first-month aggregate), then everything is
    * (cohort, age)-grain; the running sum is a cohort-keyed window
    * over months-scale rows. */
  val q83 = QueryDef(
    "q83_cohort_ltv",
    Some(s"""WITH om AS (SELECT o_custkey AS c,
        year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS ym,
        CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2),
      fc AS (SELECT c, min(ym) AS cohort FROM om GROUP BY c),
      sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_n FROM fc GROUP BY cohort),
      rev AS (SELECT f.cohort, om.ym - f.cohort AS age, CAST(sum(om.cents) AS BIGINT) AS rc
        FROM om JOIN fc f ON om.c = f.c GROUP BY 1, 2),
      cum AS (SELECT cohort, age, rc,
          CAST(sum(rc) OVER (PARTITION BY cohort ORDER BY age ROWS UNBOUNDED PRECEDING) AS BIGINT) AS crc
        FROM rev)
      SELECT c.cohort, c.age, s.cohort_n,
        CAST(c.rc AS DOUBLE) / 100.0 AS revenue,
        CAST(c.crc AS DOUBLE) / 100.0 AS cum_revenue,
        CAST(c.crc AS DOUBLE) / (100.0 * s.cohort_n) AS ltv
      FROM cum c JOIN sz s ON c.cohort = s.cohort ORDER BY c.cohort, c.age"""),
    (s, d) => {
      val om = Tables.orders(s, d)
        .selectExpr("o_custkey AS c",
          "year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS ym",
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents0")
        .groupBy(col("c"), col("ym"))
        .agg(sum(col("cents0")).cast(LongType).as("cents"))
      val fc = om.groupBy(col("c")).agg(min(col("ym")).as("cohort"))
      val sz = fc.groupBy(col("cohort")).agg(count(lit(1)).cast(LongType).as("cohort_n"))
      val rev = om.join(fc, Seq("c"))
        .groupBy(col("cohort"), (col("ym") - col("cohort")).as("age"))
        .agg(sum(col("cents")).cast(LongType).as("rc"))
      val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("crc", sum(col("rc")).over(w).cast(LongType))
        .join(broadcast(sz), Seq("cohort"))
        .selectExpr("cohort", "age", "cohort_n",
          "CAST(rc AS DOUBLE) / 100.0 AS revenue",
          "CAST(crc AS DOUBLE) / 100.0 AS cum_revenue",
          "CAST(crc AS DOUBLE) / (100.0 * cohort_n) AS ltv")
        .orderBy(col("cohort"), col("age"))
    })

  // ----------------------------------------------------------- q84
  /** q84: Kaplan–Meier retention survival over user activity spans —
    * lifetime = whole weeks between a user's first and last event;
    * users still active in the corpus's final week are CENSORED
    * (they inform the at-risk sets but never count as churn — the
    * standard right-censoring the naive "lifetime histogram" gets
    * wrong). Survival is surfaced in LOG space: ln S(t) =
    * Σ_{u≤t} ln((n_u − d_u)/n_u) with each term 12-dp-rounded into a
    * DECIMAL(28,12) running sum (the ngram-LM discipline — exact,
    * merge-order-free, engine-identical; surfacing exp of it would
    * put a libm ulp on every row). The hazard is the shared IEEE
    * division, unrounded. Rows where d = n (everyone at risk churns;
    * S hits 0, ln S undefined) surface NULL identically.
    *
    * 100 TB shape: events → distinct (user, week) → ONE user-grain
    * (first, last) aggregate → a lifetimes histogram; at-risk counts
    * are a reverse prefix sum and the KM product a forward prefix
    * sum, both over weeks-scale rows. */
  val q84 = QueryDef(
    "q84_survival_retention",
    Some(s"""WITH uw AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
      ul AS (SELECT user_id, min(wk) AS fw, max(wk) AS lw FROM uw GROUP BY user_id),
      mw AS (SELECT max(wk) AS mw FROM uw),
      lt AS (SELECT CAST((ul.lw - ul.fw) // 7 AS BIGINT) AS life,
          CASE WHEN ul.lw = mw.mw THEN 1 ELSE 0 END AS cens
        FROM ul, mw),
      h AS (SELECT life, CAST(count(*) AS BIGINT) AS tot,
          CAST(sum(1 - cens) AS BIGINT) AS d
        FROM lt GROUP BY life),
      rs AS (SELECT life, d,
          CAST(sum(tot) OVER (ORDER BY life DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n
        FROM h),
      km AS (SELECT life, d, n,
          sum(CASE WHEN d < n THEN CAST(round(ln(CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS DECIMAL(28,12)) END)
            OVER (ORDER BY life ROWS UNBOUNDED PRECEDING) AS lns
        FROM rs)
      SELECT life AS life_weeks, n AS n_at_risk, d AS n_churned,
        CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS hazard,
        CASE WHEN d < n THEN CAST(lns AS DOUBLE) END AS ln_survival
      FROM km ORDER BY life"""),
    (s, d) => survivalRetention(Tables.events(s, d)
      .select(col("user_id"), col("ts"))))

  /** KM survival over (user_id, ts) rows — see [[q84]]. */
  def survivalRetention(ev: DataFrame): DataFrame = {
    val uw = ev
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
    val ul = uw.groupBy(col("user_id")).agg(min(col("wk")).as("fw"), max(col("wk")).as("lw"))
    val mw = uw.agg(max(col("wk")).as("mw"))
    val lt = ul.crossJoin(broadcast(mw))
      .selectExpr("CAST(datediff(lw, fw) div 7 AS BIGINT) AS life",
        "CASE WHEN lw = mw THEN 1 ELSE 0 END AS cens")
    val h = lt.groupBy(col("life"))
      .agg(count(lit(1)).cast(LongType).as("tot"),
        sum(lit(1) - col("cens")).cast(LongType).as("d"))
    val wDesc = Window.orderBy(col("life").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("life"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.withColumn("n", sum(col("tot")).over(wDesc).cast(LongType))
      .withColumn("lns", sum(expr(
        "CASE WHEN d < n THEN CAST(round(ln(CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS DECIMAL(28,12)) END"))
        .over(wAsc))
      .selectExpr("life AS life_weeks", "n AS n_at_risk", "d AS n_churned",
        "CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS hazard",
        "CASE WHEN d < n THEN CAST(lns AS DOUBLE) END AS ln_survival")
      .orderBy(col("life_weeks"))
  }

  // ----------------------------------------------------------- q85
  /** First-digit extraction as a fixed CASE ladder of integer
    * divisions — pure BIGINT, rung by rung from 10^14 down (covers
    * amounts to 10^13 cents = $100B per line), identical truncating
    * division in both engines; no log10/float boundary (`floor(
    * log10(10^k))` can land at k−ε in libm, misclassifying exact
    * powers of ten). `idiv` is `//` (DuckDB) or `div` (Spark). */
  private def firstDigitSql(c: String, idiv: String): String = {
    val rungs = (14 to 1 by -1).map { k =>
      val p = "1" + "0" * k
      s"WHEN $c >= $p THEN $c $idiv $p"
    }
    s"CASE ${rungs.mkString(" ")} ELSE $c END"
  }

  /** Benford's-law expected first-digit probabilities log₁₀(1+1/d),
    * computed ONCE driver-side and interpolated as double literals
    * into both engines (per-engine log10 would put a libm ulp on
    * every expectation). */
  private val benfordP: IndexedSeq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /** q85: Benford first-digit audit over lineitem amounts — the
    * fraud/anomaly screen auditors run on any money column (Nigrini's
    * digit analysis): observed first-digit shares vs Benford's
    * log₁₀(1+1/d), with the per-digit χ² contribution
    * (o − N·p)²/(N·p). All 9 digits are enumerated (an absent digit
    * owes its full expectation term — the q66 grid discipline);
    * digits come from the integer CASE ladder, shares and χ² terms
    * are fixed-order IEEE trees over exact counts and the shared
    * driver literals, unrounded.
    *
    * 100 TB shape: ONE 9-ary count aggregate over the corpus
    * (map-combinable), then 9-row algebra. */
  val q85 = QueryDef(
    "q85_benford_audit",
    Some {
      val pArr = benfordP.map(p => s"CAST($p AS DOUBLE)").mkString("[", ", ", "]")
      s"""WITH c AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          FROM lineitem WHERE l_extendedprice > 0),
        fd AS (SELECT ${firstDigitSql("v", "//")} AS d FROM c),
        o AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM fd GROUP BY d),
        nn AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM o),
        grid AS (SELECT i AS d, $pArr[i] AS p FROM (SELECT unnest(range(1, 10)) AS i)),
        g AS (SELECT grid.d, grid.p, COALESCE(o.n, 0) AS n, nn.nt
          FROM grid LEFT JOIN o ON o.d = grid.d, nn)
        SELECT d AS digit, n, CAST(n AS DOUBLE) / nt AS obs_share, p AS benford_p,
          (CAST(n AS DOUBLE) - CAST(nt AS DOUBLE) * p) * (CAST(n AS DOUBLE) - CAST(nt AS DOUBLE) * p) / (CAST(nt AS DOUBLE) * p) AS chi2_term
        FROM g ORDER BY d"""
    },
    (s, d) => benfordAudit(Tables.lineitem(s, d)
      .filter(col("l_extendedprice") > 0)
      .selectExpr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v")))

  /** Benford audit over one positive-BIGINT `v` column — see [[q85]]. */
  def benfordAudit(amounts: DataFrame): DataFrame = {
    val pArr = benfordP.map(p => s"CAST($p AS DOUBLE)").mkString("array(", ", ", ")")
    // the 9 first digits of a positive v below 10^15 feed the total
    // AND the grid join; a v outside that range fails the bound
    val o = Small(amounts
      .selectExpr(s"${firstDigitSql("v", "div")} AS d")
      .groupBy(col("d")).agg(count(lit(1)).cast(LongType).as("n")), 9, "benford digit counts")
    val nn = o.agg(sum(col("n")).cast(LongType).as("nt"))
    val grid = amounts.sparkSession.range(1, 10)
      .selectExpr("id AS d", s"element_at($pArr, CAST(id AS INT)) AS p")
    grid.join(o, Seq("d"), "left")
      .crossJoin(broadcast(nn))
      .selectExpr("d AS digit", "COALESCE(n, 0) AS n", "p", "nt")
      .selectExpr("digit", "n", "CAST(n AS DOUBLE) / nt AS obs_share", "p AS benford_p",
        "(CAST(n AS DOUBLE) - CAST(nt AS DOUBLE) * p) * (CAST(n AS DOUBLE) - CAST(nt AS DOUBLE) * p) / (CAST(nt AS DOUBLE) * p) AS chi2_term")
      .orderBy(col("digit"))
  }

  // ----------------------------------------------------------- q86
  /** q86: χ² test of independence for order priority × customer
    * market segment — the contingency-table readout behind every
    * "does X depend on Y?" dashboard claim (Pearson 1900). The full
    * i×j grid is enumerated from the marginals (an absent cell owes
    * its full expectation term — the q66/q85 grid discipline);
    * expectations e = rᵢ·cⱼ/N and the per-cell term (o − e)²/e are
    * fixed-order IEEE trees over exact BIGINT counts, shared
    * token-for-token with the oracle, unrounded (the all-integer
    * scaled form (N·o − r·c)² overflows DECIMAL(38,0) once N passes
    * ~1e9 rows — the double tree has no such cliff and is
    * engine-identical on exact inputs).
    *
    * 100 TB shape: ONE (priority, segment) count aggregate after the
    * customer join (customer-keyed shuffle — or zero with both sides
    * bucketed on custkey), then cells-scale algebra; marginals and N
    * ride broadcasts. */
  val q86 = QueryDef(
    "q86_chi2_independence",
    Some("""WITH cell AS (SELECT o.o_orderpriority AS pr, c.c_mktsegment AS seg, count(*) AS o
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY 1, 2),
      rr AS (SELECT pr, CAST(sum(o) AS BIGINT) AS r FROM cell GROUP BY pr),
      cc AS (SELECT seg, CAST(sum(o) AS BIGINT) AS c FROM cell GROUP BY seg),
      nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cell),
      grid AS (SELECT rr.pr, rr.r, cc.seg, cc.c FROM rr, cc),
      g AS (SELECT grid.pr, grid.seg, COALESCE(cell.o, 0) AS o, grid.r, grid.c, nn.n
        FROM grid LEFT JOIN cell ON cell.pr = grid.pr AND cell.seg = grid.seg, nn)
      SELECT pr AS priority, seg AS segment, CAST(o AS BIGINT) AS n_orders,
        CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
        (CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS chi2_term
      FROM g ORDER BY priority, segment"""),
    (s, d) => chi2Independence(Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderpriority").as("pr"), col("c_mktsegment").as("seg"))))

  /** χ² independence cells over (pr, seg) rows — see [[q86]]. */
  def chi2Independence(rows: DataFrame): DataFrame = {
    val cell = rows.groupBy(col("pr"), col("seg")).agg(count(lit(1)).as("o"))
      .localCheckpoint(true) // cells-scale; feeds marginals AND the grid
    val rr = cell.groupBy(col("pr")).agg(sum(col("o")).cast(LongType).as("r"))
    val cc = cell.groupBy(col("seg")).agg(sum(col("o")).cast(LongType).as("c"))
    val nn = cell.agg(sum(col("o")).cast(LongType).as("n"))
    val eTree = "CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)"
    rr.crossJoin(broadcast(cc))
      // cell is checkpointed (no stats) — hint the broadcast, or the
      // 25-row left join falls to a sort-merge
      .join(broadcast(cell), Seq("pr", "seg"), "left")
      .crossJoin(broadcast(nn))
      .selectExpr("pr", "seg", "COALESCE(o, 0) AS o", "r", "c", "n")
      .selectExpr("pr AS priority", "seg AS segment", "CAST(o AS BIGINT) AS n_orders",
        s"$eTree AS expected",
        s"(CAST(o AS DOUBLE) - $eTree) * (CAST(o AS DOUBLE) - $eTree) / ($eTree) AS chi2_term")
      .orderBy(col("priority"), col("segment"))
  }

  // ----------------------------------------------------------- q87
  /** q87: seasonal-naïve forecast backtest per event type — forecast
    * each day's volume with the same weekday LAST week (the baseline
    * every real forecaster must beat; Hyndman's M-competition
    * protocol) and score it on the corpus itself. The forecast is a
    * CALENDAR join on `d − 7 days` (r9 fix of the r8 ADVICE item:
    * `lag(n, 7)` over ROWS is 7 rows back, which on a series with
    * missing days is NOT the same weekday last week — sparse types
    * got a wrong-day forecast); days with no activity exactly a week
    * earlier are unscoreable and drop, identically in both engines.
    * Errors: WAPE = Σ|actual − forecast| / Σactual over exact BIGINT
    * counts (one IEEE division — the integer-exact headline number)
    * and MAPE via the 12-dp DECIMAL term discipline (a raw double
    * mean would depend on aggregation order).
    *
    * 100 TB shape: ONE (type, day) count aggregate, then a
    * days-scale (type, day)-keyed self-join (forecast side broadcast
    * — days-grain stays KB-size at any corpus size) and type-grain
    * sums — days-scale past the first aggregate. */
  val q87 = QueryDef(
    "q87_seasonal_naive_backtest",
    Some("""WITH dd AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n
        FROM events GROUP BY 1, 2),
      f AS (SELECT a.event_type, a.d, a.n, b.n AS fc
        FROM dd a JOIN dd b ON b.event_type = a.event_type AND b.d = a.d - 7),
      sc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(abs(n - fc)) AS BIGINT) AS sae, CAST(sum(n) AS BIGINT) AS sa,
          CAST(sum(CAST(round(CAST(abs(n - fc) AS DOUBLE) / n, 12) AS DECIMAL(28,12))) AS DOUBLE) AS mape_sum
        FROM f GROUP BY event_type)
      SELECT event_type, n_days,
        CAST(sae AS DOUBLE) / sa AS wape,
        mape_sum / n_days AS mape
      FROM sc ORDER BY event_type"""),
    (s, d) => seasonalNaiveBacktest(Tables.events(s, d)
      .select(col("event_type"), col("ts"))))

  /** Seasonal-naïve WAPE/MAPE over (event_type, ts) rows — [[q87]]. */
  def seasonalNaiveBacktest(ev: DataFrame): DataFrame =
    snaiveFromDaily(ev
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)) // days-grain; feeds actuals AND forecasts

  /** [[seasonalNaiveBacktest]] off a prebuilt (event_type, d, n)
    * day-grain frame — the `pipeline_trend_panel` reuse point. */
  def snaiveFromDaily(dd: DataFrame): DataFrame = {
    val fc = dd.select(col("event_type"), date_add(col("d"), 7).as("d"),
      col("n").as("fc"))
    dd.join(broadcast(fc), Seq("event_type", "d"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast(LongType).as("n_days"),
        sum(abs(col("n") - col("fc"))).cast(LongType).as("sae"),
        sum(col("n")).cast(LongType).as("sa"),
        sum(expr("CAST(round(CAST(abs(n - fc) AS DOUBLE) / n, 12) AS DECIMAL(28,12))"))
          .cast(DoubleType).as("mape_sum"))
      .selectExpr("event_type", "n_days",
        "CAST(sae AS DOUBLE) / sa AS wape", "mape_sum / n_days AS mape")
      .orderBy(col("event_type"))
  }

  // ----------------------------------------------------------- q88
  /** Shared report fragments over (n_keys, n_rows, max_freq) — the
    * skew ratio `max / (rows/keys)` and the salting factor that
    * targets max-bucket ≈ 4× average, both fixed-order IEEE trees
    * over exact BIGINTs shared token-for-token with the oracle
    * (identical division + ceil in both engines). */
  private val skewRatioExpr =
    "CAST(max_freq AS DOUBLE) / (CAST(n_rows AS DOUBLE) / n_keys)"
  private val saltExpr =
    """greatest(CAST(1 AS BIGINT), CAST(ceil(CAST(max_freq AS DOUBLE)
       / (4.0 * (CAST(n_rows AS DOUBLE) / n_keys))) AS BIGINT))"""

  /** q88: join-key SKEW report — the diagnostic a pipeline runs
    * BEFORE choosing a join strategy (broadcast vs shuffle vs the
    * q41 salted join; AQE's skew-join split helps single stages, but
    * the salting factor for iterative or bucketed layouts is a
    * design-time number this report supplies). Per candidate fact
    * join key: distinct-key count, row count, the hottest key's
    * frequency and exact p50/p99 frequency (the head/tail shape —
    * a high p99/p50 gap with moderate max means broad heat, one
    * mega-key means one salt target), the skew ratio max/avg, and
    * the suggested salting factor targeting max-bucket ≈ 4× average.
    *
    * 100 TB shape: per key ONE shrinking row→key-grain count
    * aggregate, the report algebra at key grain (percentiles via the
    * exact distributed-selection machinery — never a sort shuffle),
    * 2 output rows. */
  val q88 = QueryDef(
    "q88_join_skew_report",
    Some(s"""WITH ck AS (SELECT CAST(count(*) AS BIGINT) AS f FROM orders GROUP BY o_custkey),
      sk AS (SELECT CAST(count(*) AS BIGINT) AS f FROM lineitem GROUP BY l_suppkey),
      rep AS (
        SELECT 'orders.o_custkey' AS key_col, CAST(count(*) AS BIGINT) AS n_keys,
          CAST(sum(f) AS BIGINT) AS n_rows, CAST(max(f) AS BIGINT) AS max_freq,
          round(percentile_cont(0.5) WITHIN GROUP (ORDER BY CAST(f AS DOUBLE)), 6) AS p50_freq,
          round(percentile_cont(0.99) WITHIN GROUP (ORDER BY CAST(f AS DOUBLE)), 6) AS p99_freq
        FROM ck
        UNION ALL
        SELECT 'lineitem.l_suppkey', CAST(count(*) AS BIGINT),
          CAST(sum(f) AS BIGINT), CAST(max(f) AS BIGINT),
          round(percentile_cont(0.5) WITHIN GROUP (ORDER BY CAST(f AS DOUBLE)), 6),
          round(percentile_cont(0.99) WITHIN GROUP (ORDER BY CAST(f AS DOUBLE)), 6)
        FROM sk)
      SELECT key_col, n_keys, n_rows, max_freq, p50_freq, p99_freq,
        $skewRatioExpr AS skew_ratio,
        $saltExpr AS suggested_salt
      FROM rep ORDER BY key_col"""),
    (s, d) => {
      val ck = Tables.orders(s, d).select(col("o_custkey"))
        .groupBy(col("o_custkey")).agg(count(lit(1)).cast(LongType).as("f"))
        .select(lit("orders.o_custkey").as("kc"), col("f"))
      val sk = Tables.lineitem(s, d).select(col("l_suppkey"))
        .groupBy(col("l_suppkey")).agg(count(lit(1)).cast(LongType).as("f"))
        .select(lit("lineitem.l_suppkey").as("kc"), col("f"))
      val freq = graft.CacheScope.untracked.persist(ck.unionAll(sk))
      joinSkewReport(freq)
    })

  /** Skew report over a (kc, f) key-frequency frame — see [[q88]]. */
  def joinSkewReport(freq: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val agg = freq.groupBy(col("kc"))
      .agg(count(lit(1)).cast(LongType).as("n_keys"),
        sum(col("f")).cast(LongType).as("n_rows"),
        max(col("f")).cast(LongType).as("max_freq"))
    val pct = ExactPercentiles.percentiles(freq, "kc", "f", Seq(0.5, 0.99))
      .groupBy(col("g").as("kc"))
      .agg(min(when(col("p") === 0.5, col("value"))).as("p50"),
        min(when(col("p") === 0.99, col("value"))).as("p99"))
    agg.join(broadcast(pct), Seq("kc"))
      .select(col("kc").as("key_col"), col("n_keys"), col("n_rows"), col("max_freq"),
        round(col("p50"), 6).as("p50_freq"), round(col("p99"), 6).as("p99_freq"))
      .selectExpr("key_col", "n_keys", "n_rows", "max_freq", "p50_freq", "p99_freq",
        s"$skewRatioExpr AS skew_ratio", s"$saltExpr AS suggested_salt")
      .orderBy(col("key_col"))
  }

  // ----------------------------------------------------------- q89
  /** q89: data-quality AUDIT report — the expectation suite a
    * pipeline runs before trusting a new snapshot (the Deequ/
    * Great-Expectations check classes, re-expressed as one
    * long-format Spark report): per-column completeness (null
    * counts), domain membership (values outside the allowed set),
    * range validity (sign/interval violations), primary-key
    * uniqueness (rows minus distinct keys), referential integrity
    * (child keys with no parent), and bounded-domain cardinality.
    * Every row carries the exact violation count, the table total,
    * the 6-dp violation rate, and the pass verdict.
    *
    * Determinism: every metric is an exact BIGINT conditional count;
    * the rate is the pure-BIGINT half-up ratio
    * ([[graft.Portable.round6RatioSql]]); `ok` compares exact
    * integers — no float ever crosses the engine boundary.
    *
    * 100 TB shape: the scan-local check classes (completeness /
    * domain / range / uniqueness / cardinality) fold into ONE
    * column-pruned aggregate per table — conditional sums are
    * map-combinable, the count-distincts ride Spark's two-phase
    * partial-distinct expand, no row ever leaves its scan until the
    * final 1-row combine. The two FK checks are single keyed
    * shuffle joins on the pruned key columns (both sides data-scale
    * at 100 TB, so a hash-partitioned join IS the right shape; AQE
    * broadcasts the parent at small SF). Output is checks-grain
    * (~17 rows). */
  val q89 = QueryDef(
    "q89_dq_audit",
    Some(s"""WITH o AS (SELECT CAST(count(*) AS BIGINT) AS total,
        CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_price,
        CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_date,
        CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') OR o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
        CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW') OR o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_prio,
        CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_price,
        CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_pk
      FROM orders),
      l AS (SELECT CAST(count(*) AS BIGINT) AS total,
        CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ship,
        CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') OR l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_flag,
        CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
        CAST(sum(CASE WHEN l_discount < 0 OR l_discount >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc,
        CAST(sum(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_tax
      FROM lineitem),
      c AS (SELECT CAST(count(*) AS BIGINT) AS total,
        CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_bal,
        CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) AS dup_pk,
        CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS card_seg
      FROM customer),
      dc AS (SELECT CAST(count(*) AS BIGINT) AS total,
        CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
        CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang,
        CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS dup_pk,
        CAST(count(DISTINCT lang) AS BIGINT) AS card_lang
      FROM documents),
      flo AS (SELECT CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS metric,
        CAST(count(*) AS BIGINT) AS total
        FROM lineitem li LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON li.l_orderkey = o.o_orderkey),
      foc AS (SELECT CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS metric,
        CAST(count(*) AS BIGINT) AS total
        FROM orders od LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          ON od.o_custkey = c.c_custkey),
      rows_ AS (
        SELECT 'completeness' AS check_name, 'orders' AS tbl, 'o_totalprice' AS col_name, null_price AS metric, total FROM o
        UNION ALL SELECT 'completeness', 'orders', 'o_orderdate', null_date, total FROM o
        UNION ALL SELECT 'completeness', 'lineitem', 'l_shipdate', null_ship, total FROM l
        UNION ALL SELECT 'completeness', 'customer', 'c_acctbal', null_bal, total FROM c
        UNION ALL SELECT 'completeness', 'documents', 'text', null_text, total FROM dc
        UNION ALL SELECT 'completeness', 'documents', 'lang', null_lang, total FROM dc
        UNION ALL SELECT 'domain', 'orders', 'o_orderstatus', bad_status, total FROM o
        UNION ALL SELECT 'domain', 'orders', 'o_orderpriority', bad_prio, total FROM o
        UNION ALL SELECT 'domain', 'lineitem', 'l_returnflag', bad_flag, total FROM l
        UNION ALL SELECT 'range', 'orders', 'o_totalprice', neg_price, total FROM o
        UNION ALL SELECT 'range', 'lineitem', 'l_quantity', bad_qty, total FROM l
        UNION ALL SELECT 'range', 'lineitem', 'l_discount', bad_disc, total FROM l
        UNION ALL SELECT 'range', 'lineitem', 'l_tax', bad_tax, total FROM l
        UNION ALL SELECT 'uniqueness', 'orders', 'o_orderkey', dup_pk, total FROM o
        UNION ALL SELECT 'uniqueness', 'customer', 'c_custkey', dup_pk, total FROM c
        UNION ALL SELECT 'uniqueness', 'documents', 'doc_id', dup_pk, total FROM dc
        UNION ALL SELECT 'fk_orphans', 'lineitem', 'l_orderkey', metric, total FROM flo
        UNION ALL SELECT 'fk_orphans', 'orders', 'o_custkey', metric, total FROM foc
        UNION ALL SELECT 'cardinality', 'customer', 'c_mktsegment', card_seg, total FROM c
        UNION ALL SELECT 'cardinality', 'documents', 'lang', card_lang, total FROM dc)
      SELECT check_name, tbl, col_name, metric, total,
        ${Portable.round6RatioDuck("metric", "total")} AS rate,
        CASE WHEN check_name = 'cardinality' THEN metric <= 64 ELSE metric = 0 END AS ok
      FROM rows_ ORDER BY check_name, tbl, col_name"""),
    (s, d) => dqAudit(Tables.orders(s, d), Tables.lineitem(s, d),
      Tables.customer(s, d), Tables.documents(s, d)))

  /** Long-format DQ report over the four audited frames — see [[q89]]. */
  def dqAudit(orders: DataFrame, lineitem: DataFrame,
      customer: DataFrame, documents: DataFrame): DataFrame = {
    def cnt(cond: String): Column =
      sum(expr(s"CASE WHEN $cond THEN 1 ELSE 0 END")).cast(LongType)
    def row3(check: String, tbl: String, col: String): Seq[String] =
      Seq(s"'$check'", s"'$tbl'", s"'$col'")

    val o = orders.agg(
      count(lit(1)).cast(LongType).as("total"),
      cnt("o_totalprice IS NULL").as("null_price"),
      cnt("o_orderdate IS NULL").as("null_date"),
      cnt("o_orderstatus NOT IN ('F','O','P') OR o_orderstatus IS NULL").as("bad_status"),
      cnt("o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW') OR o_orderpriority IS NULL").as("bad_prio"),
      cnt("o_totalprice <= 0").as("neg_price"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).cast(LongType).as("dup_pk"))
    val l = lineitem.agg(
      count(lit(1)).cast(LongType).as("total"),
      cnt("l_shipdate IS NULL").as("null_ship"),
      cnt("l_returnflag NOT IN ('A','N','R') OR l_returnflag IS NULL").as("bad_flag"),
      cnt("l_quantity <= 0").as("bad_qty"),
      cnt("l_discount < 0 OR l_discount >= 1").as("bad_disc"),
      cnt("l_tax < 0").as("bad_tax"))
    val c = customer.agg(
      count(lit(1)).cast(LongType).as("total"),
      cnt("c_acctbal IS NULL").as("null_bal"),
      (count(lit(1)) - countDistinct(col("c_custkey"))).cast(LongType).as("dup_pk"),
      countDistinct(col("c_mktsegment")).cast(LongType).as("card_seg"))
    val dc = documents.agg(
      count(lit(1)).cast(LongType).as("total"),
      cnt("text IS NULL").as("null_text"),
      cnt("lang IS NULL").as("null_lang"),
      (count(lit(1)) - countDistinct(col("doc_id"))).cast(LongType).as("dup_pk"),
      countDistinct(col("lang")).cast(LongType).as("card_lang"))
    // parent keys DISTINCT'd (map-combinable partial distinct) so a
    // duplicated parent PK cannot fan out the child rows being counted
    val flo = lineitem.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")).distinct(),
        col("l_orderkey") === col("o_orderkey"), "left_outer")
      .agg(cnt("o_orderkey IS NULL").as("metric"), count(lit(1)).cast(LongType).as("total"))
    val foc = orders.select(col("o_custkey"))
      .join(customer.select(col("c_custkey")).distinct(),
        col("o_custkey") === col("c_custkey"), "left_outer")
      .agg(cnt("c_custkey IS NULL").as("metric"), count(lit(1)).cast(LongType).as("total"))

    def unpivot(src: DataFrame, rows: Seq[(Seq[String], String)]): DataFrame = {
      val cells = rows.map { case (tag, m) => (tag :+ m :+ "total").mkString(", ") }
      src.selectExpr(s"stack(${rows.size}, ${cells.mkString(", ")}) AS (check_name, tbl, col_name, metric, total)")
    }
    val long = unpivot(o, Seq(
        row3("completeness", "orders", "o_totalprice") -> "null_price",
        row3("completeness", "orders", "o_orderdate") -> "null_date",
        row3("domain", "orders", "o_orderstatus") -> "bad_status",
        row3("domain", "orders", "o_orderpriority") -> "bad_prio",
        row3("range", "orders", "o_totalprice") -> "neg_price",
        row3("uniqueness", "orders", "o_orderkey") -> "dup_pk"))
      .unionAll(unpivot(l, Seq(
        row3("completeness", "lineitem", "l_shipdate") -> "null_ship",
        row3("domain", "lineitem", "l_returnflag") -> "bad_flag",
        row3("range", "lineitem", "l_quantity") -> "bad_qty",
        row3("range", "lineitem", "l_discount") -> "bad_disc",
        row3("range", "lineitem", "l_tax") -> "bad_tax")))
      .unionAll(unpivot(c, Seq(
        row3("completeness", "customer", "c_acctbal") -> "null_bal",
        row3("uniqueness", "customer", "c_custkey") -> "dup_pk",
        row3("cardinality", "customer", "c_mktsegment") -> "card_seg")))
      .unionAll(unpivot(dc, Seq(
        row3("completeness", "documents", "text") -> "null_text",
        row3("completeness", "documents", "lang") -> "null_lang",
        row3("uniqueness", "documents", "doc_id") -> "dup_pk",
        row3("cardinality", "documents", "lang") -> "card_lang")))
      .unionAll(flo.selectExpr("'fk_orphans' AS check_name", "'lineitem' AS tbl",
        "'l_orderkey' AS col_name", "metric", "total"))
      .unionAll(foc.selectExpr("'fk_orphans' AS check_name", "'orders' AS tbl",
        "'o_custkey' AS col_name", "metric", "total"))
    long.selectExpr("check_name", "tbl", "col_name", "metric", "total",
        s"${Portable.round6RatioSpark("metric", "total")} AS rate",
        "CASE WHEN check_name = 'cardinality' THEN metric <= 64 ELSE metric = 0 END AS ok")
      .orderBy(col("check_name"), col("tbl"), col("col_name"))
  }

  // ----------------------------------------------------------- q90
  /** Power-iteration round count: 5 states mix in a handful of
    * rounds; 20 is convergence headroom. Both engines run the
    * IDENTICAL unrolled recurrence, so the gate is exact at any
    * round count. */
  val MarkovIters = 20

  /** q90: stationary distribution of the user-journey Markov chain —
    * where does a random surfer of the q56 transition matrix spend
    * its time? (the steady-state readout behind "expected long-run
    * share of sessions in state X"; PageRank without teleport, on the
    * event-type chain). Transitions are the q56 consecutive-pair
    * counts; the chain is RESTRICTED to states with outgoing
    * transitions (a sink state would silently drain mass — rows into
    * non-`cur` states are dropped and the row renormalization uses
    * the kept mass). Power iteration runs in the pagerank/HITS
    * integer-unit discipline: transition probabilities become exact
    * parts-per-million (`(n·10⁶) div nᵢ`), the mass vector starts at
    * `10¹² div m` units per state, and each round is
    * π′(j) = (Σᵢ πᵢ·p6ᵢⱼ) div 10⁶ — pure BIGINT, merge-order-free,
    * bit-identical under any partitioning. Bounds: per-term
    * πᵢ·p6ᵢⱼ ≤ 10¹²·10⁶ = 10¹⁸ and the sum is ≤ (Σπ)·10⁶ = 10¹⁸
    * < 2⁶³ at ANY corpus size (mass is conserved-or-shrinking);
    * the one place a raw count meets 10⁶ — building p6 — holds while
    * per-cell transition counts stay < 9.2·10¹² (the HITS-style
    * documented headroom; lift the factor into DECIMAL past that).
    *
    * 100 TB shape: ONE user-keyed window shuffle collapses the corpus
    * to the ≤ types² transition-count cells, collected once; the
    * row normalization and all 20 rounds run on the driver in the
    * same exact BIGINT arithmetic (an overflow still fails), so no
    * round costs a job. */
  val q90 = QueryDef(
    "q90_markov_stationary",
    Some {
      val sb = new StringBuilder(
        """WITH t AS (SELECT event_type AS cur,
          lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          FROM events),
        c AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n FROM t WHERE nxt IS NOT NULL GROUP BY cur, nxt),
        st AS (SELECT DISTINCT cur FROM c),
        k AS (SELECT c.cur, c.nxt, c.n FROM c JOIN st ON c.nxt = st.cur),
        ni AS (SELECT cur, CAST(sum(n) AS BIGINT) AS ni FROM k GROUP BY cur),
        p AS (SELECT k.cur, k.nxt, CAST((k.n * 1000000) // ni.ni AS BIGINT) AS p6
          FROM k JOIN ni ON k.cur = ni.cur),
        ns AS (SELECT CAST(count(*) AS BIGINT) AS m FROM st),
        r0 AS (SELECT cur AS state, CAST(1000000000000 // m AS BIGINT) AS pi FROM st, ns)""")
      for (it <- 1 to MarkovIters) {
        sb.append(s""",
        r$it AS (SELECT p.nxt AS state, CAST(sum(r.pi * p.p6) // 1000000 AS BIGINT) AS pi
          FROM p JOIN r${it - 1} r ON r.state = p.cur GROUP BY p.nxt)""")
      }
      sb.append(s"""
        SELECT state, pi AS pi_units, CAST(pi AS DOUBLE) / 1000000000000 AS pi
        FROM r$MarkovIters ORDER BY state""")
      sb.toString
    },
    (s, d) => markovStationary(Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))))

  /** Integer-unit stationary distribution — see [[q90]]. */
  def markovStationary(ev: DataFrame, iters: Int = MarkovIters): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val c = ev.withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).cast(LongType).as("n"))
    // one row per (cur, nxt) pair of event types: ≤ types² cells
    val cells = c.collect().map(r => (r.get(0), r.get(1), r.getLong(2)))
    val st = cells.map(_._1).toSet // DISTINCT keeps a NULL cur
    // the chain runs here in the SQL's BIGINT arithmetic: *Exact
    // throws on overflow as ANSI `*` and `sum` do, and the filters
    // drop NULL keys exactly as the SQL's equi-joins do
    val kept = cells.filter { case (cur, nxt, _) => cur != null && st(nxt) }
    val ni = kept.groupMapReduce(_._1)(_._3)(Math.addExact(_, _))
    val p = kept.map { case (cur, nxt, n) => (cur, nxt, Math.multiplyExact(n, 1000000L) / ni(cur)) }
    var pi = st.map(_ -> 1000000000000L / st.size).toMap
    for (_ <- 1 to iters) pi = p.filter(x => pi.contains(x._1))
      .groupMapReduce(_._2)(x => Math.multiplyExact(pi(x._1), x._3))(Math.addExact(_, _))
      .map { case (state, s) => state -> s / 1000000L }
    // ORDER BY state: NULL first, strings as UTF-8 bytes
    val rows = pi.toSeq.sortBy(x => Option(x._1).map { case v: String => UTF8String.fromString(v); case v => v })(
        Ordering.Option((a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)))
      .map { case (state, u) => Row(state, u, u.toDouble / 1000000000000L) }
    ev.sparkSession.createDataFrame(rows.asJava, StructType(Seq(StructField("state", c.schema("cur").dataType),
      StructField("pi_units", LongType), StructField("pi", DoubleType))))
  }

  // ----------------------------------------------------------- q91
  /** q91: Theil–Sen robust trend per event type — the slope a daily
    * volume series is "really" moving at when spikes and outages
    * would wreck the OLS line (median of all pairwise slopes; Sen
    * 1968, the standard robust trend in monitoring/environmetrics —
    * 29.3% breakdown point vs OLS's zero).
    *
    * Determinism: day indices and counts are exact integers; each
    * pairwise slope is ONE IEEE division of exacts (identical in
    * both engines); the median is the exact distributed selection
    * ([[ExactPercentiles]], interpolation expression shared with
    * Spark `percentile`) surfaced at 6 dp (the q88 percentile
    * discipline), and the intercept pass scores with the PUBLISHED
    * 6-dp slope so its residual trees are also shared exactly.
    *
    * 100 TB shape: the corpus collapses to ONE (type, day) count
    * aggregate; the all-pairs scan runs at DAYS grain — ≤ days²/2
    * pairs per type regardless of corpus size (the calendar, not the
    * data, bounds it) — and the two medians ride the narrowing
    * selection, never a sort shuffle. */
  val q91 = QueryDef(
    "q91_theil_sen",
    Some(s"""WITH $dailyCountsSql,
      $theilSenPairsSql,
      sl AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
          round(percentile_cont(0.5) WITHIN GROUP (ORDER BY slope), 6) AS ts_slope
        FROM pr GROUP BY 1),
      $theilSenInterceptSql,
      nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM dx GROUP BY 1)
      SELECT nd.event_type, nd.n_days, sl.n_pairs, sl.ts_slope, ic.ts_intercept
      FROM nd JOIN sl ON nd.event_type = sl.event_type
        JOIN ic ON nd.event_type = ic.event_type
      ORDER BY nd.event_type"""),
    (s, d) => theilSen(Tables.events(s, d).select(col("event_type"), col("ts"))))

  /** Theil–Sen trend over (event_type, ts) rows — see [[q91]]. */
  def theilSen(ev: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame =
    theilSenFromDaily(dailyCounts(ev))

  /** [[theilSen]] off a prebuilt (event_type, d, c) day-grain frame —
    * the `pipeline_trend_panel` reuse point. */
  def theilSenFromDaily(dd: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val dx = dd
      // x = days since the type's FIRST day (so the intercept reads
      // as the trend's level at series start, not at the epoch)
      .withColumn("x", datediff(col("d"),
        min(col("d")).over(Window.partitionBy(col("event_type")))).cast(LongType))
      .select(col("event_type"), col("x"), col("c"))
      .localCheckpoint(true) // days-grain; stats-free → hint joins below
    val pairs = dx.select(col("event_type"), col("x").as("ax"), col("c").as("ac"))
      .join(broadcast(dx.select(col("event_type").as("et2"), col("x").as("bx"), col("c").as("bc"))),
        col("event_type") === col("et2") && col("bx") > col("ax"))
      // try_divide, not `/`: Catalyst infers isnotnull(slope) from the
      // percentile pass's null filter and can evaluate the division
      // inside the join before the bx > ax condition — under ANSI
      // mode a bx = ax probe row then throws. The joined rows all
      // have bx > ax, so try_divide's values equal plain division's.
      .select(col("event_type"),
        expr("try_divide(CAST(bc AS DOUBLE) - ac, bx - ax)").as("slope"))
    val sl = ExactPercentiles.percentiles(pairs, "event_type", "slope", Seq(0.5))
      .select(col("g").as("event_type"), round(col("value"), 6).as("ts_slope"))
    val np = pairs.groupBy(col("event_type")).agg(count(lit(1)).cast(LongType).as("n_pairs"))
    val rs = dx.join(broadcast(sl), Seq("event_type"))
      .select(col("event_type"),
        (col("c").cast(DoubleType) - col("ts_slope") * col("x")).as("resid"))
    val ic = ExactPercentiles.percentiles(rs, "event_type", "resid", Seq(0.5))
      .select(col("g").as("event_type"), round(col("value"), 6).as("ts_intercept"))
    val nd = dx.groupBy(col("event_type")).agg(count(lit(1)).cast(LongType).as("n_days"))
    nd.join(broadcast(np), Seq("event_type"))
      .join(broadcast(sl), Seq("event_type"))
      .join(broadcast(ic), Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("ts_slope"), col("ts_intercept"))
      .orderBy(col("event_type"))
  }

  // ------------------------------------------- pipeline_trend_panel
  /** pipeline_trend_panel: the time-series PANEL a monitoring
    * pipeline publishes per series — CUSUM changepoint ([[q80]]),
    * seasonal-naïve backtest error ([[q87]]), and Theil–Sen robust
    * trend ([[q91]]) — computed the way production would: the corpus
    * collapses to ONE shared (type, day) count aggregate (ONE scan,
    * ONE shuffle), checkpointed, and all three readouts run at
    * days-grain off that frame (the `pipeline_ml_readouts`
    * train-once/read-many discipline; the three singles each rescan
    * the corpus by gate-isolation design, so the composed panel costs
    * roughly one scan + days-grain algebra). Every surfaced value is
    * the SAME expression tree as its single — the composition spec
    * pins panel == singles field-for-field.
    *
    * 100 TB shape: inherited from the three gated singles — the only
    * data-scale work is the shared day-grain aggregate
    * (map-combinable); everything after is ≤ days²-grain. */
  val pipelineTrendPanel = QueryDef(
    "pipeline_trend_panel",
    Some(s"""WITH $dailyCountsSql,
      $cusumDevSql,
      cus AS (SELECT event_type, d AS cp_day, t AS n_days, st AS n_events,
          CAST(dk AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(st AS DOUBLE)) AS rel_dev
        FROM (SELECT event_type, d, k, t, st, dk,
            row_number() OVER (PARTITION BY event_type ORDER BY dk DESC, d) AS rk
          FROM dev) mx WHERE rk = 1),
      f AS (SELECT a.event_type, a.c AS n, b.c AS fc
        FROM dd a JOIN dd b ON b.event_type = a.event_type AND b.d = a.d - 7),
      sn AS (SELECT event_type,
          CAST(sum(abs(n - fc)) AS BIGINT) AS sae, CAST(sum(n) AS BIGINT) AS sa,
          CAST(sum(CAST(round(CAST(abs(n - fc) AS DOUBLE) / n, 12) AS DECIMAL(28,12))) AS DOUBLE) AS mape_sum,
          CAST(count(*) AS BIGINT) AS n_scored
        FROM f GROUP BY event_type),
      $theilSenPairsSql,
      sl AS (SELECT event_type,
          round(percentile_cont(0.5) WITHIN GROUP (ORDER BY slope), 6) AS ts_slope
        FROM pr GROUP BY 1),
      $theilSenInterceptSql
      SELECT cus.event_type, cus.n_days, cus.n_events, cus.cp_day, cus.rel_dev,
        CAST(sn.sae AS DOUBLE) / sn.sa AS wape,
        sn.mape_sum / sn.n_scored AS mape,
        sl.ts_slope, ic.ts_intercept
      FROM cus JOIN sn ON cus.event_type = sn.event_type
        JOIN sl ON cus.event_type = sl.event_type
        JOIN ic ON cus.event_type = ic.event_type
      ORDER BY cus.event_type"""),
    (s, d) => trendPanel(Tables.events(s, d).select(col("event_type"), col("ts"))))

  /** Composed trend panel off one shared day-grain aggregate —
    * see [[pipelineTrendPanel]]. */
  def trendPanel(ev: DataFrame): DataFrame = {
    // the ONE corpus scan+shuffle — every readout below is days-grain
    val dd = dailyCounts(ev).localCheckpoint(true)
    val cus = cusumFromDaily(dd)
    val sn = snaiveFromDaily(dd.withColumnRenamed("c", "n"))
      .selectExpr("event_type", "wape", "mape")
    val ts = theilSenFromDaily(dd)
      .select(col("event_type"), col("ts_slope"), col("ts_intercept"))
    cus.join(broadcast(sn), Seq("event_type"))
      .join(broadcast(ts), Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_events"), col("cp_day"),
        col("rel_dev"), col("wape"), col("mape"), col("ts_slope"), col("ts_intercept"))
      .orderBy(col("event_type"))
  }

  // ----------------------------------------------------------- q92
  /** Equi-depth bucket count. */
  val EquidepthK = 8

  /** q92: equi-depth histogram of `o_totalprice` — the
    * equal-frequency summary every optimizer/stats engine builds
    * (selectivity estimation, partition planning, monitoring
    * dashboards): k = 8 buckets whose UPPER boundaries are the exact
    * order statistics at ranks ⌈i·n/k⌉ (0-based, pure-BIGINT rank
    * arithmetic `(i·n + k − 1) div k − 1` — no float rank), bucket
    * membership by VALUE range (lo < x ≤ hi], so tied values land in
    * one bucket and per-bucket counts honestly deviate from n/k under
    * ties (the textbook equi-depth-with-ties semantics).
    *
    * Determinism: boundaries are actual data values picked by exact
    * integer ranks ([[ExactPercentiles.orderStatistics]] — the
    * narrowing selection, never a sort shuffle; the oracle takes the
    * independent row_number route); counts are exact conditional
    * BIGINTs against those boundary values.
    *
    * 100 TB shape: one count, one k-rank selection over the pruned
    * value column (2–3 histogram passes, shuffle carries 2^16-bucket
    * counts), one map-combinable conditional-count aggregate with the
    * k boundaries broadcast. */
  val q92 = QueryDef(
    "q92_equidepth_histogram",
    Some {
      val k = EquidepthK
      s"""WITH v AS (SELECT o_totalprice AS x FROM orders),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      rk AS (SELECT x, row_number() OVER (ORDER BY x) AS r FROM v),
      bd AS (SELECT i.i AS bucket, rk.x AS hi
        FROM (SELECT unnest(range(1, $k + 1)) AS i) i, nn
        JOIN rk ON rk.r = (i.i * nn.n + $k - 1) // $k),
      bb AS (SELECT bucket, lag(hi) OVER (ORDER BY bucket) AS lo, hi FROM bd),
      ct AS (SELECT bb.bucket, bb.lo, bb.hi,
          CAST(sum(CASE WHEN (bb.lo IS NULL OR v.x > bb.lo) AND v.x <= bb.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_rows
        FROM bb, v GROUP BY bb.bucket, bb.lo, bb.hi)
      SELECT bucket, lo, hi, n_rows FROM ct ORDER BY bucket"""
    },
    (s, d) => equidepthHistogram(Tables.orders(s, d).select(col("o_totalprice").as("x"))))

  /** Equi-depth histogram over a single-column (x DOUBLE) frame —
    * see [[q92]]. */
  def equidepthHistogram(v: DataFrame, k: Int = EquidepthK)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val s = v.sparkSession
    import s.implicits._
    val nn = Small(v.agg(count(lit(1)).cast(LongType).as("n")), 1, "equidepth row count")
    // 0-based rank of bucket i's upper boundary: ceil(i*n/k) - 1
    val ranks = broadcast(nn).crossJoin(broadcast((1 to k).toDF("bucket")))
      .selectExpr("'x' AS g", "bucket", s"(bucket * n + $k - 1) div $k - 1 AS k")
    val bd = ExactPercentiles.orderStatistics(
      v.withColumn("g", lit("x")), "g", "x", ranks.select(col("g"), col("k")))
    // map rank back to bucket index (ranks are strictly increasing
    // in bucket, so a sort-free join on k suffices)
    val withB = ranks.join(broadcast(bd), Seq("g", "k"))
      .select(col("bucket"), col("value").as("hi"))
    // one row per bucket; the single-partition window runs once, in
    // the collect, so its warning is logged once
    val bb = Small(withB
      .withColumn("lo", lag(col("hi"), 1).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))))
      .select(col("bucket"), col("lo"), col("hi")), k, "equidepth bounds")
    // left-join the counts back so a bucket emptied by tied
    // boundaries (lo = hi) still surfaces with n_rows = 0, exactly
    // as the oracle's sum(CASE) over all k buckets does
    val counts = v.crossJoin(broadcast(bb))
      .filter((col("lo").isNull || col("x") > col("lo")) && col("x") <= col("hi"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast(LongType).as("c"))
    bb.join(broadcast(counts), Seq("bucket"), "left")
      .select(col("bucket"), col("lo"), col("hi"),
        coalesce(col("c"), lit(0L)).as("n_rows"))
      .orderBy(col("bucket"))
  }

  // ----------------------------------------------------------- q93
  /** q93: join-SIZE estimate from key histograms — predict
    * |A ⋈ B| = Σ_k f_A(k)·f_B(k) WITHOUT materializing the join (the
    * q88 skew report's sibling: q88 says how hot the keys are, this
    * says how many rows the join will emit — the number that decides
    * whether the join is even affordable, and what the optimizer's
    * estimate should have been). Per candidate join: both sides'
    * row/distinct-key counts, the exact predicted output size, and
    * the fan-out ratio est/max(rows) (a fan-out ≫ 1 means a
    * many-to-many blowup a pipeline wants to know about BEFORE the
    * shuffle).
    *
    * Determinism: everything is exact BIGINT count algebra; the
    * per-key product sum rides DECIMAL(38,0) (f_A·f_B can pass int64
    * on mega-keys at corpus scale — the q77 lesson).
    *
    * 100 TB shape: per side ONE shrinking row→key-grain count
    * aggregate, then a key-grain hash join of the two count tables
    * (key-cardinality-sized, not data-sized) and a 1-row sum. The
    * join itself never runs. */
  val q93 = QueryDef(
    "q93_join_size_estimate",
    Some("""WITH lo AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS f FROM lineitem GROUP BY 1),
      oo AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS f FROM orders GROUP BY 1),
      oc AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS f FROM orders GROUP BY 1),
      cc AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS f FROM customer GROUP BY 1),
      j1 AS (SELECT 'lineitem*orders@orderkey' AS join_name,
          (SELECT CAST(sum(f) AS BIGINT) FROM lo) AS rows_a,
          (SELECT CAST(count(*) AS BIGINT) FROM lo) AS keys_a,
          (SELECT CAST(sum(f) AS BIGINT) FROM oo) AS rows_b,
          (SELECT CAST(count(*) AS BIGINT) FROM oo) AS keys_b,
          CAST(sum(CAST(lo.f AS DECIMAL(19,0)) * oo.f) AS BIGINT) AS est_rows
        FROM lo JOIN oo ON lo.k = oo.k),
      j2 AS (SELECT 'orders*customer@custkey' AS join_name,
          (SELECT CAST(sum(f) AS BIGINT) FROM oc) AS rows_a,
          (SELECT CAST(count(*) AS BIGINT) FROM oc) AS keys_a,
          (SELECT CAST(sum(f) AS BIGINT) FROM cc) AS rows_b,
          (SELECT CAST(count(*) AS BIGINT) FROM cc) AS keys_b,
          CAST(sum(CAST(oc.f AS DECIMAL(19,0)) * cc.f) AS BIGINT) AS est_rows
        FROM oc JOIN cc ON oc.k = cc.k)
      SELECT join_name, rows_a, keys_a, rows_b, keys_b, est_rows,
        CAST(est_rows AS DOUBLE) / greatest(rows_a, rows_b) AS fanout
      FROM (SELECT * FROM j1 UNION ALL SELECT * FROM j2) u
      ORDER BY join_name"""),
    (s, d) => {
      def side(df: DataFrame, key: String): DataFrame =
        df.select(col(key).as("k")).groupBy(col("k"))
          .agg(count(lit(1)).cast(LongType).as("f"))
      val est1 = joinSizeEstimate("lineitem*orders@orderkey",
        side(Tables.lineitem(s, d), "l_orderkey"), side(Tables.orders(s, d), "o_orderkey"))
      val est2 = joinSizeEstimate("orders*customer@custkey",
        side(Tables.orders(s, d), "o_custkey"), side(Tables.customer(s, d), "c_custkey"))
      est1.unionAll(est2).orderBy(col("join_name"))
    })

  /** Exact Σ f_A·f_B join-size prediction over two (k, f) key-count
    * frames — see [[q93]]. */
  def joinSizeEstimate(name: String, fa: DataFrame, fb: DataFrame): DataFrame = {
    val sa = Small(fa.agg(sum(col("f")).cast(LongType).as("rows_a"),
      count(lit(1)).cast(LongType).as("keys_a")), 1, "join side a totals")
    val sb = Small(fb.agg(sum(col("f")).cast(LongType).as("rows_b"),
      count(lit(1)).cast(LongType).as("keys_b")), 1, "join side b totals")
    val est = Small(fa.join(fb.withColumnRenamed("f", "fb"), Seq("k"))
      .agg(sum(expr("CAST(f AS DECIMAL(19,0)) * fb")).cast(LongType).as("est_rows")), 1, "join size")
    broadcast(sa).crossJoin(broadcast(sb)).crossJoin(broadcast(est))
      .selectExpr(s"'$name' AS join_name", "rows_a", "keys_a", "rows_b", "keys_b",
        "est_rows", "CAST(est_rows AS DOUBLE) / greatest(rows_a, rows_b) AS fanout")
  }

  // ----------------------------------------------------------- q94
  /** (event_type, d, c) daily event counts — the one corpus
    * aggregate the day-grain trend and calendar readouts start from. */
  private def dailyCounts(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).cast(LongType).as("c"))
  /** Oracle twin of [[dailyCounts]]: `dd(event_type, d, c)`. */
  private def dailyCountsSql: String =
    """dd AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
        CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2)"""

  /** Every calendar day of each type's [first, last] span in a
    * (event_type, d, …) day frame, as (event_type, d) rows. */
  private def calendarOf(dd: DataFrame): DataFrame =
    dd.groupBy(col("event_type"))
      .agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
      .select(col("event_type"),
        explode(sequence(col("dmin"), col("dmax"), expr("INTERVAL 1 DAY"))).as("d"))
  /** Oracle twin of [[calendarOf]] over `dd`: the span `sp` and the
    * calendar `cal`. */
  private def calendarSql: String =
    """sp AS (SELECT event_type, min(d) AS dmin, max(d) AS dmax FROM dd GROUP BY 1),
      cal AS (SELECT sp.event_type, CAST(g.d0 AS DATE) AS d
        FROM sp, unnest(generate_series(CAST(sp.dmin AS TIMESTAMP), CAST(sp.dmax AS TIMESTAMP), INTERVAL 1 DAY)) AS g(d0))"""

  /** (event_type, n_days, s, ss) exact totals of a zero-filled
    * (event_type, x) day frame. */
  private def dayTotals(fl: DataFrame): DataFrame =
    fl.groupBy(col("event_type"))
      .agg(count(lit(1)).cast(LongType).as("n_days"),
        sum(col("x")).cast(LongType).as("s"),
        sum(expr("CAST(x AS DECIMAL(19,0)) * x")).cast(DecimalType(38, 0)).as("ss"))
  /** Oracle twin of [[dayTotals]] over `fl`: `tt`. */
  private def dayTotalsSql: String =
    """tt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(x) AS BIGINT) AS s, CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss
        FROM fl GROUP BY 1)"""

  /** The calendar gates' deterministically SPARSE event series: days
    * of month ≡ 0 mod 3 dropped, so the fills have real holes. */
  private def sparseEvents(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(expr("dayofmonth(ts) % 3 <> 0"))
      .select(col("event_type"), col("ts"), col("value"))
  /** A day's exact DECIMAL value sum `sv`. */
  private val dailyValue = sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(28, 2)).as("sv")
  private def dailyValueSql: String = "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS sv"
  /** Oracle twin of [[sparseEvents]] aggregated by (event_type, day)
    * to the given columns (`dd`), and its calendar. */
  private def sparseDailySql(aggs: String): String =
    s"""dd AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
          $aggs
        FROM events WHERE date_part('day', ts) % 3 <> 0 GROUP BY 1, 2),
      $calendarSql"""

  /** (event_type, d, sv) daily value sums over the dense calendar with
    * holes as exact 0 — the series the rolling windows of [[q95]] and
    * [[q98]] run over. */
  private def zeroFilledValues(ev: DataFrame): DataFrame = {
    val dd = ev.groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(dailyValue)
    calendarOf(dd).join(dd, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"),
        coalesce(col("sv"), lit(0).cast(DecimalType(28, 2))).as("sv"))
  }
  /** Oracle twin of [[zeroFilledValues]] over [[sparseEvents]]: `fl`. */
  private def zeroFilledValuesSql: String =
    s"""${sparseDailySql(dailyValueSql)},
      fl AS (SELECT cal.event_type, cal.d,
          coalesce(dd.sv, CAST(0 AS DECIMAL(28,2))) AS sv
        FROM cal LEFT JOIN dd ON cal.event_type = dd.event_type AND cal.d = dd.d)"""

  /** q94: calendar gap-fill + forward-fill — the time-series
    * RESAMPLING step every daily-metrics consumer needs before
    * window math (a missing day silently shifts every rolling
    * average, WoW delta, and seasonality readout computed over
    * row-position frames; q53/q65/q66/q79/q87 all assume a dense
    * day axis upstream). Per event type: aggregate observed days,
    * then explode the type's FULL [min_day, max_day] calendar, left
    * join the observations back, and emit count 0 + an `observed`
    * marker for the holes with the daily value sum carried FORWARD
    * (`last_value` over the ignore-null frame — the standard
    * fill-forward contract). The gate derives a deterministically
    * SPARSE series (days-of-month ≡ 0 mod 3 dropped, shared
    * literal) so the fill has real holes to restore at any sf.
    *
    * 100 TB shape: one (type, day) shrinking aggregate over the
    * events scan; the calendar explode and fill run at DAYS×types
    * grain — metadata scale — and the forward-fill window partitions
    * by type over day-grain rows (bounded by the calendar span,
    * never by event volume). */
  val q94 = QueryDef(
    "q94_calendar_fill",
    Some(s"""WITH ${sparseDailySql("CAST(count(*) AS BIGINT) AS n,\n          " + dailyValueSql)},
      fl AS (SELECT cal.event_type, cal.d,
          coalesce(dd.n, 0) AS n,
          CASE WHEN dd.d IS NULL THEN 0 ELSE 1 END AS observed,
          last_value(dd.sv IGNORE NULLS) OVER (PARTITION BY cal.event_type ORDER BY cal.d
            ROWS UNBOUNDED PRECEDING) AS carry
        FROM cal LEFT JOIN dd ON cal.event_type = dd.event_type AND cal.d = dd.d)
      SELECT event_type, CAST(d AS VARCHAR) AS day, n, observed,
        CAST(carry AS DOUBLE) AS carry_value
      FROM fl ORDER BY event_type, day"""),
    (s, d) => calendarFill(sparseEvents(s, d)))

  /** Calendar gap-fill + forward-fill over (event_type, ts, value)
    * rows — see [[q94]]. */
  def calendarFill(ev: DataFrame): DataFrame = {
    val dd = ev.groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).cast(LongType).as("n"), dailyValue)
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    calendarOf(dd).join(dd, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"),
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("sv").isNotNull || col("n").isNotNull, 1).otherwise(0).as("observed"),
        last(col("sv"), ignoreNulls = true).over(w).as("carry"))
      .select(col("event_type"), col("d").cast("string").as("day"), col("n"), col("observed"),
        col("carry").cast(DoubleType).as("carry_value"))
      .orderBy(col("event_type"), col("day"))
  }

  // ----------------------------------------------------------- q95
  /** q95: rolling 7-day window metrics over the gap-FILLED calendar —
    * the consumer [[q94]] exists for: rolling sums/averages computed
    * over row-position frames are only calendar-true when the day
    * axis is dense (a hole silently stretches "7 rows" past 7 days).
    * Per type: daily DECIMAL revenue sums, holes zero-filled on the
    * exploded [min, max] calendar, then `ROWS 6 PRECEDING` windows
    * give the rolling sum (exact DECIMAL), mean (one IEEE division of
    * exact operands by the window's true day count), and min/max
    * (DECIMAL total order). Same deterministic sparse derivation as
    * q94 so the zero-fill provably participates.
    *
    * 100 TB shape: one shrinking (type, day) aggregate over the
    * events scan; calendar + windows at days×types grain (the window
    * partitions by type over day rows — bounded by the span, never
    * by event volume). */
  val q95 = QueryDef(
    "q95_rolling_metrics",
    Some(s"""WITH $zeroFilledValuesSql,
      rl AS (SELECT event_type, d, sv,
          CAST(sum(sv) OVER w AS DECIMAL(28,2)) AS roll_sum,
          CAST(count(*) OVER w AS BIGINT) AS win_days,
          CAST(min(sv) OVER w AS DECIMAL(28,2)) AS roll_min,
          CAST(max(sv) OVER w AS DECIMAL(28,2)) AS roll_max
        FROM fl WINDOW w AS (PARTITION BY event_type ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      SELECT event_type, CAST(d AS VARCHAR) AS day,
        CAST(sv AS DOUBLE) AS day_value,
        CAST(roll_sum AS DOUBLE) AS roll_sum, win_days,
        CAST(roll_sum AS DOUBLE) / win_days AS roll_mean,
        CAST(roll_min AS DOUBLE) AS roll_min, CAST(roll_max AS DOUBLE) AS roll_max
      FROM rl ORDER BY event_type, day"""),
    (s, d) => rollingMetrics(sparseEvents(s, d)))

  /** Rolling 7-day metrics over the zero-filled daily calendar of an
    * (event_type, ts, value) frame — see [[q95]]. */
  def rollingMetrics(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-6, Window.currentRow)
    zeroFilledValues(ev)
      .select(col("event_type"), col("d"), col("sv"),
        sum(col("sv")).over(w).cast(DecimalType(28, 2)).as("roll_sum"),
        count(lit(1)).over(w).cast(LongType).as("win_days"),
        min(col("sv")).over(w).cast(DecimalType(28, 2)).as("roll_min"),
        max(col("sv")).over(w).cast(DecimalType(28, 2)).as("roll_max"))
      .selectExpr("event_type", "CAST(d AS STRING) AS day",
        "CAST(sv AS DOUBLE) AS day_value",
        "CAST(roll_sum AS DOUBLE) AS roll_sum", "win_days",
        "CAST(roll_sum AS DOUBLE) / win_days AS roll_mean",
        "CAST(roll_min AS DOUBLE) AS roll_min", "CAST(roll_max AS DOUBLE) AS roll_max")
      .orderBy(col("event_type"), col("day"))
  }

  // --------------------------------------------------------------- q96
  /** Band each fact row by its OWN group's exact quartiles — the
    * feature-bucketing enrichment the ML tier consumes (quartile flags
    * are the standard monotone-robust categorical encoding; banding by
    * GLOBAL quantiles hides per-group shape, so edges are per-group).
    * The q52 winsorize shape generalized from clip-at-2-edges to
    * assign-into-N-bands: edges come from the distributed selection
    * machinery ([[ExactPercentiles.percentiles]] — bounded histogram
    * passes, never a sort, never a task buffering a group), ride back
    * as a groups×3 BROADCAST, and the banding is a MAP-ONLY CASE per
    * row. Band intervals are closed-left on the upper side
    * (`value < edge` ascends), so a row EQUAL to an edge falls in the
    * band ABOVE it — deterministic for both engines because the edge
    * is the same IEEE double on both sides (fixture pins the
    * boundary-tie row landing up, including the degenerate
    * all-edges-equal case). Per (group, band): count, 6-dp share of
    * the group, and the decimal-fold mean surfaced as one unrounded
    * division of exact operands. */
  def percentileBands(df: DataFrame, group: String, value: String)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val ev = df.select(col(group).as("g"), col(value).cast("double").as("v"))
      .transform(scope.persist)
    val th = ExactPercentiles.percentiles(ev, "g", "v", Seq(0.25, 0.5, 0.75))
      .groupBy(col("g"))
      .agg(min(when(col("p") === 0.25, col("value"))).as("p25"),
        min(when(col("p") === 0.5, col("value"))).as("p50"),
        min(when(col("p") === 0.75, col("value"))).as("p75"))
    val banded = ev.join(broadcast(th), Seq("g"))
      .select(col("g"), col("v"),
        when(col("v") < col("p25"), "p00_p25")
          .when(col("v") < col("p50"), "p25_p50")
          .when(col("v") < col("p75"), "p50_p75")
          .otherwise("p75_p100").as("band"))
    val bg = banded.groupBy(col("g"), col("band"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("v").cast(DecimalType(18, 6))).as("sv"))
    val tot = bg.groupBy(col("g")).agg(sum(col("n")).cast("long").as("n_group"))
    bg.join(broadcast(tot), Seq("g"))
      .selectExpr("g", "band", "n", "n_group",
        s"${Portable.round6RatioSpark("n", "n_group")} AS share",
        "CAST(sv AS DOUBLE) / n AS mean_value")
      .orderBy(col("g"), col("band"))
  }

  val q96 = QueryDef(
    "q96_percentile_bands",
    Some(s"""WITH th AS (SELECT event_type,
        percentile_cont(0.25) WITHIN GROUP (ORDER BY value) AS p25,
        percentile_cont(0.50) WITHIN GROUP (ORDER BY value) AS p50,
        percentile_cont(0.75) WITHIN GROUP (ORDER BY value) AS p75
      FROM events GROUP BY event_type),
      b AS (SELECT e.event_type AS g, value AS v,
        CASE WHEN value < p25 THEN 'p00_p25' WHEN value < p50 THEN 'p25_p50'
          WHEN value < p75 THEN 'p50_p75' ELSE 'p75_p100' END AS band
      FROM events e JOIN th USING (event_type)),
      bg AS (SELECT g, band, CAST(count(*) AS BIGINT) AS n,
          sum(CAST(v AS DECIMAL(18,6))) AS sv
        FROM b GROUP BY g, band),
      tot AS (SELECT g, CAST(sum(n) AS BIGINT) AS n_group FROM bg GROUP BY g)
      SELECT bg.g, band, n, n_group,
        ${Portable.round6RatioDuck("n", "n_group")} AS share,
        CAST(sv AS DOUBLE) / n AS mean_value
      FROM bg JOIN tot ON bg.g = tot.g ORDER BY bg.g, band"""),
    (s, d) => percentileBands(Tables.events(s, d), "event_type", "value"))

  // ------------------------------------------ q97 rolling actives
  /** Rolling W-day distinct active users per observed day — the
    * DAU/WAU/MAU engagement staple ("how many distinct users touched
    * us in the trailing week"), which naively is a sliding-window
    * COUNT DISTINCT: un-shardable state, the classic scale killer.
    * The exact rewrite is interval STABBING: a user active on day a
    * is "active within W" for every day in [a, a+W−1]; merging each
    * user's active days into islands (consecutive gaps ≤ W — the
    * q51 gaps-and-islands idiom) makes those per-day ranges coalesce
    * into disjoint intervals [s, e+W−1], and WAU(d) is then just the
    * number of intervals covering d — a +1/−1 delta per interval
    * endpoint and ONE day-grain prefix sum. No day ever re-counts
    * its window's users; no distinct-within-range join exists.
    *
    * 100 TB shape: ONE corpus-scale (user, day) distinct, a
    * user-keyed window for islands, then everything runs at
    * user-interval and day grain (the q94 "calendar grain" argument
    * — the global prefix-sum window is days-scale, metadata). The
    * oracle takes the INDEPENDENT route (day×window range join +
    * COUNT DISTINCT), so the gate pins two different algorithms to
    * the same integers. Day key = the offset-shifted epoch-day
    * integer (the q83 dow idiom — exact BIGINT division in both
    * engines). */
  def activeUsersRolling(df: DataFrame, tsCol: String, userCol: String,
      windowDays: Int = 7)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val w = windowDays
    val ud = df.select(col(userCol).as("u"),
        expr(s"(unix_micros(CAST($tsCol AS TIMESTAMP)) + ${Portable.EpochWeekOffsetUs})" +
          " div 86400000000").as("day"))
      .distinct().transform(scope.persist)
    val wu = Window.partitionBy(col("u")).orderBy(col("day"))
    val iv = ud
      .withColumn("brk", when(col("day") > lag(col("day"), 1).over(wu) + w, 1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(wu))
      .groupBy(col("u"), col("isl"))
      .agg(min(col("day")).as("s"), (max(col("day")) + (w - 1)).as("e"))
    val deltas = iv.select(col("s").as("day"), lit(1L).as("d"))
      .unionAll(iv.select((col("e") + 1).as("day"), lit(-1L).as("d")))
      .unionAll(ud.select(col("day"), lit(0L).as("d")).distinct())
      .groupBy(col("day")).agg(sum(col("d")).as("delta"))
    val wd = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.withColumn("n_active", sum(col("delta")).over(wd))
      .join(ud.select(col("day")).distinct(), Seq("day"), "left_semi")
      .select(col("day"), col("n_active").cast("long").as(s"n_active_${w}d"))
      .orderBy(col("day"))
  }

  // --------------------------------------- q98 robust rolling stats
  /** Rolling 7-day MEDIAN + MAD outlier flag over the zero-filled
    * daily calendar — the ROBUST companion to [[q95]]'s rolling
    * sum/min/max/mean (a single spike day drags a rolling mean for a
    * week; the median/MAD pair is the monitor that pages on the
    * spike and then forgets it — Leys et al. 2013's "absolute
    * deviation around the median" rule, cutoff 3·1.4826·MAD). The
    * window is ≤ 7 rows by construction, so the order statistics are
    * PER-ROW ARRAY MATH, not a distributed selection: sort the
    * window's collected values, median = (a[(n+1) div 2] +
    * a[n div 2 + 1])/2 on the exact DECIMAL sum, MAD = the same
    * formula over the |x − med| deviations (fixed IEEE trees over
    * exact operands — identical bits in both engines, so even the
    * flag's boundary compare agrees).
    *
    * 100 TB: same as q94/q95 — ONE shrinking (type, day) aggregate
    * over the scan; the window/array work runs at calendar grain.
    * Same deterministic sparse derivation (days ≡ 0 mod 3 dropped)
    * so the zero-filled holes participate in the median for real. */
  def rollingRobust(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-6, Window.currentRow)
    zeroFilledValues(ev)
      .withColumn("arr", sort_array(collect_list(col("sv")).over(w)))
      .selectExpr("event_type", "CAST(d AS STRING) AS day",
        "CAST(sv AS DOUBLE) AS day_value",
        "CAST(size(arr) AS BIGINT) AS win_days",
        "CAST(element_at(arr, CAST((size(arr) + 1) div 2 AS INT)) + element_at(arr, CAST(size(arr) div 2 + 1 AS INT)) AS DOUBLE) / 2.0 AS roll_med",
        "arr")
      .selectExpr("event_type", "day", "day_value", "win_days", "roll_med",
        "array_sort(transform(arr, x -> abs(CAST(x AS DOUBLE) - roll_med))) AS dv")
      .selectExpr("event_type", "day", "day_value", "win_days", "roll_med",
        "(element_at(dv, CAST((size(dv) + 1) div 2 AS INT)) + element_at(dv, CAST(size(dv) div 2 + 1 AS INT))) / 2.0 AS roll_mad")
      .selectExpr("event_type", "day", "day_value", "win_days", "roll_med", "roll_mad",
        "CAST(CASE WHEN abs(day_value - roll_med) > 3.0 * 1.4826 * roll_mad THEN 1 ELSE 0 END AS BIGINT) AS outlier")
      .orderBy(col("event_type"), col("day"))
  }

  val q98 = QueryDef(
    "q98_rolling_robust",
    Some(s"""WITH $zeroFilledValuesSql,
      rl AS (SELECT event_type, d, sv, list_sort(list(sv) OVER w) AS arr
        FROM fl WINDOW w AS (PARTITION BY event_type ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      m1 AS (SELECT event_type, CAST(d AS VARCHAR) AS day, CAST(sv AS DOUBLE) AS day_value,
          CAST(len(arr) AS BIGINT) AS win_days,
          CAST(arr[(len(arr) + 1) // 2] + arr[len(arr) // 2 + 1] AS DOUBLE) / 2.0 AS roll_med,
          arr
        FROM rl),
      m2 AS (SELECT event_type, day, day_value, win_days, roll_med,
          list_sort(list_transform(arr, x -> abs(CAST(x AS DOUBLE) - roll_med))) AS dv
        FROM m1),
      m3 AS (SELECT event_type, day, day_value, win_days, roll_med,
          (dv[(len(dv) + 1) // 2] + dv[len(dv) // 2 + 1]) / 2.0 AS roll_mad
        FROM m2)
      SELECT event_type, day, day_value, win_days, roll_med, roll_mad,
        CAST(CASE WHEN abs(day_value - roll_med) > 3.0 * 1.4826 * roll_mad THEN 1 ELSE 0 END AS BIGINT) AS outlier
      FROM m3 ORDER BY event_type, day"""),
    (s, d) => rollingRobust(sparseEvents(s, d)))

  val q97 = QueryDef(
    "q97_active_users",
    Some(s"""WITH ud AS (SELECT DISTINCT user_id AS u,
        (epoch_us(ts) + ${Portable.EpochWeekOffsetUs}) // 86400000000 AS day FROM events),
      dd AS (SELECT DISTINCT day FROM ud)
      SELECT d.day, CAST(count(DISTINCT u.u) AS BIGINT) AS n_active_7d
      FROM dd d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day ORDER BY d.day"""),
    (s, d) => activeUsersRolling(Tables.events(s, d), "ts", "user_id"))

  // ------------------------------------------ q99 Mann–Kendall trend
  /** Shared z/trend fragments over (s_stat, var18) — the SAME strings
    * run in Spark and DuckDB, so the continuity-corrected statistic
    * is one identical IEEE tree over exact integers (sqrt and
    * division are IEEE-754 correctly-rounded in both engines, so z is
    * bit-identical and needs no rounding). */
  private val mkZSql =
    """CASE WHEN var18 <= 0 THEN NULL
       WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
       WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
       ELSE CAST(0 AS DOUBLE) END"""
  private val mkTrendSql =
    """CASE WHEN z_stat IS NULL THEN NULL
       WHEN z_stat > 1.96 THEN 'increasing'
       WHEN z_stat < -1.96 THEN 'decreasing'
       ELSE 'none' END"""

  /** q99: Mann–Kendall trend test per event type — the SIGNIFICANCE
    * companion to [[q91]]'s Theil–Sen slope (Sen's estimator says how
    * fast the series moves; Mann–Kendall decides whether the monotone
    * trend is beyond chance — the pairing every environmetrics /
    * monitoring stack ships, Mann 1945 / Kendall 1975):
    * S = Σ_{i<j} sign(c_j − c_i) over the daily counts, tie-corrected
    * variance Var = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5))/18, continuity-
    * corrected z = (S∓1)/√Var, verdict against the LITERAL 1.96.
    *
    * Determinism: S, the tie term, and 18·Var are exact BIGINTs (the
    * sign compares exact day counts); z is one IEEE tree over exacts
    * — bit-identical cross-engine, surfaced UNROUNDED. NULL z (not 0)
    * when the series is constant (Var = 0).
    *
    * 100 TB shape: the corpus collapses to ONE (type, day) count
    * aggregate; the pair scan runs at DAYS grain (≤ days²/2 pairs per
    * type — the calendar, not the data, bounds it; the q91 argument)
    * and ties aggregate at distinct-value grain. */
  def mannKendall(ev: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame =
    mannKendallFromDaily(dailyCounts(ev))

  /** [[mannKendall]] off a prebuilt (event_type, d, c) day-grain frame
    * — the [[theilSenFromDaily]] reuse point for trend panels. */
  def mannKendallFromDaily(dd0: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val dd = scope.persist(dd0.select(col("event_type"), col("d"), col("c")))
    val pr = dd.select(col("event_type"), col("d").as("ad"), col("c").as("ac"))
      .join(broadcast(dd.select(col("event_type").as("et2"), col("d").as("bd"), col("c").as("bc"))),
        col("event_type") === col("et2") && col("bd") > col("ad"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast(LongType).as("n_pairs"),
        sum(expr("CASE WHEN bc > ac THEN 1 WHEN bc < ac THEN -1 ELSE 0 END"))
          .cast(LongType).as("s_stat"))
    val ti = dd.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).cast(LongType).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).cast(LongType).as("tie_term"),
        sum(col("t")).cast(LongType).as("n_days"))
    ti.join(broadcast(pr), Seq("event_type"))
      .withColumn("var18",
        expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie_term"))
      .selectExpr("event_type", "n_days", "n_pairs", "s_stat",
        "CAST(var18 AS DOUBLE) / 18.0 AS var_s", s"$mkZSql AS z_stat")
      .selectExpr("event_type", "n_days", "n_pairs", "s_stat", "var_s",
        "z_stat", s"$mkTrendSql AS trend")
      .orderBy(col("event_type"))
  }

  val q99 = QueryDef(
    "q99_mann_kendall",
    Some(s"""WITH $dailyCountsSql,
      pr AS (SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        FROM dd a JOIN dd b ON a.event_type = b.event_type AND b.d > a.d GROUP BY 1),
      tg AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS t FROM dd GROUP BY 1, 2),
      ti AS (SELECT event_type, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
          CAST(sum(t) AS BIGINT) AS n_days FROM tg GROUP BY 1),
      v AS (SELECT ti.event_type, n_days, n_pairs, s_stat,
          n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18
        FROM ti JOIN pr ON ti.event_type = pr.event_type),
      zz AS (SELECT event_type, n_days, n_pairs, s_stat,
          CAST(var18 AS DOUBLE) / 18.0 AS var_s, $mkZSql AS z_stat FROM v)
      SELECT event_type, n_days, n_pairs, s_stat, var_s, z_stat,
        $mkTrendSql AS trend
      FROM zz ORDER BY event_type"""),
    (s, d) => mannKendall(Tables.events(s, d).select(col("event_type"), col("ts"))))

  // ------------------------------------------- q100 Wald–Wolfowitz runs
  /** Shared runs-test readout fragments over the exact counts
    * (runs, n_above, n_below) — one IEEE tree each, identical in both
    * engines; z surfaced UNROUNDED (the [[mkZSql]] argument). */
  private val rtN = "(n_above + n_below)"
  private val rtESql =
    s"(CAST(1 AS DOUBLE) + CAST(2 * n_above * n_below AS DOUBLE) / CAST($rtN AS DOUBLE))"
  private val rtVarSql =
    s"(CAST(2 * n_above * n_below * (2 * n_above * n_below - $rtN) AS DOUBLE) / CAST($rtN * $rtN * ($rtN - 1) AS DOUBLE))"
  private val rtZSql =
    s"""CASE WHEN n_above > 0 AND n_below > 0 AND $rtN > 1
          AND 2 * n_above * n_below * (2 * n_above * n_below - $rtN) > 0
        THEN (CAST(runs AS DOUBLE) - $rtESql) / sqrt($rtVarSql) END"""
  private val rtVerdictSql =
    "CASE WHEN z_stat IS NULL THEN CAST(NULL AS BIGINT) WHEN abs(z_stat) <= 1.96 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"

  /** q100: Wald–Wolfowitz runs test per event type — "is the daily
    * series' above/below-mean pattern random, or does it cluster?"
    * (the randomness audit behind control charts: too FEW runs =
    * regime persistence / level shifts, too MANY = oscillation; the
    * residual-independence check [[q80]]'s CUSUM and [[q99]]'s trend
    * verdicts implicitly assume). Each day classifies against the
    * series MEAN by the exact integer cross-multiplication
    * c·n_days vs Σc (no division — the mean is never materialized);
    * equal-to-mean days are dropped (standard practice, and the
    * remaining above/below sets are nonempty by the Σ(c−mean) = 0
    * balance). R = 1 + sign changes via lag at day grain;
    * E[R] = 1 + 2n₁n₂/n, Var = 2n₁n₂(2n₁n₂−n)/(n²(n−1)), z = (R−E)/√Var
    * — exact BIGINTs into one IEEE tree; verdict |z| ≤ 1.96.
    *
    * 100 TB shape: ONE (type, day) count aggregate; the lag window
    * and all algebra run at calendar grain (the q94 argument). A
    * constant series classifies no days and yields NO row — both
    * engines agree by construction. */
  def runsTest(ev: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val dd = scope.persist(dailyCounts(ev))
    val tot = dd.groupBy(col("event_type"))
      .agg(sum(col("c")).cast(LongType).as("sc"), count(lit(1)).cast(LongType).as("nd"))
    val wu = Window.partitionBy(col("event_type")).orderBy(col("d"))
    dd.join(broadcast(tot), Seq("event_type"))
      .filter(expr("c * nd <> sc"))
      .select(col("event_type"), col("d"),
        expr("CASE WHEN c * nd > sc THEN 1 ELSE 0 END").as("sgn"))
      .withColumn("prev", lag(col("sgn"), 1).over(wu))
      .groupBy(col("event_type"))
      .agg(sum(when(col("prev").isNull || col("prev") =!= col("sgn"), 1L).otherwise(0L))
          .cast(LongType).as("runs"),
        sum(col("sgn")).cast(LongType).as("n_above"),
        (count(lit(1)) - sum(col("sgn"))).cast(LongType).as("n_below"))
      .selectExpr("event_type", s"$rtN AS n_days_used", "n_above", "n_below",
        "runs", s"$rtESql AS e_runs", s"$rtZSql AS z_stat")
      .selectExpr("event_type", "n_days_used", "n_above", "n_below", "runs",
        "e_runs", "z_stat", s"$rtVerdictSql AS random_ok")
      .orderBy(col("event_type"))
  }

  val q100 = QueryDef(
    "q100_runs_test",
    Some(s"""WITH $dailyCountsSql,
      tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS sc,
          CAST(count(*) AS BIGINT) AS nd FROM dd GROUP BY 1),
      cl AS (SELECT dd.event_type, dd.d,
          CASE WHEN dd.c * tot.nd > tot.sc THEN 1 ELSE 0 END AS sgn
        FROM dd JOIN tot ON dd.event_type = tot.event_type
        WHERE dd.c * tot.nd <> tot.sc),
      rr AS (SELECT event_type, d, sgn,
          lag(sgn) OVER (PARTITION BY event_type ORDER BY d) AS prev FROM cl),
      ag AS (SELECT event_type,
          CAST(sum(CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END) AS BIGINT) AS runs,
          CAST(sum(sgn) AS BIGINT) AS n_above,
          CAST(count(*) - sum(sgn) AS BIGINT) AS n_below
        FROM rr GROUP BY 1),
      rd AS (SELECT event_type, $rtN AS n_days_used, n_above, n_below, runs,
          $rtESql AS e_runs, $rtZSql AS z_stat FROM ag)
      SELECT event_type, n_days_used, n_above, n_below, runs, e_runs, z_stat,
        $rtVerdictSql AS random_ok
      FROM rd ORDER BY event_type"""),
    (s, d) => runsTest(Tables.events(s, d).select(col("event_type"), col("ts"))))

  // --------------------------------------------- q101 autocorrelation
  /** ACF numerator/denominator as ALL-INTEGER forms (scaled by n²):
    * r_k = (n²Σxy − nS(Σa+Σb) + (n−k)S²) / (n²Σx² − nS²) where the
    * sums are exact integers — products ride a wide integer type
    * (DECIMAL(38,0) in Spark, HUGEINT in DuckDB: same values, the
    * engines' decimal-width rules differ) and the surfaced acf is ONE
    * IEEE division of exacts. Headroom: n²Σxy < 10³⁸ holds for ~10⁴
    * calendar days of 10¹²-count magnitudes. */
  private def acfFrags(wide: String => String): (String, String) = {
    val num = s"(${wide("n_days")} * n_days * sxy - ${wide("n_days")} * s * (sa + sb) + ${wide("(n_days - lag)")} * s * s)"
    val den = s"(${wide("n_days")} * n_days * ss - ${wide("n_days")} * s * s)"
    (num, den)
  }
  private val acfWideSpark: String => String = x => s"CAST($x AS DECIMAL(38,0))"
  private val acfWideDuck: String => String = x => s"CAST($x AS HUGEINT)"

  /** Shared day-grain ACF component frame: per (event_type, lag 1..7)
    * the exact pair sums over the ZERO-FILLED calendar (the q94
    * discipline — a hole is a real 0, so lag k is a true CALENDAR lag,
    * not a row offset), plus the per-type totals. Everything past the
    * one (type, day) count aggregate runs at calendar grain; the
    * banded self-join is bounded by days × 7. */
  private def acfComponents(ev: DataFrame, maxLag: Int)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val dd = dailyCounts(ev)
    val fl = scope.persist(calendarOf(dd).join(dd, Seq("event_type", "d"), "left")
      .select(col("event_type"),
        datediff(col("d"), min(col("d")).over(
          Window.partitionBy(col("event_type")))).cast(LongType).as("t"),
        coalesce(col("c"), lit(0L)).as("x")))
    val tt = dayTotals(fl)
    val lg = fl.select(col("event_type"), col("t").as("at"), col("x").as("ax"))
      .join(broadcast(fl.select(col("event_type").as("et2"), col("t").as("bt"), col("x").as("bx"))),
        col("event_type") === col("et2") &&
        col("at") - col("bt") >= 1 && col("at") - col("bt") <= maxLag)
      .groupBy(col("event_type"), (col("at") - col("bt")).as("lag"))
      .agg(count(lit(1)).cast(LongType).as("n_pairs"),
        sum(expr("CAST(ax AS DECIMAL(19,0)) * bx")).cast(DecimalType(38, 0)).as("sxy"),
        sum(col("ax")).cast(LongType).as("sa"),
        sum(col("bx")).cast(LongType).as("sb"))
    lg.join(broadcast(tt), Seq("event_type"))
  }

  /** Oracle twin of [[acfComponents]] — CTE chain ending in `cmp`. */
  private def acfCtesDuck(maxLag: Int): String =
    s"""$dailyCountsSql,
      $calendarSql,
      fl AS (SELECT cal.event_type, CAST(cal.d - sp.dmin AS BIGINT) AS t,
          coalesce(dd.c, CAST(0 AS BIGINT)) AS x
        FROM cal JOIN sp ON cal.event_type = sp.event_type
        LEFT JOIN dd ON cal.event_type = dd.event_type AND cal.d = dd.d),
      $dayTotalsSql,
      lg AS (SELECT a.event_type, a.at - b.bt AS lag,
          CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(CAST(a.ax AS HUGEINT) * b.bx) AS HUGEINT) AS sxy,
          CAST(sum(a.ax) AS BIGINT) AS sa, CAST(sum(b.bx) AS BIGINT) AS sb
        FROM (SELECT event_type, t AS at, x AS ax FROM fl) a
        JOIN (SELECT event_type, t AS bt, x AS bx FROM fl) b
          ON a.event_type = b.event_type AND a.at - b.bt BETWEEN 1 AND $maxLag
        GROUP BY 1, 2),
      cmp AS (SELECT lg.event_type, lg.lag, lg.n_pairs, lg.sxy, lg.sa, lg.sb,
          tt.n_days, tt.s, tt.ss
        FROM lg JOIN tt ON lg.event_type = tt.event_type)"""

  /** q101: sample autocorrelation at calendar lags 1..7 per series —
    * the diagnostic every forecasting readout here implicitly assumes
    * readable (q79's decomposition, q87's seasonal-naïve backtest, and
    * q53's EWMA all presume the series' memory structure; the ACF is
    * where that structure is READ — Box & Jenkins' first plot). The
    * standard estimator r_k = Σ(x_t−x̄)(x_{t−k}−x̄)/Σ(x_t−x̄)² folds to
    * all-integer numerator/denominator scaled by n² ([[acfFrags]]);
    * the surfaced acf is ONE IEEE division of exacts, bit-identical,
    * unrounded. NULL — not 0 — on a constant series (zero variance).
    *
    * 100 TB: ONE (type, day) count aggregate; the zero-filled calendar
    * and the 7-banded self-join run at days grain (calendar-bounded —
    * the q91 argument). */
  val q101 = QueryDef(
    "q101_autocorrelation",
    Some {
      val (num, den) = acfFrags(acfWideDuck)
      s"""WITH ${acfCtesDuck(7)}
      SELECT event_type, lag, n_days, n_pairs,
        CASE WHEN $den <> 0 THEN CAST($num AS DOUBLE) / CAST($den AS DOUBLE) END AS acf
      FROM cmp ORDER BY event_type, lag"""
    },
    (s, d) => {
      val (num, den) = acfFrags(acfWideSpark)
      acfComponents(Tables.events(s, d).select(col("event_type"), col("ts")), 7)
        .selectExpr("event_type", "lag", "n_days", "n_pairs",
          s"CASE WHEN $den <> 0 THEN CAST($num AS DOUBLE) / CAST($den AS DOUBLE) END AS acf")
        .orderBy(col("event_type"), col("lag"))
    })

  // ----------------------------------------------- q102 Ljung–Box
  /** The Ljung–Box fold over 7 pivoted acf columns — a FIXED
    * left-to-right IEEE tree (aggregating IEEE terms across rows would
    * be merge-order-dependent), NULL-propagating: a constant series'
    * NULL acf nulls the statistic, not zeroes it. */
  private def ljungBoxSql(maxLag: Int): String = {
    val terms = (1 to maxLag)
      .map(k => s"(a$k * a$k) / CAST(n_days - $k AS DOUBLE)").mkString(" + ")
    s"(CAST(n_days AS DOUBLE) * CAST(n_days + 2 AS DOUBLE) * ($terms))"
  }

  /** q102: Ljung–Box portmanteau test per series — the white-noise
    * verdict over [[q101]]'s ACF lags (Ljung & Box 1978; the residual
    * check run after ANY forecast fit: if the series already fails it,
    * there is structure to model, if a model's residuals fail it, the
    * model missed some). Q = n(n+2)Σ r_k²/(n−k) over lags 1..7 as a
    * fixed IEEE tree over the exact-operand acf divisions, verdict
    * against the LITERAL χ²₇ critical value 14.067. */
  val q102 = QueryDef(
    "q102_ljung_box",
    Some {
      val (num, den) = acfFrags(acfWideDuck)
      val acfs = (1 to 7).map(k =>
        s"min(CASE WHEN lag = $k THEN acf END) AS a$k").mkString(",\n          ")
      s"""WITH ${acfCtesDuck(7)},
      af AS (SELECT event_type, lag, n_days,
          CASE WHEN $den <> 0 THEN CAST($num AS DOUBLE) / CAST($den AS DOUBLE) END AS acf
        FROM cmp),
      pv AS (SELECT event_type, min(n_days) AS n_days,
          $acfs
        FROM af GROUP BY event_type)
      SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        ${ljungBoxSql(7)} AS q_stat,
        CAST(CASE WHEN ${ljungBoxSql(7)} IS NULL THEN NULL
          WHEN ${ljungBoxSql(7)} <= 14.067 THEN 1 ELSE 0 END AS BIGINT) AS white_noise
      FROM pv ORDER BY event_type"""
    },
    (s, d) => {
      val (num, den) = acfFrags(acfWideSpark)
      val af = acfComponents(Tables.events(s, d).select(col("event_type"), col("ts")), 7)
        .selectExpr("event_type", "lag", "n_days",
          s"CASE WHEN $den <> 0 THEN CAST($num AS DOUBLE) / CAST($den AS DOUBLE) END AS acf")
      val aggs = min(col("n_days")).as("n_days") +:
        (1 to 7).map(k => min(when(col("lag") === k, col("acf"))).as(s"a$k"))
      af.groupBy(col("event_type"))
        .agg(aggs.head, aggs.tail: _*)
        .selectExpr("event_type", "CAST(n_days AS BIGINT) AS n_days",
          s"${ljungBoxSql(7)} AS q_stat",
          s"""CAST(CASE WHEN ${ljungBoxSql(7)} IS NULL THEN NULL
            WHEN ${ljungBoxSql(7)} <= 14.067 THEN 1 ELSE 0 END AS BIGINT) AS white_noise""")
        .orderBy(col("event_type"))
    })

  // -------------------------------------------- q103 weekday ANOVA
  /** Portable Sunday=0 day-of-week of a DATE: epoch-day integer + a
    * week-multiple offset (so truncation is floor pre-1970) + 4, mod
    * 7 — the q66 idiom at DATE grain. */
  private val DowOffsetDays = 7L * 400000L

  /** One-way ANOVA F readout fragments over the PIVOTED per-dow
    * sums/counts (s0..s6, n0..n6) and per-type totals (n_days, s,
    * ss): between/within sums of squares from the standard identity
    * SSB = Σ S_g²/n_g − S²/n, SSW = Σx² − Σ S_g²/n_g — each Σ a FIXED
    * left-to-right IEEE tree over exact integers (the q102 pivot
    * discipline: cross-row IEEE sums are merge-order-dependent). */
  private val anGroupSq = (0 to 6).map(g =>
    s"(CASE WHEN n$g > 0 THEN (CAST(s$g AS DOUBLE) * CAST(s$g AS DOUBLE)) / CAST(n$g AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)")
    .mkString("(", " + ", ")")
  private val anK = (0 to 6).map(g => s"(CASE WHEN n$g > 0 THEN 1 ELSE 0 END)")
    .mkString("(", " + ", ")")
  private val anSsb = s"($anGroupSq - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n_days AS DOUBLE))"
  private val anSsw = s"(CAST(ss AS DOUBLE) - $anGroupSq)"
  private val anFSql =
    s"""CASE WHEN $anK >= 2 AND n_days > $anK AND $anSsw > 0
        THEN ($anSsb / CAST($anK - 1 AS DOUBLE)) / ($anSsw / CAST(n_days - $anK AS DOUBLE)) END"""
  /** Verdict only where the LITERAL F(6,120) = 2.175 cut applies —
    * full 7-dow design with df2 ≥ 120; the critical value DECREASES
    * in df2, so using the 120 literal for any larger df2 is
    * CONSERVATIVE. Elsewhere NULL, never a fake verdict. */
  private val anVerdictSql =
    """CASE WHEN f_stat IS NULL OR k_groups <> 7 OR df2 < 120 THEN CAST(NULL AS BIGINT)
        WHEN f_stat > 2.175 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"""

  /** q103: one-way weekday ANOVA per series — the DAY-level companion
    * to [[graft.operators.Analytics.q66]]'s event-level χ² (χ² asks
    * "are event counts uniform across dows?" treating every event as
    * a draw; ANOVA treats DAYS as replicates and asks whether the
    * per-dow mean daily volume differs RELATIVE to day-to-day noise —
    * a series can fail χ² on sheer n while its daily means are
    * indistinguishable, and vice versa). Daily counts over the
    * zero-filled calendar (q94 discipline) group by the portable
    * Sunday=0 dow; per-group sums PIVOT to columns so SSB/SSW are
    * fixed IEEE trees over exact integers; F one readout expression.
    *
    * 100 TB: ONE (type, day) count aggregate; everything after at
    * (type × 7)-grain. */
  def dowAnova(ev: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val dd = dailyCounts(ev)
    val fl = scope.persist(calendarOf(dd).join(dd, Seq("event_type", "d"), "left")
      .select(col("event_type"),
        expr(s"(CAST(datediff(d, DATE '1970-01-01') AS BIGINT) + $DowOffsetDays + 4) % 7").as("dow"),
        coalesce(col("c"), lit(0L)).as("x")))
    val byDow = fl.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).cast(LongType).as("ng"), sum(col("x")).cast(LongType).as("sg"))
    val pivotAggs =
      (0 to 6).map(g => sum(when(col("dow") === g, col("ng")).otherwise(0L))
        .cast(LongType).as(s"n$g")) ++
      (0 to 6).map(g => sum(when(col("dow") === g, col("sg")).otherwise(0L))
        .cast(LongType).as(s"s$g"))
    val pv = byDow.groupBy(col("event_type")).agg(pivotAggs.head, pivotAggs.tail: _*)
    val tt = dayTotals(fl)
    tt.join(broadcast(pv), Seq("event_type"))
      .selectExpr("event_type", "n_days", s"$anK AS k_groups",
        s"$anFSql AS f_stat", s"$anK - 1 AS df1", s"n_days - $anK AS df2")
      .selectExpr("event_type", "n_days", "k_groups", "f_stat", "df1", "df2",
        s"$anVerdictSql AS significant")
      .orderBy(col("event_type"))
  }

  val q103 = QueryDef(
    "q103_dow_anova",
    Some(s"""WITH $dailyCountsSql,
      $calendarSql,
      fl AS (SELECT cal.event_type,
          (CAST(cal.d - DATE '1970-01-01' AS BIGINT) + $DowOffsetDays + 4) % 7 AS dow,
          coalesce(dd.c, CAST(0 AS BIGINT)) AS x
        FROM cal LEFT JOIN dd ON cal.event_type = dd.event_type AND cal.d = dd.d),
      bd AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS ng,
          CAST(sum(x) AS BIGINT) AS sg FROM fl GROUP BY 1, 2),
      pv AS (SELECT event_type,
          ${(0 to 6).map(g => s"CAST(sum(CASE WHEN dow = $g THEN ng ELSE 0 END) AS BIGINT) AS n$g").mkString(",\n          ")},
          ${(0 to 6).map(g => s"CAST(sum(CASE WHEN dow = $g THEN sg ELSE 0 END) AS BIGINT) AS s$g").mkString(",\n          ")}
        FROM bd GROUP BY 1),
      $dayTotalsSql,
      rd AS (SELECT tt.event_type, n_days, $anK AS k_groups,
          $anFSql AS f_stat, $anK - 1 AS df1, n_days - $anK AS df2
        FROM tt JOIN pv ON tt.event_type = pv.event_type)
      SELECT event_type, n_days, k_groups, f_stat, df1, df2,
        $anVerdictSql AS significant
      FROM rd ORDER BY event_type"""),
    (s, d) => dowAnova(Tables.events(s, d).select(col("event_type"), col("ts"))))

  val defs: Seq[QueryDef] = Seq(q80, q81, q82, q83, q84, q85, q86, q87, q88, q89,
    q90, q91, pipelineTrendPanel, q92, q93, q94, q95, q96, q97, q98, q99, q100,
    q101, q102, q103)
}
