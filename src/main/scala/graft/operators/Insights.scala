package graft.operators

import graft.{Portable, QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-7 analytics tier (SURVEY.md §2.2 cont.): market-basket
  * association rules, DAU/MAU engagement stickiness, BM25 document
  * ranking, and the cohort-week retention matrix — the four readouts
  * a product-analytics / IR stack runs daily that the suite did not
  * yet cover.
  *
  * House determinism rules applied throughout (the q65 lesson):
  * ratios surfaced at 6 dp go through [[Portable.round6RatioSql]]'s
  * pure-integer half-away rounding; doubles that must hash-compare
  * are either fixed-order IEEE trees over exact integer inputs shared
  * token-for-token with the oracle (bit-identical in both engines) or
  * 12-dp-rounded DECIMAL sums (the `corpus_ngram_lm` ln discipline);
  * `round(<double division>, 6)` never appears.
  */
object Insights {

  // ----------------------------------------------------------- q71
  /** Baskets larger than this never enter the pair expansion — the
    * megabucket guard (house `maxBucketSize` discipline): one
    * wholesale order with 10⁴ distinct items would contribute
    * C(10⁴,2) ≈ 5·10⁷ pairs on its own. Enforced in BOTH engines, so
    * the gate pins the cap semantics. TPC-H-ish baskets top out ≈ 7
    * items; the cap only exists for the pathological tail. */
  val MaxBasketSize = 50
  /** Minimum co-occurrence count for a rule to be scored. */
  val MinPairSupport = 2

  /** q71: market-basket association rules over lineitem baskets
    * (order = basket, part = item) — support / confidence inputs and
    * LIFT = (n_ab · N) / (n_a · n_b), the cross-sell staple. Top 20
    * rules by lift.
    *
    * 100 TB shape: ONE distinct (order, part) projection; the pair
    * stage is a per-basket self-join bounded by [[MaxBasketSize]]
    * (≤ C(50,2) pairs per basket — linear in basket count, never
    * corpus×corpus), immediately collapsed by a (pa, pb) count
    * aggregate; item supports are an item-grain aggregate; N rides in
    * as a one-row broadcast. Top-20 is TakeOrderedAndProject (per-
    * partition top-k + driver merge), no global sort. The lift double
    * is the fixed-order IEEE tree `CAST(cab AS DOUBLE) * nb / ca / cb`
    * over exact BIGINT counts, shared token-for-token with the oracle
    * — bit-identical in both engines, no round() hazard. */
  val q71 = QueryDef(
    "q71_basket_lift",
    Some(s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      bsz AS (SELECT ok, count(*) AS sz FROM b GROUP BY ok),
      bf AS (SELECT b.ok, b.pk FROM b JOIN bsz ON b.ok = bsz.ok WHERE bsz.sz <= $MaxBasketSize),
      n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS nb FROM bf),
      item AS (SELECT pk, count(*) AS c FROM bf GROUP BY pk),
      pair AS (SELECT a.pk AS pa, b2.pk AS pb, count(*) AS cab
        FROM bf a JOIN bf b2 ON a.ok = b2.ok AND a.pk < b2.pk GROUP BY a.pk, b2.pk),
      sup AS (SELECT pa, pb, cab, ia.c AS ca, ib.c AS cb FROM pair
        JOIN item ia ON ia.pk = pair.pa JOIN item ib ON ib.pk = pair.pb
        WHERE cab >= $MinPairSupport),
      sc AS (SELECT pa, pb, cab, ca, cb, CAST(cab AS DOUBLE) * nb / ca / cb AS lift FROM sup, n),
      r AS (SELECT pa, pb, cab, ca, cb, lift,
          row_number() OVER (ORDER BY lift DESC, pa, pb) AS rk FROM sc)
      SELECT rk, pa, pb, cab, ca, cb, lift FROM r WHERE rk <= 20 ORDER BY rk"""),
    (s, d) => basketLift(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))))

  /** Association rules over (ok = basket id, pk = item) rows — see
    * [[q71]]. `minSupport`/`maxBasket` parameterized for callers;
    * gate values are the shared constants. */
  def basketLift(rows: DataFrame, minSupport: Int = MinPairSupport,
      maxBasket: Int = MaxBasketSize, topK: Int = 20): DataFrame = {
    val b = rows.select(col("ok"), col("pk")).distinct()
    val bsz = b.groupBy(col("ok")).agg(count(lit(1)).as("sz"))
    val bf = b.join(bsz.filter(col("sz") <= maxBasket).select(col("ok")), Seq("ok"))
    val n = bf.agg(countDistinct(col("ok")).cast(LongType).as("nb"))
    val item = bf.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val pair = bf.as("a").join(bf.as("b2"),
        col("a.ok") === col("b2.ok") && col("a.pk") < col("b2.pk"))
      .groupBy(col("a.pk").as("pa"), col("b2.pk").as("pb"))
      .agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minSupport)
    val sc = pair
      .join(item.select(col("pk").as("pa"), col("c").as("ca")), Seq("pa"))
      .join(item.select(col("pk").as("pb"), col("c").as("cb")), Seq("pb"))
      .crossJoin(broadcast(n))
      .selectExpr("pa", "pb", "cab", "ca", "cb",
        "CAST(cab AS DOUBLE) * nb / ca / cb AS lift")
    val top = sc.orderBy(col("lift").desc, col("pa"), col("pb")).limit(topK)
    top.withColumn("rk",
        row_number().over(Window.orderBy(col("lift").desc, col("pa"), col("pb"))))
      .select(col("rk"), col("pa"), col("pb"), col("cab"), col("ca"), col("cb"), col("lift"))
      .orderBy(col("rk"))
  }

  // ----------------------------------------------------------- q72
  /** Trailing window (days, inclusive) for the MAU side. */
  val MauWindowDays = 28

  /** q72: DAU / MAU engagement stickiness per day — the product-
    * health KPI: distinct daily actives over distinct trailing-28-day
    * actives.
    *
    * 100 TB shape: the corpus collapses to distinct (user, day) ONCE
    * (one shuffle); the MAU side avoids a range join by the EXPLODE
    * trick — each (user, day) row covers report days d..d+27 via a
    * `sequence()` explode (a fixed 28× fan-out, linear in user-days),
    * equi-joined to the broadcast day grid, then one distinct-user
    * count per report day. No per-day rescans, no O(|ud|·|days|)
    * nested loop. Stickiness is [[Portable.round6RatioSql]]'s exact
    * integer rounding of dau/mau. The oracle runs the equivalent
    * BETWEEN range join — same result, and the engine's explode plan
    * is the one that survives scale. */
  val q72 = QueryDef(
    "q72_stickiness",
    Some(s"""WITH ud AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
      days AS (SELECT DISTINCT d FROM ud),
      dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY d),
      mau AS (SELECT dy.d, count(DISTINCT ud.user_id) AS mau FROM days dy
        JOIN ud ON ud.d <= dy.d AND ud.d >= dy.d - ${MauWindowDays - 1} GROUP BY dy.d)
      SELECT dau.d, dau.dau, mau.mau,
        ${Portable.round6RatioDuck("dau.dau", "mau.mau")} AS stickiness
      FROM dau JOIN mau ON dau.d = mau.d ORDER BY dau.d"""),
    (s, d) => stickiness(Tables.events(s, d).select(col("user_id"), col("ts"))))

  /** DAU/MAU over (user_id, ts) rows — see [[q72]]. */
  def stickiness(ev: DataFrame, windowDays: Int = MauWindowDays): DataFrame = {
    val ud = ev
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("d"))
      .distinct()
    val days = ud.select(col("d")).distinct()
    val dau = ud.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val covered = ud.select(col("user_id"),
      explode(expr(s"sequence(d, date_add(d, ${windowDays - 1}))")).as("rd"))
    val mau = covered.join(broadcast(days.select(col("d").as("rd"))), Seq("rd"))
      .groupBy(col("rd").as("d")).agg(countDistinct(col("user_id")).as("mau"))
    dau.join(mau, Seq("d"))
      .selectExpr("d", "dau", "mau",
        s"${Portable.round6RatioSpark("dau", "mau")} AS stickiness")
      .orderBy(col("d"))
  }

  // ----------------------------------------------------------- q73
  /** Fixed query-term set (corpus mid-frequency tokens) and the
    * standard BM25 constants — literals shared with the oracle. */
  val Bm25Terms = Seq("join", "scan", "filter")
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 15

  /** q73: BM25 document ranking (Robertson–Spärck Jones / Okapi —
    * the IR scoring staple, and the retrieval half of every RAG
    * data pipeline) for the fixed [[Bm25Terms]] query. Per (doc,
    * term): idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with the
    * always-positive idf = ln((N − df + ½)/(df + ½) + 1).
    *
    * Determinism: each per-term score is rounded to 12 dp and summed
    * as DECIMAL — the `corpus_ngram_lm` ln discipline (a last-ulp ln
    * divergence moves one term ≤ 1e-12 and the decimal sum is merge-
    * order-free); ranking orders on the EXACT decimal sum, never on a
    * re-rounded double, so ranks cannot diverge at ulp boundaries;
    * the surfaced score is one deterministic decimal→double cast.
    *
    * 100 TB shape: ONE corpus scan produces (doc, dl) and the term-
    * filtered tf rows (the filter collapses the explode to |terms|
    * rows per doc BEFORE any shuffle); df and the (N, avgdl) row are
    * term-/corpus-grain aggregates riding back as broadcasts; top-15
    * is TakeOrderedAndProject. The corpus is never joined to itself
    * and never re-scanned. */
  /** The shared per-(doc, term) BM25 score fragment — every operand
    * explicitly CAST to DOUBLE before any division, because a bare
    * `(nd - df + 0.5) / (df + 0.5)` would be DECIMAL-typed in Spark
    * (decimal division, HALF_UP at a result scale) but silently
    * degrade to DOUBLE division in DuckDB — the engines' decimal
    * division semantics NEVER agree, so the fragment keeps the whole
    * tree in IEEE doubles where both are correctly rounded. */
  private[graft] val bm25Frag =
    s"round(ln((CAST(nd - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)" +
      s" * (CAST(tf AS DOUBLE) * ${1 + Bm25K1})" +
      s" / (CAST(tf AS DOUBLE) + $Bm25K1 * (${1 - Bm25B} + $Bm25B * CAST(dl AS DOUBLE) / avgdl)), 12)"

  val q73 = QueryDef(
    "q73_bm25", {
      val termsSql = Bm25Terms.map(t => s"'$t'").mkString("(", ", ", ")")
      Some(s"""WITH t AS (SELECT doc_id, string_split(${Portable.normTextSql("text")}, ' ') AS toks FROM documents),
      dlt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
      st AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dlt),
      tf AS (SELECT doc_id, dl, tok, count(*) AS tf
        FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS tok FROM t) u
        WHERE tok IN $termsSql GROUP BY doc_id, dl, tok),
      dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      term AS (SELECT tf.doc_id, CAST($bm25Frag AS DECIMAL(28,12)) AS ts
        FROM tf JOIN dft ON tf.tok = dft.tok, st),
      sc AS (SELECT doc_id, sum(ts) AS s FROM term GROUP BY doc_id),
      r AS (SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rk FROM sc)
      SELECT rk, doc_id, CAST(s AS DOUBLE) AS score FROM r WHERE rk <= $Bm25TopK ORDER BY rk""")
    },
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), split(Portable.normText(col("text")), " ").as("toks"))
      val dlt = t.select(col("doc_id"), size(col("toks")).cast(LongType).as("dl"))
      val st = dlt.agg(count(lit(1)).cast(LongType).as("nd"),
        (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
      // dl rides through the tf aggregation (constant per doc) — no
      // corpus-grain join back for document length
      val tf = t.select(col("doc_id"), size(col("toks")).cast(LongType).as("dl"),
          explode(col("toks")).as("tok"))
        .filter(col("tok").isin(Bm25Terms.map(x => x: Any): _*))
        .groupBy(col("doc_id"), col("dl"), col("tok")).agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val term = tf.join(broadcast(dft), Seq("tok"))
        .crossJoin(broadcast(st))
        .selectExpr("doc_id", s"CAST($bm25Frag AS DECIMAL(28,12)) AS ts")
      val sc = term.groupBy(col("doc_id")).agg(sum(col("ts")).as("s"))
      val top = sc.orderBy(col("s").desc, col("doc_id")).limit(Bm25TopK)
      top.withColumn("rk", row_number().over(Window.orderBy(col("s").desc, col("doc_id"))))
        .select(col("rk"), col("doc_id"), col("s").cast(DoubleType).as("score"))
        .orderBy(col("rk"))
    })

  // ----------------------------------------------------------- q74
  /** q74: cohort-week retention matrix — users cohorted by first
    * active week, the (cohort, week-age) triangle of distinct actives
    * with retention vs the cohort's size. The growth-analytics view
    * behind every retention chart ([[Extra]]'s q45 is the single-
    * cohort curve; this is the full matrix).
    *
    * 100 TB shape: corpus → distinct (user, week) once; first-week
    * per user is a user-grain aggregate; the matrix is ONE join of
    * user-weeks to their (user-grain) cohort row followed by a
    * (cohort, age) count — every stage keyed and shrinking, no
    * windows over the corpus, no per-week rescans. Ages are exact
    * integer week arithmetic (both engines' day subtraction is exact,
    * weeks are aligned so the division is exact); retention is
    * [[Portable.round6RatioSql]]. */
  val q74 = QueryDef(
    "q74_cohort_matrix",
    Some(s"""WITH uw AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
      fw AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id),
      sz AS (SELECT cohort, count(*) AS cohort_n FROM fw GROUP BY cohort),
      act AS (SELECT f.cohort, CAST((uw.wk - f.cohort) // 7 AS BIGINT) AS age, count(*) AS n_active
        FROM uw JOIN fw f ON uw.user_id = f.user_id GROUP BY 1, 2)
      SELECT act.cohort, act.age, act.n_active, sz.cohort_n,
        ${Portable.round6RatioDuck("act.n_active", "sz.cohort_n")} AS retention
      FROM act JOIN sz ON act.cohort = sz.cohort ORDER BY act.cohort, act.age"""),
    (s, d) => cohortMatrix(Tables.events(s, d).select(col("user_id"), col("ts"))))

  /** Cohort-week retention matrix over (user_id, ts) rows — see
    * [[q74]]. */
  def cohortMatrix(ev: DataFrame): DataFrame = {
    val uw = ev
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
    val fw = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    val sz = fw.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_n"))
    val act = uw.join(fw, Seq("user_id"))
      .select(col("cohort"), expr("CAST(datediff(wk, cohort) div 7 AS BIGINT)").as("age"))
      .groupBy(col("cohort"), col("age")).agg(count(lit(1)).as("n_active"))
    act.join(sz, Seq("cohort"))
      .selectExpr("cohort", "age", "n_active", "cohort_n",
        s"${Portable.round6RatioSpark("n_active", "cohort_n")} AS retention")
      .orderBy(col("cohort"), col("age"))
  }

  // ----------------------------------------------------------- q75
  /** q75: repeat-purchase cadence — the inter-order gap distribution
    * per order priority (the lifecycle-marketing readout: "how long
    * until customers come back?", the input to churn windows and
    * reorder nudges).
    *
    * 100 TB shape: ONE customer-keyed window (lag over the
    * (date, orderkey) total order — orderkey breaks same-day ties
    * identically in both engines) produces exact integer day gaps;
    * p50/p90 ride the exact distributed selection machinery
    * ([[graft.operators.ExactPercentiles]] — bounded histogram
    * passes, never a sort shuffle; thresholds match the oracle's
    * `percentile_cont` bit-for-bit, the q69 contract); the mean is
    * [[Portable.round6RatioSql]] exact-integer rounding. */
  val q75 = QueryDef(
    "q75_purchase_intervals",
    Some(s"""WITH g AS (SELECT o_orderpriority AS prio,
        CAST(date_diff('day', CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS DATE), CAST(o_orderdate AS DATE)) AS BIGINT) AS gap
        FROM orders),
      gg AS (SELECT prio, gap, CAST(gap AS DOUBLE) AS gapd FROM g WHERE gap IS NOT NULL)
      SELECT prio, count(*) AS n_gaps,
        ${Portable.round6RatioDuck("CAST(sum(gap) AS BIGINT)", "count(*)")} AS mean_days,
        percentile_cont(0.5) WITHIN GROUP (ORDER BY gapd) AS p50_days,
        percentile_cont(0.9) WITHIN GROUP (ORDER BY gapd) AS p90_days,
        max(gap) AS max_days
      FROM gg GROUP BY prio ORDER BY prio"""),
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val gg = graft.CacheScope.untracked.persist(Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority").as("prio"))
        .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prio"),
          datediff(col("o_orderdate").cast("date"), col("prev").cast("date"))
            .cast(LongType).as("gap"))
        .withColumn("gapd", col("gap").cast(DoubleType)))
      val pct = ExactPercentiles.percentiles(gg, "prio", "gapd", Seq(0.5, 0.9),
        valueGrain = true) // integer day gaps: bounded domain (r14)
        .groupBy(col("g").as("prio"))
        .agg(min(when(col("p") === 0.5, col("value"))).as("p50"),
          min(when(col("p") === 0.9, col("value"))).as("p90"))
      val agg = gg.groupBy(col("prio"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).cast(LongType).as("sg"),
          max(col("gap")).as("max_days"))
      agg.join(broadcast(pct), Seq("prio"))
        .selectExpr("prio", "n_gaps",
          s"${Portable.round6RatioSpark("sg", "n_gaps")} AS mean_days",
          "p50 AS p50_days", "p90 AS p90_days", "max_days")
        .orderBy(col("prio"))
    })

  // ----------------------------------------------------------- q76
  /** Shared per-group OLS fragments over the moment columns
    * (n, sx, sy, sxx, sxy, syy — all doubles cast from exact DECIMAL
    * sums): slope/intercept in closed form, r² the squared Pearson
    * correlation. One fixed-order IEEE tree each, shared
    * token-for-token with the oracle — bit-identical, surfaced
    * UNROUNDED (the q71 lift contract; round() is the portability
    * hazard, not doubles). */
  // det guards: a group with CONSTANT x (or y, for r²) has det = 0 —
  // unguarded, Spark NULLs a double 0-division while DuckDB yields
  // ±Inf/NaN (the q59 hazard class); CASE→NULL is identical in both
  private[operators] val regDetX = "(n * sxx - sx * sx)"
  private[operators] val regDetY = "(n * syy - sy * sy)"
  private[operators] val regSlopeRaw = s"((n * sxy - sx * sy) / $regDetX)"
  private[operators] val regSlope = s"CASE WHEN $regDetX <> 0 THEN $regSlopeRaw END"
  private[operators] val regIntercept =
    s"CASE WHEN $regDetX <> 0 THEN (sy - $regSlopeRaw * sx) / n END"
  private[operators] val regR2 =
    s"CASE WHEN $regDetX <> 0 AND $regDetY <> 0 THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / ($regDetX * $regDetY) END"

  /** q76: grouped simple regression — per return flag, the OLS line
    * `l_extendedprice ~ l_quantity` with r² (the per-segment trend
    * fit every BI tool computes; [[graft.operators.Analytics]]'s
    * probe is ONE global 3-feature fit, this is the GROUPED 1-feature
    * family). ONE map-combinable DECIMAL moment aggregate per group
    * (the q43/ml_linear_probe discipline — merge-order-free at any
    * partitioning), then groups-scale closed-form algebra. The
    * corpus is scanned once and never shuffled beyond the tiny group
    * key. */
  val q76 = QueryDef(
    "q76_grouped_regression",
    Some(s"""WITH m AS (SELECT l_returnflag AS grp, CAST(count(*) AS DOUBLE) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
        CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS sxy,
        CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY l_returnflag)
      SELECT grp, CAST(n AS BIGINT) AS n_rows,
        $regSlope AS slope, $regIntercept AS intercept, $regR2 AS r2
      FROM m ORDER BY grp"""),
    (s, d) => groupedRegression(Tables.lineitem(s, d)
      .select(col("l_returnflag").as("grp"), col("l_quantity").as("x"),
        col("l_extendedprice").as("y"))))

  /** Per-group OLS over (grp, x, y) rows — see [[q76]]. */
  def groupedRegression(rows: DataFrame): DataFrame = {
    val m = rows
      .groupBy(col("grp"))
      .agg(count(lit(1)).cast(DoubleType).as("n"),
        sum(col("x").cast(DecimalType(18, 6))).cast(DoubleType).as("sx"),
        sum(col("y").cast(DecimalType(18, 6))).cast(DoubleType).as("sy"),
        sum((col("x") * col("x")).cast(DecimalType(28, 8))).cast(DoubleType).as("sxx"),
        sum((col("x") * col("y")).cast(DecimalType(28, 8))).cast(DoubleType).as("sxy"),
        sum((col("y") * col("y")).cast(DecimalType(28, 8))).cast(DoubleType).as("syy"))
    m.selectExpr("grp", "CAST(n AS BIGINT) AS n_rows",
        s"$regSlope AS slope", s"$regIntercept AS intercept", s"$regR2 AS r2")
      .orderBy(col("grp"))
  }

  // ----------------------------------------------------------- q77
  /** q77: ABC classification — parts ranked by revenue, classed by
    * cumulative revenue share (A up to 80%, B to 95%, C the tail):
    * the inventory-management staple, and the same "global ordered
    * cumulative" shape as exact selection.
    *
    * 100 TB shape: part revenues are ONE catalog-grain DECIMAL-cents
    * aggregate; the global DESC cumulative runs as the gini/
    * budget_select two-level scan (range partition on (rev DESC,
    * part), task-local exclusive running sums, per-partition totals'
    * exclusive scan broadcast back) — NO task holds the catalog,
    * partition-count invariant. Class boundaries are EXACT
    * cross-multiplications on cents in DECIMAL(38,0) (`cum·5 < tot·4`
    * ⇔ share < 0.8 — no float thresholds to disagree on; decimal, not
    * BIGINT, because `cume·20` would wrap int64 once total revenue
    * cents pass ~4.6e17 — Spark wraps silently where DuckDB raises);
    * the surfaced share is two correctly-rounded casts and one IEEE
    * division, unrounded. */
  val q77 = QueryDef(
    "q77_abc_classification",
    Some("""WITH pr AS (SELECT l_partkey AS pk,
        CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rc
        FROM lineitem GROUP BY l_partkey),
      tot AS (SELECT CAST(sum(rc) AS BIGINT) AS tc FROM pr),
      r AS (SELECT pk, rc, CAST(COALESCE(sum(rc) OVER (ORDER BY rc DESC, pk
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cume FROM pr),
      cl AS (SELECT CASE WHEN CAST(cume AS DECIMAL(38,0)) * 5 < CAST(tc AS DECIMAL(38,0)) * 4 THEN 'A'
          WHEN CAST(cume AS DECIMAL(38,0)) * 20 < CAST(tc AS DECIMAL(38,0)) * 19 THEN 'B' ELSE 'C' END AS cls, rc, tc FROM r, tot)
      SELECT cls, count(*) AS n_parts,
        CAST(CAST(sum(rc) AS BIGINT) AS DOUBLE) / 100.0 AS revenue,
        CAST(CAST(sum(rc) AS BIGINT) AS DOUBLE) / CAST(tc AS DOUBLE) AS share
      FROM cl GROUP BY cls, tc ORDER BY cls"""),
    (s, d) => {
      abcClassification(Tables.lineitem(s, d)
          .select(col("l_partkey").as("pk"), col("l_extendedprice").as("price")))
    })

  /** ABC classes over (pk = item, price) rows — see [[q77]]. */
  def abcClassification(rows: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val pr = rows
      .groupBy(col("pk"))
      .agg(sum(expr("CAST(CAST(price AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .cast(LongType).as("rc"))
    val ranked = scope.persist(pr
      .repartitionByRange(col("rc").desc, col("pk"))
      .withColumn("pid", spark_partition_id())
      .withColumn("lcum", coalesce(sum(col("rc")).over(
        Window.partitionBy(col("pid")).orderBy(col("rc").desc, col("pk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))))
    val wo = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offs = ranked.groupBy(col("pid")).agg(sum(col("rc")).as("ps"))
      .select(col("pid"), coalesce(sum(col("ps")).over(wo), lit(0L)).as("base"))
    val tot = pr.agg(sum(col("rc")).cast(LongType).as("tc"))
    val cl = ranked.join(broadcast(offs), Seq("pid"))
      .crossJoin(broadcast(tot))
      .selectExpr("CASE WHEN CAST(base + lcum AS DECIMAL(38,0)) * 5 < CAST(tc AS DECIMAL(38,0)) * 4 THEN 'A' " +
        "WHEN CAST(base + lcum AS DECIMAL(38,0)) * 20 < CAST(tc AS DECIMAL(38,0)) * 19 THEN 'B' ELSE 'C' END AS cls", "rc", "tc")
    cl.groupBy(col("cls"), col("tc"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rc")).cast(LongType).as("sumc"))
      .selectExpr("cls", "n_parts",
        "CAST(sumc AS DOUBLE) / 100.0 AS revenue",
        "CAST(sumc AS DOUBLE) / CAST(tc AS DOUBLE) AS share")
      .orderBy(col("cls"))
  }

  // ----------------------------------------------------------- q78
  /** q78: daily new-vs-returning active users — the growth
    * dashboard's second line (q63 counts cumulative reach; this
    * splits each day's actives by whether the day IS their first).
    *
    * 100 TB shape: distinct (user, day) once, first-day per user a
    * user-grain aggregate, then ONE user-keyed join and a day-grain
    * conditional count — exact integers end to end; the share is
    * [[Portable.round6RatioSql]]. */
  val q78 = QueryDef(
    "q78_new_vs_returning",
    Some(s"""WITH ud AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
      fd AS (SELECT user_id, min(d) AS fday FROM ud GROUP BY user_id),
      c AS (SELECT ud.d,
          CAST(sum(CASE WHEN ud.d = fd.fday THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
          CAST(sum(CASE WHEN ud.d <> fd.fday THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
        FROM ud JOIN fd ON ud.user_id = fd.user_id GROUP BY ud.d)
      SELECT d, new_users, returning_users,
        ${Portable.round6RatioDuck("new_users", "(new_users + returning_users)")} AS new_share
      FROM c ORDER BY d"""),
    (s, d) => {
      val ud = Tables.events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("d"))
        .distinct()
      val fd = ud.groupBy(col("user_id")).agg(min(col("d")).as("fday"))
      ud.join(fd, Seq("user_id"))
        .groupBy(col("d"))
        .agg(sum(when(col("d") === col("fday"), 1L).otherwise(0L)).as("new_users"),
          sum(when(col("d") =!= col("fday"), 1L).otherwise(0L)).as("returning_users"))
        .selectExpr("d", "new_users", "returning_users",
          s"${Portable.round6RatioSpark("new_users", "(new_users + returning_users)")} AS new_share")
        .orderBy(col("d"))
    })

  // ----------------------------------------------------------- q79
  /** Centered moving-average half-window (±3 days = the 7-day trend
    * every ops dashboard uses). */
  val TrendHalfWindow = 3

  /** q79: time-series trend decomposition of daily event volume —
    * the 7-day centered moving-average trend and the residual (the
    * classical decomposition's first step; residual spikes are what
    * alerting fires on, q47's z-score twin at series grain).
    *
    * 100 TB shape: the corpus collapses to ONE day-grain count
    * immediately; the MA window, residuals, and output all run at
    * days-scale (metadata). Determinism: the trend over a ±3 frame of
    * exact BIGINT counts is [[Portable.round6RatioSql]] on
    * (window-sum, window-count) — both exact integers from the SAME
    * frame in both engines (edge days use the truncated frame,
    * identically); the residual is `n − trend`, one IEEE subtraction
    * of exacts. */
  val q79 = QueryDef(
    "q79_trend_decompose",
    Some(s"""WITH dd AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n
        FROM events GROUP BY 1),
      w AS (SELECT d, n,
          CAST(sum(n) OVER (ORDER BY d ROWS BETWEEN $TrendHalfWindow PRECEDING AND $TrendHalfWindow FOLLOWING) AS BIGINT) AS ws,
          CAST(count(*) OVER (ORDER BY d ROWS BETWEEN $TrendHalfWindow PRECEDING AND $TrendHalfWindow FOLLOWING) AS BIGINT) AS wc
        FROM dd)
      SELECT d, n, ${Portable.round6RatioDuck("ws", "wc")} AS trend,
        CAST(n AS DOUBLE) - ${Portable.round6RatioDuck("ws", "wc")} AS residual
      FROM w ORDER BY d"""),
    (s, d) => {
      val dd = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("d")).rowsBetween(-TrendHalfWindow, TrendHalfWindow)
      dd.withColumn("ws", sum(col("n")).over(w).cast(LongType))
        .withColumn("wc", count(lit(1)).over(w).cast(LongType))
        .selectExpr("d", "n",
          s"${Portable.round6RatioSpark("ws", "wc")} AS trend",
          s"CAST(n AS DOUBLE) - ${Portable.round6RatioSpark("ws", "wc")} AS residual")
        .orderBy(col("d"))
    })

  val defs: Seq[QueryDef] = Seq(q71, q72, q73, q74, q75, q76, q77, q78, q79)
}
