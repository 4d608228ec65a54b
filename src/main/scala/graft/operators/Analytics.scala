package graft.operators

import graft.{QueryDef, Small, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-6 analytics tier: entity resolution, Markov transitions,
  * skyline (Pareto frontier), and a distributed linear probe — the
  * four relational/ML staples the q1–q54 ladder doesn't cover.
  *
  * Determinism discipline is the house one (SURVEY §5): integer /
  * decimal folds wherever an aggregate crosses partitions, fixed-order
  * IEEE expressions shared token-for-token with the oracle otherwise.
  */
object Analytics {

  // ----------------------------------------------------------- q55
  /** Per-blocking-key population cap for [[q55]] — the `maxBucketSize`
    * discipline: a degenerate key (e.g. every name sharing one
    * boilerplate token after deletion) would otherwise emit |key|²
    * candidate pairs in one task. Keys above the cap are dropped
    * BEFORE the self-join, mirrored in the oracle; a real pair lost
    * this way must share ONLY mega-keys (for edit distance 1 the two
    * names share all but one deletion key, so only names whose every
    * variant is boilerplate can be missed — the documented trade). */
  val MaxKeyNames = 64

  /** q55: fuzzy record linkage — customer names within edit distance 1
    * (the entity-resolution staple: OCR'd / re-keyed customer rosters
    * carry single-keystroke variants). A naive approach is the
    * |names|² levenshtein cross scan; the shipped plan is the FastSS /
    * deletion-neighborhood blocking (Bocek et al. 2007, public): two
    * strings are within one edit iff they share a key in
    * {name} ∪ {name minus one char}, so candidates come from an EXACT
    * hash self-join on those keys (≤ len+1 keys per name — linear
    * fan-out), then `levenshtein` verifies exactly. 100 TB shape: one
    * key-hashed shuffle for the cap + self-join, candidate volume
    * bounded by Σ|key|² over capped keys; the verify is per-pair and
    * the quadratic cross scan never exists. Both engines compute the
    * identical classic DP levenshtein on identical UTF-8 names. */
  val q55 = QueryDef(
    "q55_fuzzy_link",
    Some(s"""WITH n AS (SELECT c_custkey AS id, c_name AS nm FROM customer),
      k AS (SELECT id, nm, unnest(list_distinct(list_concat(
          list_transform(range(1, len(nm) + 1), i -> substr(nm, 1, i - 1) || substr(nm, i + 1, len(nm))),
          [nm]))) AS key FROM n),
      kc AS (SELECT id, nm, key, count(*) OVER (PARTITION BY key) AS keyn FROM k),
      kk AS (SELECT id, nm, key FROM kc WHERE keyn <= $MaxKeyNames),
      cand AS (SELECT DISTINCT a.id AS a_id, a.nm AS a_nm, b.id AS b_id, b.nm AS b_nm
        FROM kk a JOIN kk b ON a.key = b.key AND a.id < b.id)
      SELECT a_id, b_id, CAST(levenshtein(a_nm, b_nm) AS BIGINT) AS dist
      FROM cand WHERE levenshtein(a_nm, b_nm) = 1
      ORDER BY a_id, b_id"""),
    (s, d) => {
      val n = Tables.customer(s, d).select(col("c_custkey").as("id"), col("c_name").as("nm"))
      val k = n.select(col("id"), col("nm"),
        explode(expr("""array_union(
            transform(sequence(1, length(nm)), i -> concat(substr(nm, 1, i - 1), substr(nm, i + 1, length(nm)))),
            array(nm))""")).as("key"))
      val kk = k
        .withColumn("keyn", count(lit(1)).over(Window.partitionBy(col("key"))))
        .filter(col("keyn") <= MaxKeyNames)
        .select(col("id"), col("nm"), col("key"))
      val a = kk.select(col("id").as("a_id"), col("nm").as("a_nm"), col("key"))
      val b = kk.select(col("id").as("b_id"), col("nm").as("b_nm"), col("key"))
      a.join(b, Seq("key")).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("a_nm"), col("b_id"), col("b_nm")).distinct()
        .filter(levenshtein(col("a_nm"), col("b_nm")) === 1)
        .select(col("a_id"), col("b_id"),
          levenshtein(col("a_nm"), col("b_nm")).cast(LongType).as("dist"))
        .orderBy(col("a_id"), col("b_id"))
    })

  // ----------------------------------------------------------- q56
  /** q56: Markov transition matrix over per-user event sequences —
    * the user-journey staple (P(next event type | current)): order
    * each user's events by (ts, event_id), pair each with its
    * successor via `lead`, count (cur → nxt) cells, and normalize by
    * the per-cur total. ONE user-keyed shuffle serves the sequence
    * window; the cell aggregate shrinks to |types|² rows and the
    * per-cur totals (|types| rows) broadcast back, so the corpus is
    * shuffled once at any scale. The probability is one
    * small-integer IEEE division, identical in both engines. */
  val q56 = QueryDef(
    "q56_transition_matrix",
    Some("""WITH t AS (SELECT event_type AS cur,
        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events),
      c AS (SELECT cur, nxt, count(*) AS n FROM t WHERE nxt IS NOT NULL GROUP BY cur, nxt),
      s AS (SELECT cur, sum(n) AS tot FROM c GROUP BY cur)
      SELECT c.cur, c.nxt, c.n, round(CAST(c.n AS DOUBLE) / s.tot, 6) AS p
      FROM c JOIN s ON c.cur = s.cur
      ORDER BY c.cur, c.nxt"""),
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val t = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
      // |types|² rows — the event-type domain sets the size, so no
      // constant bounds it: an eager checkpoint, so the corpus
      // scan+shuffle behind the cell aggregate runs once, not once per
      // consumer
      val c = t.groupBy(col("event_type").as("cur"), col("nxt"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val tot = c.groupBy(col("cur")).agg(sum(col("n")).as("tot"))
      c.join(broadcast(tot), Seq("cur"))
        .select(col("cur"), col("nxt"), col("n"),
          round(col("n").cast(DoubleType) / col("tot"), 6).as("p"))
        .orderBy(col("cur"), col("nxt"))
    })

  // ----------------------------------------------------------- q57
  /** q57: skyline (Pareto frontier) of orders — maximize
    * (o_totalprice, o_orderdate): an order is kept iff no other order
    * is ≥ on both axes and strictly better on one (the multi-criteria
    * shortlist staple). The quadratic dominance scan never runs; for
    * a 2-D skyline the frontier test factors through two max tables:
    * keep iff date = max date AT its price AND date > max date over
    * all STRICTLY higher prices. The per-price max is a map-
    * combinable aggregate; the "max over higher prices" is an
    * EXCLUSIVE running max over the price-DESC order of the DISTINCT-
    * price table, shipped as the budget_select two-level scan (range
    * partition on price desc, task-local exclusive running max,
    * per-partition maxes' exclusive scan — #partitions rows, metadata
    * scale — broadcast back), so NO task ever holds the price table
    * and the scan is partition-count invariant. One price-keyed join
    * maps the thresholds back onto orders. Ties on both axes are
    * mutually non-dominating and all kept (the standard defn). */
  val q57 = QueryDef(
    "q57_skyline",
    Some("""WITH pm AS (SELECT o_totalprice AS p, max(o_orderdate) AS pmax
        FROM orders GROUP BY 1),
      hm AS (SELECT p, pmax, max(pmax) OVER (ORDER BY p DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hmax FROM pm)
      SELECT o_orderkey, o_totalprice, o_orderdate
      FROM orders o JOIN hm ON o.o_totalprice = hm.p
      WHERE o.o_orderdate = hm.pmax AND (hm.hmax IS NULL OR o.o_orderdate > hm.hmax)
      ORDER BY o_totalprice DESC, o_orderkey"""),
    (s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      skyline2d(o, col("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    })

  /** 2-D max-max skyline of `df` over (`price`, `date`) — see [[q57]]
    * for the two-level-scan scale argument. Returns the input rows on
    * the Pareto frontier (ties on both axes all kept). */
  def skyline2d(df: DataFrame, price: org.apache.spark.sql.Column,
      date: org.apache.spark.sql.Column)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val pm = df.groupBy(price.as("p")).agg(max(date).as("pmax"))
    val ranked = scope.persist(pm
      .repartitionByRange(col("p").desc)
      .withColumn("pid", spark_partition_id())
      .withColumn("lmax", max(col("pmax")).over(
        Window.partitionBy(col("pid")).orderBy(col("p").desc)
          .rowsBetween(Window.unboundedPreceding, -1))))
    val wo = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranked.groupBy(col("pid")).agg(max(col("pmax")).as("pmx"))
      .select(col("pid"), max(col("pmx")).over(wo).as("bmax"))
    val hm = ranked.join(broadcast(offsets), Seq("pid"))
      // greatest() skips nulls: null only when NO strictly-higher price exists
      .select(col("p"), col("pmax"), greatest(col("lmax"), col("bmax")).as("hmax"))
    df.join(hm, price === col("p"))
      .filter(date === col("pmax") && (col("hmax").isNull || date > col("hmax")))
      .drop("p", "pmax", "hmax")
  }

  // ------------------------------------------------- ml_linear_probe
  /** 3×3 determinant as a shared SQL fragment — the SAME string is
    * evaluated by Spark (`selectExpr`) and DuckDB, so the Cramer
    * solve is the identical fixed-order IEEE expression tree in both
    * engines (correctly-rounded double ops ⇒ bit-equal results). */
  private def det3(a: String, b: String, c: String, d: String, e: String,
      f: String, g: String, h: String, i: String): String =
    s"($a * ($e * $i - $f * $h) - $b * ($d * $i - $f * $g) + $c * ($d * $h - $e * $g))"

  /** The Gram moments of (1, l_quantity, l_discount) against
    * l_extendedprice that the regression gates solve from: each name
    * with the product it sums, as a 6-dp DECIMAL (plain columns) or an
    * 8-dp one (products), so the sums are merge-order-free. `syy` is
    * taken only where a readout needs the total sum of squares. */
  private val gramTerms: Seq[(String, String)] = Seq(
    "s1" -> "l_quantity", "s2" -> "l_discount", "sy" -> "l_extendedprice",
    "s11" -> "l_quantity * l_quantity", "s12" -> "l_quantity * l_discount",
    "s22" -> "l_discount * l_discount", "s1y" -> "l_quantity * l_extendedprice",
    "s2y" -> "l_discount * l_extendedprice", "syy" -> "l_extendedprice * l_extendedprice")
  private def gramDecimal(t: String): (Int, Int) = if (t.contains("*")) (28, 8) else (18, 6)
  private def gramTermsOf(yy: Boolean) = if (yy) gramTerms else gramTerms.init

  /** The one-row moment aggregate `(n, s1, …)` of a lineitem frame. */
  private def gramMoments(li: DataFrame, yy: Boolean): DataFrame = {
    val sums = gramTermsOf(yy).map { case (name, t) =>
      val (p, sc) = gramDecimal(t)
      sum(expr(t).cast(DecimalType(p, sc))).cast(DoubleType).as(name)
    }
    li.agg(count(lit(1)).cast(DoubleType).as("n"), sums: _*)
  }

  /** Oracle twin of [[gramMoments]]: the select list of the moment row. */
  private def gramMomentsSql(yy: Boolean): String =
    ("CAST(count(*) AS DOUBLE) AS n" +: gramTermsOf(yy).map { case (name, t) =>
      val (p, sc) = gramDecimal(t)
      s"CAST(sum(CAST($t AS DECIMAL($p,$sc))) AS DOUBLE) AS $name"
    }).mkString(",\n        ")

  /** Per-fold moments `(fold, cnt, d1, …)` of a frame with a `fold`
    * column: the [[gramTerms]] kept as exact DECIMAL sums (renamed
    * s → d), so train and total moments can be summed from them. */
  private def foldMoments(li: DataFrame, yy: Boolean): DataFrame = {
    val sums = gramTermsOf(yy).map { case (name, t) =>
      val (p, sc) = gramDecimal(t)
      sum(expr(t).cast(DecimalType(p, sc))).as("d" + name.drop(1))
    }
    li.groupBy(col("fold")).agg(count(lit(1)).as("cnt"), sums: _*)
  }

  /** Oracle twin of [[foldMoments]]: its select list after `fold`. */
  private def foldMomentsSql(yy: Boolean): String =
    ("count(*) AS cnt" +: gramTermsOf(yy).map { case (name, t) =>
      val (p, sc) = gramDecimal(t)
      s"sum(CAST($t AS DECIMAL($p,$sc))) AS d${name.drop(1)}"
    }).mkString(",\n        ")

  private val detA  = det3("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
  private val detA0 = det3("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")
  private val detA1 = det3("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")
  private val detA2 = det3("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")

  /** ml_linear_probe: ordinary least squares fit of
    * `l_extendedprice ~ 1 + l_quantity + l_discount`, trained and
    * evaluated distributed — the "linear probe" a feature/training
    * pipeline runs to sanity-check a signal before spending GPU time.
    * The published scale recipe (normal equations): ONE map-
    * combinable aggregate produces the 9 Gram-matrix moments as
    * DECIMAL sums (merge-order-free under any partitioning), the 3×3
    * Cramer solve runs on that single row as a fixed-order IEEE
    * expression SHARED token-for-token with the oracle, and the fit
    * audit (RMSE, R²) is a second map-only pass with the weights
    * broadcast — the corpus is never shuffled, and the plan is two
    * scans + two one-row exchanges at any scale. Residual squares are
    * rounded to 10 dp and summed as DECIMAL(38,10) so the audit
    * aggregate is also merge-order-free. */
  val linearProbe = QueryDef(
    "ml_linear_probe",
    Some(s"""WITH m AS (SELECT ${gramMomentsSql(yy = true)}
        FROM lineitem),
      w AS (SELECT n, sy, syy,
        $detA0 / $detA AS w0, $detA1 / $detA AS w1, $detA2 / $detA AS w2 FROM m),
      r AS (SELECT CAST(sum(CAST(round(
            (l_extendedprice - (w.w0 + w.w1 * l_quantity + w.w2 * l_discount)) *
            (l_extendedprice - (w.w0 + w.w1 * l_quantity + w.w2 * l_discount)), 10)
          AS DECIMAL(38,10))) AS DOUBLE) AS sse FROM lineitem, w)
      SELECT CAST(w.n AS BIGINT) AS n,
        round(w.w0, 6) AS w0, round(w.w1, 6) AS w1, round(w.w2, 6) AS w2,
        round(sqrt(r.sse / w.n), 6) AS rmse,
        round(1 - r.sse / (w.syy - w.sy * w.sy / w.n), 6) AS r2
      FROM w, r"""),
    (s, d) => {
      val li = Tables.fanout(Tables.lineitem(s, d)
        .select(col("l_quantity"), col("l_discount"), col("l_extendedprice")))
      val m = gramMoments(li, yy = true)
      // ONE row, brought to the driver: the moment scan runs once for
      // both consumers (the residual pass and the final select)
      val w = Small(m.selectExpr("n", "sy", "syy",
        s"$detA0 / $detA AS w0", s"$detA1 / $detA AS w1", s"$detA2 / $detA AS w2"), 1, "linear probe weights")
      val r = li.crossJoin(broadcast(w))
        .select((col("l_extendedprice") -
          (col("w0") + col("w1") * col("l_quantity") + col("w2") * col("l_discount"))).as("resid"))
        .agg(sum(round(col("resid") * col("resid"), 10).cast(DecimalType(38, 10)))
          .cast(DoubleType).as("sse"))
      w.crossJoin(broadcast(r)).select(
        col("n").cast(LongType).as("n"),
        round(col("w0"), 6).as("w0"), round(col("w1"), 6).as("w1"),
        round(col("w2"), 6).as("w2"),
        round(sqrt(col("sse") / col("n")), 6).as("rmse"),
        round(lit(1d) - col("sse") / (col("syy") - col("sy") * col("sy") / col("n")), 6).as("r2"))
    })

  // ------------------------------------------------- ml_ridge_path
  /** Ridge λ grid (as multiples of n — penalizing the MEAN loss form
    * `‖y−Xw‖²/n + λ‖w‖²`, so shrinkage is visible at any corpus
    * size); λ = 0 reproduces the OLS probe exactly. */
  val RidgeLambdas = Seq(0.0, 0.1, 1.0, 10.0)

  /** Ridge Cramer fragments: A = X'X + λn·diag(0, 1, 1) — the
    * intercept is UNPENALIZED (standard). Same det3 machinery as
    * [[linearProbe]], with the penalized diagonal spliced in; `lam`
    * is a literal like `(0.1 * n)` so the expression tree stays
    * shared token-for-token with the oracle. */
  private def rdetA(lam: String)  = det3("n", "s1", "s2", "s1", s"(s11 + $lam)", "s12", "s2", "s12", s"(s22 + $lam)")
  private def rdetA0(lam: String) = det3("sy", "s1", "s2", "s1y", s"(s11 + $lam)", "s12", "s2y", "s12", s"(s22 + $lam)")
  private def rdetA1(lam: String) = det3("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", s"(s22 + $lam)")
  private def rdetA2(lam: String) = det3("n", "s1", "sy", "s1", s"(s11 + $lam)", "s1y", "s2", "s12", "s2y")

  /** ml_ridge_path: the ridge regularization path for
    * `l_extendedprice ~ 1 + l_quantity + l_discount` over the
    * [[RidgeLambdas]] grid — the bias/variance knob every tabular
    * baseline sweeps before anything fancier. Same published scale
    * recipe as [[linearProbe]]: the 9 Gram moments come from ONE
    * map-combinable DECIMAL aggregate (shared with the λ grid — the
    * moments do not depend on λ), each λ's 3×3 Cramer solve is a
    * fixed-order IEEE expression on that one row (the penalized
    * diagonal `s11 + λ·n`), and ALL λ rows' residual audits ride ONE
    * extra corpus scan (grid broadcast, per-row 4× fan-out, 10-dp
    * DECIMAL residual sums grouped by λ). Corpus never shuffled;
    * 2 scans + metadata-scale rows at any corpus size. λ = 0 equals
    * the OLS probe bit-for-bit (spec-pinned). */
  val mlRidgePath = QueryDef(
    "ml_ridge_path", {
      val wRows = RidgeLambdas.map { l =>
        val lam = s"($l * n)"
        s"SELECT CAST($l AS DOUBLE) AS lambda, n, ${rdetA0(lam)} / ${rdetA(lam)} AS w0, " +
          s"${rdetA1(lam)} / ${rdetA(lam)} AS w1, ${rdetA2(lam)} / ${rdetA(lam)} AS w2 FROM m"
      }.mkString(" UNION ALL ")
      Some(s"""WITH m AS (SELECT ${gramMomentsSql(yy = false)}
        FROM lineitem),
      w AS ($wRows),
      r AS (SELECT w.lambda, CAST(sum(CAST(round(
            (l_extendedprice - (w.w0 + w.w1 * l_quantity + w.w2 * l_discount)) *
            (l_extendedprice - (w.w0 + w.w1 * l_quantity + w.w2 * l_discount)), 10)
          AS DECIMAL(38,10))) AS DOUBLE) AS sse FROM lineitem, w GROUP BY w.lambda)
      SELECT w.lambda, round(w.w0, 6) AS w0, round(w.w1, 6) AS w1, round(w.w2, 6) AS w2,
        round(sqrt(r.sse / w.n), 6) AS rmse
      FROM w JOIN r ON w.lambda = r.lambda ORDER BY w.lambda""")
    },
    (s, d) => {
      val li = Tables.fanout(Tables.lineitem(s, d)
        .select(col("l_quantity"), col("l_discount"), col("l_extendedprice")))
      val m = Small(gramMoments(li, yy = false), 1, "ridge moments")
      // |λ| rows of weights — one Cramer select per λ on the SAME
      // moment row, unioned (metadata scale)
      val w = Small(RidgeLambdas.map { l =>
        val lam = s"($l * n)"
        m.selectExpr(s"CAST($l AS DOUBLE) AS lambda", "n",
          s"${rdetA0(lam)} / ${rdetA(lam)} AS w0",
          s"${rdetA1(lam)} / ${rdetA(lam)} AS w1",
          s"${rdetA2(lam)} / ${rdetA(lam)} AS w2")
      }.reduce(_ unionAll _), RidgeLambdas.size, "ridge weights")
      val r = li.crossJoin(broadcast(w))
        .select(col("lambda"), (col("l_extendedprice") -
          (col("w0") + col("w1") * col("l_quantity") + col("w2") * col("l_discount"))).as("resid"))
        .groupBy(col("lambda"))
        .agg(sum(round(col("resid") * col("resid"), 10).cast(DecimalType(38, 10)))
          .cast(DoubleType).as("sse"))
      w.join(broadcast(r), Seq("lambda"))
        .select(col("lambda"),
          round(col("w0"), 6).as("w0"), round(col("w1"), 6).as("w1"),
          round(col("w2"), 6).as("w2"),
          round(sqrt(col("sse") / col("n")), 6).as("rmse"))
        .orderBy(col("lambda"))
    })

  // ------------------------------------------------- ml_calibration
  /** σ(z) bin edges mapped into z space: p ∈ [k/10, (k+1)/10) ⇔
    * z ∈ [logit(k/10), logit((k+1)/10)). Computed ONCE driver-side
    * and interpolated as double literals into BOTH engines, so bin
    * assignment compares the exp-FREE margin z (identical IEEE bits
    * in both engines — the ml_threshold_sweep discipline) against
    * shared constants; binning on σ(z) directly would put a libm
    * `exp` ulp on every bin boundary. Package-visible because
    * [[graft.streaming.Streams.psiStream]] bins against the SAME
    * train-time edges — one definition, so the streaming PSI plane
    * cannot drift from the batch calibration tier. */
  private[graft] val calibEdges: Seq[Double] =
    (1 to 9).map(k => math.log((k / 10.0) / (1.0 - k / 10.0)))

  // ------------------------------------ shared ML scoring surface (r8)
  /** The shared GD feature frame (x1, x2, y) off lineitem — the one
    * every ML gate trains/scores on. */
  def mlFeatures(s: SparkSession, d: String): DataFrame =
    // fan the single-row-group scan out to cores-way parallelism
    // BEFORE the GD/scoring passes (guide §2.5); the exchange carries
    // only the 3 projected feature columns (§2.3)
    Tables.fanout(Tables.lineitem(s, d).selectExpr(
      "l_quantity AS x1", "l_discount AS x2",
      "CASE WHEN l_returnflag = 'R' THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y"))

  /** The readout-REUSE surface (r7 verdict item 6): score a feature
    * frame (x1, x2, y) with a one-row weights frame (wa, wb, wc) →
    * the (z, y) margin frame every readout consumes. In production
    * the weights train ONCE ([[logregWeights6]]) or arrive as
    * published constants ([[weightsOf]]), and sweep / lift /
    * calibration all run off this shared frame — the composed
    * [[pipelineMlReadouts]] gate proves the three readouts off one
    * training pass. ONE corpus scan; weights ride a broadcast. */
  def scoreWith(b: DataFrame, w: DataFrame): DataFrame =
    b.crossJoin(broadcast(w))
      .select(expr("wa + wb * x1 + wc * x2").as("z"), col("y"))

  /** One-row weights frame from published constants — run any readout
    * with NO training (e.g. the 6-dp weights the ml_logreg_gd gate
    * surfaces). */
  def weightsOf(s: SparkSession, wa: Double, wb: Double, wc: Double): DataFrame =
    s.range(1).selectExpr(s"CAST($wa AS DOUBLE) AS wa",
      s"CAST($wb AS DOUBLE) AS wb", s"CAST($wc AS DOUBLE) AS wc")

  // ------------------- value-grain readout surface (r15, guide §2.3)
  /** (z, p, q) value-grain collapse of a scored (z, y) frame — ONE
    * corpus pass feeding every threshold/decile/bin/rank readout at
    * distinct-score grain (the gate's 6-dp weight grid keeps it ~550
    * rows at ANY sf). Counts are exact BIGINTs; every readout over
    * this frame equals its row-grain definition bit for bit: integer
    * conditional counts distribute over the collapse, and per-row
    * DECIMAL terms are constant within a z group, so cnt·term equals
    * the repeated decimal sum exactly. The z grain is the
    * double-normalized grain (±0.0 merged) — indistinguishable to the
    * readouts' z >/≥ comparisons, and the logit z domain cannot
    * produce −0.0 (an IEEE sum of finite nonzero addends that cancels
    * yields +0.0).
    *
    * Precondition: y ∈ {0, 1}. p counts y > 0.5 and q counts y < 0.5,
    * so a graded label lands in whichever side of 0.5 it falls, and a
    * y of exactly 0.5 or NULL is in neither count. */
  def vgOfScores(zz: DataFrame): DataFrame =
    zz.groupBy(col("z")).agg(
      sum(when(col("y") > 0.5, 1L).otherwise(0L)).cast(LongType).as("p"),
      sum(when(col("y") < 0.5, 1L).otherwise(0L)).cast(LongType).as("q"))

  /** Threshold sweep over a (z, p, q) value-grain frame — the
    * [[mlThresholdSweep]] readout stage: the 9-row logit-edge grid
    * rides a broadcast, and each count is exact (tp = Σ_v p_v·[v > e]
    * is the row-grain conditional count). */
  def sweepOfVg(vg: DataFrame): DataFrame = {
    val edges = calibEdges.map(e => s"CAST($e AS DOUBLE)").mkString("array(", ", ", ")")
    val th = vg.sparkSession.range(1, 10)
      .selectExpr("CAST(id AS DOUBLE) / 10 AS t",
        s"element_at($edges, CAST(id AS INT)) AS e")
    vg.crossJoin(broadcast(th))
      .groupBy(col("t")).agg(
        expr("CAST(sum(CASE WHEN z > e THEN p ELSE 0 END) AS BIGINT)").as("tp"),
        expr("CAST(sum(CASE WHEN z > e THEN q ELSE 0 END) AS BIGINT)").as("fp"),
        expr("CAST(sum(CASE WHEN NOT (z > e) THEN p ELSE 0 END) AS BIGINT)").as("fn"))
      .selectExpr("t", "tp", "fp", "fn",
        "CASE WHEN tp + fp > 0 THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS prec",
        "CASE WHEN tp + fn > 0 THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS rec")
      .orderBy(col("t"))
  }

  /** The decile (1–10) of margin z against edges t1 … t9. */
  private val decileSql = "1 + " + (1 to 9).map(i => s"(CASE WHEN z > t$i THEN 1 ELSE 0 END)").mkString(" + ")

  /** Oracle of the decile binning over `zz`: the exact decile edges
    * `th`, each row's decile `binned`, and per-decile counts `dd`. */
  private def decileCountsSql(th: String): String = {
    val ths = (1 to 9).map(i =>
      s"percentile_cont(0.${i}) WITHIN GROUP (ORDER BY z) AS t$i").mkString(", ")
    s"""$th AS (SELECT $ths FROM zz),
        binned AS (SELECT $decileSql AS decile, y FROM zz, $th),
        dd AS (SELECT decile, count(*) AS n,
            CAST(sum(CASE WHEN y > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS pos
          FROM binned GROUP BY decile)"""
  }

  /** Gains/lift deciles over a (z, p, q) value-grain frame — the
    * [[mlLiftDeciles]] readout stage: decile edges ride
    * [[ExactPercentiles.percentilesOfCounts]] on the SAME frame (no
    * second corpus collapse), binning and the 10-row algebra are
    * weighted exact counts. */
  def liftOfVg(vg0: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val vg = scope.persist(vg0)
    val th = graft.operators.ExactPercentiles.percentilesOfCounts(
        vg.selectExpr("0 AS grp", "z", "p + q AS cnt"), "grp", "z", "cnt",
        (1 to 9).map(_ / 10.0))
      .groupBy(col("g"))
      .agg((1 to 9).map(i =>
        min(when(col("p") === i / 10.0, col("value"))).as(s"t$i")).head,
        (1 to 9).map(i =>
          min(when(col("p") === i / 10.0, col("value"))).as(s"t$i")).tail: _*)
      .drop("g")
    // deciles 1..10 feed totals + cumulative
    val dd = Small(vg.crossJoin(broadcast(th))
      .selectExpr(s"$decileSql AS decile", "p", "q")
      .groupBy(col("decile"))
      .agg(sum(col("p") + col("q")).as("n"), sum(col("p")).as("pos")), 10, "lift deciles")
    val tot = dd.agg(sum(col("n")).cast(DoubleType).as("tn"),
      sum(col("pos")).cast(DoubleType).as("tp"))
    val wdesc = Window.orderBy(col("decile").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dd.withColumn("cpos", sum(col("pos")).over(wdesc).cast(DoubleType))
      .crossJoin(broadcast(tot))
      .selectExpr("decile", "n", "pos",
        "round(CAST(pos AS DOUBLE) / n, 6) AS rate",
        "round((CAST(pos AS DOUBLE) / n) / (tp / tn), 6) AS lift",
        "round(cpos / tp, 6) AS cum_gain")
      .orderBy(col("decile"))
  }

  /** Reliability bins over a (z, p, q) value-grain frame — the
    * [[mlCalibration]] readout stage: exp-free z-space bin edges, the
    * exact-integer empirical rate, and the 12-dp DECIMAL mean
    * prediction. That per-row term is constant within a z group, so
    * cnt·round(σ(z), 12) is exactly the repeated decimal sum. */
  def calibOfVg(vg: DataFrame): DataFrame = {
    vg.selectExpr(s"${calibBinSql("z")} AS bin",
        "CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-z)) AS pr", "p", "q")
      .groupBy(col("bin"))
      .agg(sum(col("p") + col("q")).as("n"),
        sum(col("p")).as("pos"),
        // operand widths chosen so the product type stays under
        // precision 38 and therefore EXACT: σ(z) ∈ [0, 1] fits
        // DECIMAL(13,12), cnt fits DECIMAL(19,0) → product
        // DECIMAL(33,12) — a wider cnt type would push Spark past 38
        // and silently shave the scale to 6 (caught by the oracle)
        sum(expr("CAST(p + q AS DECIMAL(19,0)) * CAST(round(pr, 12) AS DECIMAL(13,12))")).as("sp"))
      .selectExpr("bin", "n", "pos", "CAST(sp AS DOUBLE) / n AS avg_pred",
        s"${graft.Portable.round6RatioSpark("pos", "n")} AS emp_rate")
      .orderBy(col("bin"))
  }

  /** ml_calibration: the reliability diagram for the GD classifier —
    * predicted-probability deciles vs empirical positive rate, the
    * readout that decides whether scores can be USED as
    * probabilities (miscalibrated models need Platt/isotonic before
    * thresholding on business costs). Trains with the SAME shared
    * machinery as ml_logreg_gd (the oracle composes the identical
    * unrolled-training block, so both gates verify the same
    * weights); binning is exact (z vs shared literals), per-bin mean
    * prediction is the 12-dp DECIMAL `exp` discipline, the empirical
    * rate is exact integers via [[graft.Portable.round6RatioSql]].
    * ONE corpus scan past training. (lazy: GdRounds/GdLr are declared
    * later in this object — an eager val here would capture their
    * uninitialized 0 and silently train zero rounds, which is exactly
    * what the first gate run caught.) */
  lazy val mlCalibration: QueryDef = QueryDef(
    "ml_calibration",
    Some(s"""$trainedSql,
        ${bzSql(MarginSql, "b, w6")},
        c AS (SELECT bin, count(*) AS n,
            CAST(sum(CASE WHEN y > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
            sum(CAST(round(p, 12) AS DECIMAL(28,12))) AS sp
          FROM bz GROUP BY bin)
        SELECT bin, n, pos, CAST(sp AS DOUBLE) / n AS avg_pred,
          ${graft.Portable.round6RatioDuck("pos", "n")} AS emp_rate
        FROM c ORDER BY bin"""),
    (s, d) => calibOfVg(vgOfScores(gateScores(s, d))))

  // ------------------------------------- ml_brier_decomposition
  /** Murphy decomposition of the Brier score over the calibration
    * bins — the proper-scoring-rule readout next to
    * [[calibOfVg]]'s reliability diagram: the diagram SHOWS
    * per-bin miscalibration, the decomposition prices it —
    * BS* = REL − RES + UNC, where UNC = ȳ(1−ȳ) is the task's
    * irreducible base-rate variance, RES = (1/N)·Σ_k n_k·(ȳ_k−ȳ)²
    * is the skill the binning resolves, and REL =
    * (1/N)·Σ_k n_k·(p̄_k−ȳ_k)² is the calibration penalty (Murphy
    * 1973; BS* is the Brier score of the bin-mean forecast — the
    * surfaced exact `bs` differs from `bs_binned` by the
    * within-bin forecast variance, which a perfectly sharp binning
    * drives to zero). Portability: bins compare z against the
    * shared logit-edge literals (exp-free), per-row p and (p−y)²
    * ride the 12-dp DECIMAL(28,12) discipline, ȳ/ȳ_k/p̄_k and every
    * squared term are fixed IEEE trees over exact operands, and the
    * 10 per-bin REL/RES terms are 12-dp-rounded into DECIMAL sums
    * (merge-order free). 100 TB shape: ONE map-combinable 10-bin
    * aggregate over the scored scan; everything after runs at bin
    * grain (10 rows + one broadcast totals row). */
  def brierOfScores(zz: DataFrame): DataFrame = {
    // bins 0..9 (a NULL z lands in 0) feed totals + per-bin terms
    val bins = Small(zz.selectExpr(s"${calibBinSql("z")} AS bin",
        "CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-z)) AS p", "y")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") > 0.5, 1L).otherwise(0L)).as("pos"),
        sum(round(col("p"), 12).cast(DecimalType(28, 12))).as("sp"),
        sum(round((col("p") - col("y")) * (col("p") - col("y")), 12)
          .cast(DecimalType(28, 12))).as("sbs")), calibEdges.size + 1, "brier bins")
    val tot = bins.agg(sum(col("n")).cast(LongType).as("nt"),
      sum(col("pos")).cast(LongType).as("post"),
      sum(col("sbs")).as("sbst"))
    bins.crossJoin(broadcast(tot))
      .selectExpr("nt", "post", "sbst",
        "CAST(round(CAST(n AS DOUBLE) * (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)" +
          " - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))" +
          " * (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)" +
          " - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS DECIMAL(28,12)) AS relt",
        "CAST(round(CAST(n AS DOUBLE) * (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)" +
          " - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE))" +
          " * (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)" +
          " - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)), 12) AS DECIMAL(28,12)) AS rest")
      .groupBy(col("nt"), col("post"), col("sbst"))
      .agg(sum(col("relt")).as("srel"), sum(col("rest")).as("sres"))
      .selectExpr("nt AS n", "post AS pos",
        "CAST(sbst AS DOUBLE) / CAST(nt AS DOUBLE) AS bs",
        "(CAST(post AS DOUBLE) / CAST(nt AS DOUBLE))" +
          " * (CAST(1 AS DOUBLE) - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)) AS unc",
        "CAST(srel AS DOUBLE) / CAST(nt AS DOUBLE) AS rel",
        "CAST(sres AS DOUBLE) / CAST(nt AS DOUBLE) AS res",
        "CAST(srel AS DOUBLE) / CAST(nt AS DOUBLE)" +
          " - CAST(sres AS DOUBLE) / CAST(nt AS DOUBLE)" +
          " + (CAST(post AS DOUBLE) / CAST(nt AS DOUBLE))" +
          " * (CAST(1 AS DOUBLE) - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)) AS bs_binned")
  }

  /** ml_brier_decomposition: the Murphy decomposition of the GD
    * classifier's Brier score over the SAME logit-edge bins as
    * [[mlCalibration]] — the one-row readout that separates "the
    * model is miscalibrated" (rel) from "the model can't rank"
    * (res vs unc). Same one-training-pass isolation as the sibling
    * gates. (lazy — see [[mlCalibration]].) */
  lazy val mlBrierDecomposition: QueryDef = QueryDef(
    "ml_brier_decomposition",
    Some(s"""$trainedSql,
        ${bzSql(MarginSql, "b, w6")},
        $brierCtesSql
        SELECT nt AS n, post AS pos,
          CAST(sbst AS DOUBLE) / CAST(nt AS DOUBLE) AS bs,
          (CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(1 AS DOUBLE) - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)) AS unc,
          CAST(srel AS DOUBLE) / CAST(nt AS DOUBLE) AS rel,
          CAST(sres AS DOUBLE) / CAST(nt AS DOUBLE) AS res,
          CAST(srel AS DOUBLE) / CAST(nt AS DOUBLE) - CAST(sres AS DOUBLE) / CAST(nt AS DOUBLE) + (CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(1 AS DOUBLE) - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)) AS bs_binned
        FROM s"""),
    (s, d) => brierOfScores(gateScores(s, d)))

  // ------------------------------------------- pipeline_ml_readouts
  /** pipeline_ml_readouts: the composed evaluation suite — ONE
    * training pass ([[logregWeights6]]), ONE persisted scored-margin
    * frame ([[scoreWith]]), and all three readouts (threshold sweep,
    * lift deciles, calibration) united into one (readout, k)-keyed
    * report. This is the production shape the self-contained singles
    * deliberately don't take (each gated single retrains so its
    * oracle is a closed expression): train once, score once, read
    * many. Column mapping: sweep → (k=t, n_a=tp, n_b=fp, n_c=fn,
    * v1=prec, v2=rec); lift → (k=decile, n_a=n, n_b=pos, v1=lift,
    * v2=cum_gain); calib → (k=bin, n_a=n, n_b=pos, v1=avg_pred,
    * v2=emp_rate). Bench evidence target: ≈ one single's cost, not
    * three (the training GD rounds and the corpus scoring scan are
    * shared; the readouts are grid-broadcast aggregates off the
    * persisted margins). (lazy — see [[mlCalibration]].) */
  lazy val pipelineMlReadouts: QueryDef = QueryDef(
    "pipeline_ml_readouts",
    Some(s"""$scoredSql,
        $thresholdGridSql,
        ${sweepCountsSql("sw", "th.t AS k", "z", "zz", "n_a", "n_b", "n_c")},
        swf AS (SELECT 'sweep' AS readout, k, n_a, n_b, n_c,
            CASE WHEN n_a + n_b > 0 THEN round(CAST(n_a AS DOUBLE) / (n_a + n_b), 6) END AS v1,
            CASE WHEN n_a + n_c > 0 THEN round(CAST(n_a AS DOUBLE) / (n_a + n_c), 6) END AS v2
          FROM sw),
        ${decileCountsSql("lth")},
        ltot AS (SELECT CAST(sum(n) AS DOUBLE) AS tn, CAST(sum(pos) AS DOUBLE) AS tp FROM dd),
        lcum AS (SELECT decile, n, pos,
            CAST(sum(pos) OVER (ORDER BY decile DESC ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cpos
          FROM dd),
        lif AS (SELECT 'lift' AS readout, CAST(c.decile AS DOUBLE) AS k,
            c.n AS n_a, c.pos AS n_b, CAST(0 AS BIGINT) AS n_c,
            round((CAST(c.pos AS DOUBLE) / c.n) / (ltot.tp / ltot.tn), 6) AS v1,
            round(c.cpos / ltot.tp, 6) AS v2
          FROM lcum c, ltot),
        ${bzSql("z", "zz")},
        cbins AS (SELECT bin, count(*) AS n,
            CAST(sum(CASE WHEN y > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
            sum(CAST(round(p, 12) AS DECIMAL(28,12))) AS sp
          FROM bz GROUP BY bin),
        cal AS (SELECT 'calib' AS readout, CAST(bin AS DOUBLE) AS k,
            n AS n_a, pos AS n_b, CAST(0 AS BIGINT) AS n_c,
            CAST(sp AS DOUBLE) / n AS v1,
            ${graft.Portable.round6RatioDuck("pos", "n")} AS v2
          FROM cbins)
        SELECT * FROM swf UNION ALL SELECT * FROM lif UNION ALL SELECT * FROM cal
        ORDER BY readout, k"""),
    (s, d) => {
      val b = graft.CacheScope.untracked.persist(mlFeatures(s, d))
      val w = logregWeights6(b)               // ONE training pass
      // ONE corpus pass past training (r15): score + collapse to the
      // (z, p, q) value grain — all three readouts (and the decile
      // edges' selection passes) then run at ~550-row grain instead of
      // each re-scanning the persisted corpus-scale margins
      val vg = graft.CacheScope.untracked.persist(vgOfScores(scoreWith(b, w)))
      val sweep = sweepOfVg(vg).selectExpr("'sweep' AS readout", "t AS k",
        "tp AS n_a", "fp AS n_b", "fn AS n_c", "prec AS v1", "rec AS v2")
      val lift = liftOfVg(vg).selectExpr("'lift' AS readout",
        "CAST(decile AS DOUBLE) AS k", "n AS n_a", "pos AS n_b",
        "CAST(0 AS BIGINT) AS n_c", "lift AS v1", "cum_gain AS v2")
      val calib = calibOfVg(vg).selectExpr("'calib' AS readout",
        "CAST(bin AS DOUBLE) AS k", "n AS n_a", "pos AS n_b",
        "CAST(0 AS BIGINT) AS n_c", "avg_pred AS v1", "emp_rate AS v2")
      sweep.unionAll(lift).unionAll(calib)
        .orderBy(col("readout"), col("k"))
    })

  // ---------------------------------------------------------- pr-auc
  /** Shared PR-point fragments: recall over exact counts; precision
    * defaults to 1 where no positives are predicted (the standard
    * PR-curve anchor at recall → 0). Recall is CASE-guarded like
    * precision: on a zero-positive corpus tp + fn = 0 at every point
    * and an unguarded 0/0 NULLs in Spark but NaNs in DuckDB (r8
    * ADVICE — the same divergence class the OLS det fragments guard). */
  private val recExpr =
    "CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END"
  private val precExpr =
    "CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE CAST(1 AS DOUBLE) END"

  /** ml_pr_auc: area under the precision-recall curve by trapezoid
    * over the threshold sweep's exact counts plus the t=0 anchor
    * (everything positive: recall 1, precision = base rate) — the
    * single-number ranking-quality readout for IMBALANCED classes,
    * where ROC-AUC flatters (Davis–Goadrich 2006). Points are the
    * 10-row sweep grid; each trapezoid term is 12-dp-rounded into a
    * DECIMAL(28,12) sum (merge-order-free; a raw double sum of terms
    * would depend on aggregation order), surfaced as one cast.
    * Composes the shared scoring surface — ONE training pass + ONE
    * corpus scan past it. (lazy — see [[mlCalibration]].) */
  lazy val mlPrAuc: QueryDef = QueryDef(
    "ml_pr_auc",
    Some(s"""$scoredSql,
        $thresholdGridSql,
        ${sweepCountsSql("sw", "th.t AS t", "z", "zz", "tp", "fp", "fn")},
        ep AS (SELECT CAST(0 AS DOUBLE) AS t,
            CAST(sum(CASE WHEN y > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(sum(CASE WHEN y < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(0 AS BIGINT) AS fn
          FROM zz),
        pts AS (SELECT t, tp, fp, fn, $recExpr AS rec, $precExpr AS prec
          FROM (SELECT * FROM ep UNION ALL SELECT * FROM sw)),
        lg AS (SELECT t, rec, prec,
            lag(rec) OVER (ORDER BY t) AS lrec, lag(prec) OVER (ORDER BY t) AS lprec
          FROM pts),
        su AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
            CAST(sum(CASE WHEN lrec IS NOT NULL
              THEN CAST(round((lrec - rec) * (lprec + prec) / 2, 12) AS DECIMAL(28,12)) END) AS DOUBLE) AS auc_pr
          FROM lg)
        SELECT su.n_points, CAST(ep.tp AS DOUBLE) / (ep.tp + ep.fp) AS base_rate, su.auc_pr
        FROM su, ep"""),
    (s, d) => {
      val vg = graft.CacheScope.untracked.persist(vgOfScores(gateScores(s, d)))
      val sw = sweepOfVg(vg).select(col("t"), col("tp"), col("fp"), col("fn"))
      val ep = Small(vg.agg(sum(col("p")).cast(LongType).as("tp"), sum(col("q")).cast(LongType).as("fp"))
        .selectExpr("CAST(0 AS DOUBLE) AS t", "tp", "fp", "CAST(0 AS BIGINT) AS fn"),
        1, "pr-auc end point") // reused for the base rate
      val pts = ep.unionAll(sw)
        .selectExpr("t", "tp", "fp", "fn", s"$recExpr AS rec", s"$precExpr AS prec")
      val w = Window.orderBy(col("t"))
      val su = pts
        .withColumn("lrec", lag(col("rec"), 1).over(w))
        .withColumn("lprec", lag(col("prec"), 1).over(w))
        .agg(count(lit(1)).cast(LongType).as("n_points"),
          sum(expr("CASE WHEN lrec IS NOT NULL THEN CAST(round((lrec - rec) * (lprec + prec) / 2, 12) AS DECIMAL(28,12)) END"))
            .cast(DoubleType).as("auc_pr"))
      su.crossJoin(broadcast(ep.selectExpr(
          "CAST(tp AS DOUBLE) / (tp + fp) AS base_rate")))
        .select(col("n_points"), col("base_rate"), col("auc_pr"))
    })

  // ---------------------------------------------------------- ROC-AUC
  /** Exact ROC-AUC over a scored (z, y) frame — the Mann–Whitney U
    * rank statistic with midrank tie handling, in EXACT integer
    * arithmetic and without ever sorting the corpus globally:
    * AUC = (#{z⁺ > z⁻} + ½·#{z⁺ = z⁻}) / (n₁·n₀). Collapse scores to
    * VALUE grain (p, q counts per distinct z — the `ml_ks_two_sample`
    * shape), take the running negative count by the two-level
    * range-partition scan (local cumsum + partition offsets broadcast
    * — no single-task window), and fold
    * U·2 = Σ_v p_v·(2·cumq_below(v) + q_v) as DECIMAL(19,0)×BIGINT
    * products summed in DECIMAL(38,0) (merge-order free; tp·tn-style
    * int64 wrap impossible). The only IEEE math is the final division
    * of exact operands — bit-identical across engines. The persist
    * PINS one physical range partitioning for both consumers (the KS
    * lesson). */
  def rocAucOfScores(zz: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    import org.apache.spark.sql.functions.spark_partition_id
    val vg = vgOfScores(zz)
    val ranked = scope.persist(vg
      .repartitionByRange(col("z"))
      .withColumn("pid", spark_partition_id())
      .withColumn("lq", sum(col("q")).over(
        Window.partitionBy(col("pid")).orderBy(col("z"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val wo = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranked.groupBy(col("pid"))
      .agg(max(col("lq")).as("pq"))
      .select(col("pid"), coalesce(sum(col("pq")).over(wo), lit(0L)).as("baseq"))
    // class totals off the PERSISTED ranked frame (not vg — re-aggregating
    // vg would run the value-grain groupBy over the input a second time)
    val nn = Small(ranked.agg(sum(col("p")).cast(LongType).as("n1"),
      sum(col("q")).cast(LongType).as("n0"),
      count(lit(1)).cast(LongType).as("n_values")), 1, "roc class totals")
    val u2 = Small(ranked.join(broadcast(offsets), Seq("pid"))
      .selectExpr("CAST(p AS DECIMAL(19,0)) * (2 * (baseq + lq - q) + q) AS t")
      .agg(sum(col("t")).cast(DecimalType(38, 0)).as("u2")), 1, "roc u statistic")
    nn.crossJoin(broadcast(u2)).selectExpr("n1", "n0", "n_values",
      "CAST(u2 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) AS auc_roc")
  }

  /** ml_roc_auc: exact distributed ROC-AUC of the gate's logreg scores
    * — the threshold-free ranking metric next to [[mlPrAuc]]'s
    * 11-point trapezoid (PR-AUC is an interpolated curve estimate;
    * ROC-AUC is an EXACT rank statistic, so the engines must agree to
    * the last bit, ties included — lineitem's 11 quantity × 11
    * discount levels make score ties dense, exercising the midrank
    * term for real). Same one-training-pass isolation as the sibling
    * gates. */
  lazy val mlRocAuc: QueryDef = QueryDef(
    "ml_roc_auc",
    Some(s"""$scoredSql,
        $vgSql,
        $rocCtesSql
        SELECT n1, n0, n_values, $aucSql AS auc_roc
        FROM cn, uu"""),
    (s, d) => rocAucOfScores(gateScores(s, d)))

  // -------------------------------------------------- C2ST drift test
  /** The C2ST time-split cut (lineitem ship-date median at the gate
    * corpus) and the AUC band read as "no distribution shift" — both
    * LITERALS shared with the oracle. */
  val C2stCutDate = "1998-05-24"
  val C2stAucBand = 0.05

  /** ml_c2st_drift: classifier two-sample drift test (Lopez-Paz &
    * Oquab, "Revisiting Classifier Two-Sample Tests", ICLR 2017 — THE
    * practical covariate-shift detector: label each row with which
    * HALF it came from, train a cheap classifier on the features, and
    * read its held-in AUC; AUC ≈ ½ means the feature distribution is
    * indistinguishable across halves, AUC above the band means drift a
    * monitoring pipeline must investigate before retraining): rows
    * split at the LITERAL ship-date cut, the SAME 3-round distributed
    * GD machinery trains on (quantity, discount) with the time-split
    * label ([[logregCtesFor]] — the training ladder is
    * label-agnostic), and the readout is the exact Mann–Whitney
    * ROC-AUC ([[rocAucOfScores]]: value-grain collapse, two-level
    * range-partition scan, NO global sort). Verdict
    * |AUC − ½| > [[C2stAucBand]] against exact-operand doubles.
    * ONE corpus scan per GD round + one scoring scan — the bounded
    * drift-monitor shape at any corpus size. */
  lazy val mlC2stDrift: QueryDef = QueryDef(
    "ml_c2st_drift",
    Some {
      val ySql = s"CASE WHEN CAST(l_shipdate AS DATE) >= DATE '$C2stCutDate' THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END"
      s"""${scoredSql(logregCtesFor(ySql, GdRounds))},
        $vgSql,
        $rocCtesSql
        SELECT n1, n0, n_values, $aucSql AS auc_roc,
          CAST(CASE WHEN abs($aucSql - 0.5) > $C2stAucBand THEN 1 ELSE 0 END AS BIGINT) AS drift
        FROM cn, uu"""
    },
    (s, d) => {
      val b = graft.CacheScope.untracked.persist(Tables.fanout(Tables.lineitem(s, d).selectExpr(
        "l_quantity AS x1", "l_discount AS x2",
        s"CASE WHEN CAST(l_shipdate AS DATE) >= DATE '$C2stCutDate' THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y")))
      rocAucOfScores(scoreWith(b, logregWeights6(b)))
        .selectExpr("n1", "n0", "n_values", "auc_roc",
          s"CAST(CASE WHEN abs(auc_roc - 0.5) > $C2stAucBand THEN 1 ELSE 0 END AS BIGINT) AS drift")
    })

  // ---------------------------------------------- average precision
  /** Exact average precision over a scored (z, y) frame — the
    * threshold-sum form (Σ over DISTINCT score thresholds of
    * ΔRecall·Precision, descending), which is the exact area under
    * the step-wise PR curve: AP = (1/n₁)·Σ_v p_v·ctp_v/(ctp_v+cfp_v)
    * with ctp/cfp the running positive/negative counts at threshold
    * z ≥ v. Same scale shape as [[rocAucOfScores]]: collapse to VALUE
    * grain, take the DESCENDING running counts by the two-level
    * range-partition scan (local cumsums + partition offsets
    * broadcast — no global sort, no single-task window). Each
    * per-threshold term is a fixed 3-node IEEE tree over exact
    * integers, 12-dp-rounded into a DECIMAL(28,12) merge-order-free
    * sum (the ngram_lm/pr_auc discipline); the final /n₁ divides
    * exact operands once. */
  def averagePrecisionOfScores(zz: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val (ranked, offsets) = runningCounts(zz, col("z").desc)
    val nn = Small(ranked.agg(sum(col("p")).cast(LongType).as("n1"),
      sum(col("q")).cast(LongType).as("n0"),
      count(lit(1)).cast(LongType).as("n_values")), 1, "ap class totals")
    val ap = Small(ranked.join(broadcast(offsets), Seq("pid"))
      .filter(col("p") > 0)
      .selectExpr("CAST(round(CAST(p AS DOUBLE) * CAST(basep + lp AS DOUBLE)" +
        " / CAST((basep + lp) + (baseq + lq) AS DOUBLE), 12) AS DECIMAL(28,12)) AS t")
      .agg(sum(col("t")).as("ap_num")), 1, "ap numerator")
    nn.crossJoin(broadcast(ap)).selectExpr("n1", "n0", "n_values",
      "CAST(ap_num AS DOUBLE) / CAST(n1 AS DOUBLE) AS avg_precision")
  }

  /** The value grain (z, p, q) of a scored frame with its running
    * positive/negative counts along `order` (z ascending or
    * descending), by the two-level range-partition scan: `ranked`
    * (persisted) carries each range partition's local cumsums
    * `lp`/`lq`, and `offsets` each partition `pid`'s preceding totals
    * `basep`/`baseq`, so `base + l` is the global running count — no
    * global sort, no single-task window. */
  private def runningCounts(zz: DataFrame, order: org.apache.spark.sql.Column)(
      implicit scope: graft.CacheScope): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.spark_partition_id
    val wloc = Window.partitionBy(col("pid")).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = scope.persist(vgOfScores(zz)
      .repartitionByRange(order)
      .withColumn("pid", spark_partition_id())
      .withColumn("lp", sum(col("p")).over(wloc))
      .withColumn("lq", sum(col("q")).over(wloc)))
    val wo = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranked.groupBy(col("pid"))
      .agg(max(col("lp")).as("pp"), max(col("lq")).as("pq"))
      .select(col("pid"),
        coalesce(sum(col("pp")).over(wo), lit(0L)).as("basep"),
        coalesce(sum(col("pq")).over(wo), lit(0L)).as("baseq"))
    (ranked, offsets)
  }

  /** ml_average_precision: EXACT average precision of the gate's
    * logreg scores — the exact step-curve area next to [[mlPrAuc]]'s
    * 11-point trapezoid estimate (the pair mirrors
    * [[mlRocAuc]]/[[mlPrAuc]]: interpolated curve for the monitor
    * plot, exact rank statistic for the comparable number; sklearn's
    * `average_precision_score` computes exactly this threshold sum,
    * and lineitem's dense score ties exercise the value-grain
    * collapse for real). Same one-training-pass isolation as the
    * sibling gates. */
  lazy val mlAveragePrecision: QueryDef = QueryDef(
    "ml_average_precision",
    Some(s"""$scoredSql,
        $vgSql,
        ${apCumSql("cum")},
        cn AS (SELECT CAST(sum(p) AS BIGINT) AS n1, CAST(sum(q) AS BIGINT) AS n0,
            CAST(count(*) AS BIGINT) AS n_values FROM vg),
        ${apSumSql("cum", "ap")}
        SELECT n1, n0, n_values,
          CAST(ap_num AS DOUBLE) / CAST(n1 AS DOUBLE) AS avg_precision
        FROM cn, ap"""),
    (s, d) => averagePrecisionOfScores(gateScores(s, d)))

  // ------------------------------------------------- DeLong variance
  /** Exact DeLong standard error + 95% CI for the ROC-AUC of a scored
    * (z, y) frame (DeLong, DeLong & Clarke-Pearson 1988) — the error
    * bar [[rocAucOfScores]]' point estimate needs before two models
    * can be COMPARED: the placement values V10 (per positive, the
    * fraction of negatives it outranks, ties at ½) and V01 (per
    * negative, symmetric) have empirical variances s10/s01, and
    * Var(AUC) = s10/n₁ + s01/n₀. The distributed shape is the point:
    * placements are CONSTANT within a score value, so both placement
    * sets compute at VALUE grain off ONE ascending two-level
    * range-partition scan (running positive AND negative counts; no
    * global sort, no single-task window) — the corpus is never
    * scanned again after the value-grain collapse. Exactness: every
    * placement numerator (2·#below + #tied) is an exact BIGINT, V10/
    * V01/AUC are fixed IEEE trees over exact operands, the squared
    * deviations 12-dp-round into DECIMAL(28,12) merge-order-free
    * sums, and se/CI are one shared sqrt/mul tree (sqrt is correctly
    * rounded — bit-identical across engines). Requires n₁ ≥ 2 and
    * n₀ ≥ 2 (the sample variances divide by n−1). */
  def delongOfScores(zz: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val (cum, scal) = delongCumScal(zz)
    delongReadout(cum, scal)
  }

  /** The ascending value-grain cumulative core of [[delongOfScores]]:
    * returns (cum = persisted (z, p, q, cp, cq), scal = the local
    * one-row (n1, n0, u2)). Split out (r15) so [[scorecardOfScores]]
    * can feed BOTH the DeLong readout and the exact average-precision
    * readout from ONE value-grain collapse + ONE range-partition scan
    * — AP's descending running counts are exact BIGINT identities of
    * these ascending ones (see [[apFromDelongCum]]). */
  private def delongCumScal(zz: DataFrame)(
      implicit scope: graft.CacheScope): (DataFrame, DataFrame) = {
    val (ranked, offsets) = runningCounts(zz, col("z"))
    val cum = scope.persist(ranked.join(broadcast(offsets), Seq("pid"))
      .select(col("z"), col("p"), col("q"),
        (col("basep") + col("lp")).as("cp"), (col("baseq") + col("lq")).as("cq")))
    val scal = Small(cum.agg(sum(col("p")).cast(LongType).as("n1"),
        sum(col("q")).cast(LongType).as("n0"),
        sum(expr("CAST(p AS DECIMAL(19,0)) * (2 * (cq - q) + q)"))
          .cast(DecimalType(38, 0)).as("u2")), 1, "delong scalars")
    (cum, scal)
  }

  /** The DeLong variance/CI readout over a ([[delongCumScal]]) pair. */
  private def delongReadout(cum: DataFrame, scal: DataFrame): DataFrame = {
    val sums = Small(cum.crossJoin(broadcast(scal))
      .selectExpr(
        "CAST(round(CAST(p AS DOUBLE) * ((CAST(2 * (cq - q) + q AS DOUBLE) / (2.0 * CAST(n0 AS DOUBLE)) - CAST(u2 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))) * (CAST(2 * (cq - q) + q AS DOUBLE) / (2.0 * CAST(n0 AS DOUBLE)) - CAST(u2 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)))), 12) AS DECIMAL(28,12)) AS t10",
        "CAST(round(CAST(q AS DOUBLE) * ((CAST(2 * (n1 - cp) + p AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)) - CAST(u2 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))) * (CAST(2 * (n1 - cp) + p AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)) - CAST(u2 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)))), 12) AS DECIMAL(28,12)) AS t01")
      .agg(sum(col("t10")).as("s10n"), sum(col("t01")).as("s01n")), 1, "delong variance sums")
    scal.crossJoin(broadcast(sums))
      .selectExpr("n1", "n0",
        "CAST(u2 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) AS auc_roc",
        "CAST(s10n AS DOUBLE) / CAST(n1 - 1 AS DOUBLE) / CAST(n1 AS DOUBLE) + CAST(s01n AS DOUBLE) / CAST(n0 - 1 AS DOUBLE) / CAST(n0 AS DOUBLE) AS var_auc")
      .selectExpr("n1", "n0", "auc_roc", "sqrt(var_auc) AS se_delong")
      .selectExpr("n1", "n0", "auc_roc", "se_delong",
        "auc_roc - 1.96 * se_delong AS ci_lo",
        "auc_roc + 1.96 * se_delong AS ci_hi")
  }

  /** Exact average precision read off [[delongCumScal]]'s ASCENDING
    * cumulative frame (r15, guide §1.2): the descending running counts
    * AP needs are the exact BIGINT identities ctp = n1 − cp + p and
    * cfp = n0 − cq + q, so every 12-dp term — the same
    * CAST·CAST/CAST expression tree over the same exact integers —
    * equals [[averagePrecisionOfScores]]' bit-for-bit, and the
    * DECIMAL(28,12) sum is merge-order-free. Lets a composite drop
    * AP's own value-grain collapse + descending range scan (one full
    * zz pass and two exchanges); the standalone gate keeps its
    * self-contained shape. */
  private def apFromDelongCum(cum: DataFrame, scal: DataFrame): DataFrame = {
    val nv = Small(cum.agg(count(lit(1)).cast(LongType).as("n_values")), 1, "ap value count")
    val ap = Small(cum.crossJoin(broadcast(scal))
      .filter(col("p") > 0)
      .selectExpr("CAST(round(CAST(p AS DOUBLE) * CAST(n1 - cp + p AS DOUBLE)" +
        " / CAST((n1 - cp + p) + (n0 - cq + q) AS DOUBLE), 12) AS DECIMAL(28,12)) AS t")
      .agg(sum(col("t")).as("ap_num")), 1, "ap numerator")
    scal.crossJoin(broadcast(nv)).crossJoin(broadcast(ap))
      .selectExpr("n1", "n0", "n_values",
        "CAST(ap_num AS DOUBLE) / CAST(n1 AS DOUBLE) AS avg_precision")
  }

  /** ml_auc_delong: DeLong SE + 95% CI for the gate's logreg ROC-AUC
    * — the readout that turns [[mlRocAuc]]'s point estimate into a
    * COMPARABLE number (two AUCs without error bars can't be ranked;
    * lineitem's dense score ties exercise the ½-tie placements for
    * real). Same one-training-pass isolation as the sibling gates. */
  lazy val mlAucDelong: QueryDef = QueryDef(
    "ml_auc_delong",
    Some(s"""$scoredSql,
        $vgSql,
        $delongCtesSql
        SELECT n1, n0, auc_roc, se_delong,
          auc_roc - 1.96 * se_delong AS ci_lo,
          auc_roc + 1.96 * se_delong AS ci_hi
        FROM sev"""),
    (s, d) => delongOfScores(gateScores(s, d)))

  // --------------------------------------------------- linear SHAP
  /** Exact per-feature SHAP attribution magnitudes for a linear
    * scorer — for a linear model with independent features the
    * Shapley value of feature j on row x is EXACTLY
    * φ_j(x) = w_j·(x_j − x̄_j) (Lundberg & Lee 2017 §4 "Linear
    * SHAP"; no sampling, no background-set approximation), so the
    * global explanation is mean|φ_j| per feature plus its share of
    * total attribution — the importance readout a model card prints.
    * Two passes over the feature frame: ONE map-combinable moment
    * aggregate for the feature means, then ONE contribution
    * aggregate with the means broadcast back; per-row |φ| values
    * 12-dp-round into DECIMAL(28,12) merge-order-free sums (feature
    * columns are raw doubles, so their naive sums would be
    * merge-order dependent), x̄/mean|φ|/share are fixed IEEE trees
    * over exact operands (the share's denominator is the EXACT
    * decimal a1 + a2). Complements [[mlFeatureImportance]]'s
    * leave-one-out ΔSSE: LOO prices a feature by lost FIT, SHAP by
    * attribution MASS on the scored output. */
  def shapLinear(b: DataFrame, w: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val bP = scope.persist(b)
    val mo = Small(bP.agg(count(lit(1)).cast(LongType).as("n"),
      sum(round(col("x1"), 12).cast(DecimalType(28, 12))).as("sx1"),
      sum(round(col("x2"), 12).cast(DecimalType(28, 12))).as("sx2")), 1, "shap feature means")
    val mm = mo.selectExpr(
      "CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1",
      "CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2")
    val ag = Small(bP.crossJoin(broadcast(mm)).crossJoin(broadcast(w))
      .agg(
        sum(expr("CAST(round(abs(wb * (x1 - m1)), 12) AS DECIMAL(28,12))")).as("a1"),
        sum(expr("CAST(round(abs(wc * (x2 - m2)), 12) AS DECIMAL(28,12))")).as("a2")),
      1, "shap attribution mass")
    ag.crossJoin(broadcast(mo)).crossJoin(broadcast(w))
      .selectExpr(
        "stack(2," +
          " 'x1', wb, CAST(a1 AS DOUBLE) / CAST(n AS DOUBLE), CAST(a1 AS DOUBLE) / CAST(a1 + a2 AS DOUBLE)," +
          " 'x2', wc, CAST(a2 AS DOUBLE) / CAST(n AS DOUBLE), CAST(a2 AS DOUBLE) / CAST(a1 + a2 AS DOUBLE))" +
          " AS (feature, weight, mean_abs_contrib, share)")
      .orderBy(col("feature"))
  }

  /** ml_shap_linear: exact global SHAP attribution for the gate's GD
    * classifier — mean|w_j·(x_j − x̄_j)| and attribution share per
    * feature. Same one-training-pass isolation as the sibling gates.
    * (lazy — see [[mlCalibration]].) */
  lazy val mlShapLinear: QueryDef = QueryDef(
    "ml_shap_linear",
    Some(s"""$trainedSql,
        $shapCtesSql
        SELECT 'x1' AS feature, wb AS weight,
          CAST(a1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_abs_contrib,
          CAST(a1 AS DOUBLE) / CAST(a1 + a2 AS DOUBLE) AS share
        FROM ag, mo, w6
        UNION ALL
        SELECT 'x2' AS feature, wc AS weight,
          CAST(a2 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_abs_contrib,
          CAST(a2 AS DOUBLE) / CAST(a1 + a2 AS DOUBLE) AS share
        FROM ag, mo, w6
        ORDER BY feature"""),
    (s, d) => {
      val b = graft.CacheScope.untracked.persist(mlFeatures(s, d))
      shapLinear(b, logregWeights6(b))
    })

  // ---------------------------------------------- pipeline scorecard
  /** Composed ranking-metric scorecard over a feature frame and a
    * one-row weights frame — the r11 sibling of
    * [[pipelineMlReadouts]]: that suite unites the threshold-grid
    * readouts (sweep/lift/calibration), this one unites the RANK
    * metrics and decompositions (exact ROC-AUC with its DeLong error
    * bar, exact average precision, the Brier/Murphy decomposition,
    * linear-SHAP attribution shares) into one long-format (metric,
    * value) report — the numbers a model card prints, off ONE
    * training pass and ONE persisted scored frame. The self-contained
    * singles retrain by design (each gate must stand alone for its
    * oracle); this is the production shape: train once, score once,
    * read everything. */
  def scorecardOfScores(b: DataFrame, w: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val zz = scope.persist(scoreWith(b, w))
    // ONE value-grain collapse + ONE ascending range scan feed BOTH
    // rank readouts (r15): AP's descending cumulative counts are exact
    // BIGINT identities of DeLong's ascending ones — before, each
    // readout rebuilt its own (z, p, q) frame off zz (an extra full
    // zz pass + two exchanges per composite; guide §1.2/§2.4). The
    // rank chain and the SHAP moment chain are independent eager
    // cascades — overlap them (guide §2.6); brier is a single lazy
    // aggregate computed by the final union action.
    val ((dl, ap), sh) = graft.Par.run2(
      {
        val (cum, scal) = delongCumScal(zz)
        (delongReadout(cum, scal), apFromDelongCum(cum, scal))
      },
      shapLinear(b, w))
    val br = brierOfScores(zz)
    dl.selectExpr("stack(6, 'n1', CAST(n1 AS DOUBLE), 'n0', CAST(n0 AS DOUBLE)," +
        " 'auc_roc', auc_roc, 'se_delong', se_delong, 'ci_lo', ci_lo, 'ci_hi', ci_hi)" +
        " AS (metric, value)")
      .unionAll(ap.selectExpr("'avg_precision' AS metric", "avg_precision AS value"))
      .unionAll(br.selectExpr("stack(4, 'brier', bs, 'brier_unc', unc," +
        " 'brier_rel', rel, 'brier_res', res) AS (metric, value)"))
      .unionAll(sh.selectExpr("concat('shap_share_', feature) AS metric", "share AS value"))
      .orderBy(col("metric"))
  }

  /** pipeline_ml_scorecard: the composed rank-metric suite for the
    * gate's GD classifier. Bench evidence target ≈ one single's cost,
    * not five — the GD training rounds and the corpus scoring scan
    * are shared; every readout runs at value/bin/feature grain off
    * the persisted margins. (lazy — see [[mlCalibration]].) */
  lazy val pipelineMlScorecard: QueryDef = QueryDef(
    "pipeline_ml_scorecard",
    Some(s"""$scoredSql,
        $vgSql,
        $delongCtesSql,
        ${apCumSql("cumd")},
        ${apSumSql("cumd", "apx")},
        apv AS (SELECT CAST(ap_num AS DOUBLE) / CAST(n1 AS DOUBLE) AS avg_precision FROM apx, scal),
        ${bzSql("z", "zz")},
        $brierCtesSql,
        $shapCtesSql
        SELECT metric, value FROM (
          SELECT 'n1' AS metric, CAST(n1 AS DOUBLE) AS value FROM scal
          UNION ALL SELECT 'n0', CAST(n0 AS DOUBLE) FROM scal
          UNION ALL SELECT 'auc_roc', auc_roc FROM sev
          UNION ALL SELECT 'se_delong', se_delong FROM sev
          UNION ALL SELECT 'ci_lo', auc_roc - 1.96 * se_delong FROM sev
          UNION ALL SELECT 'ci_hi', auc_roc + 1.96 * se_delong FROM sev
          UNION ALL SELECT 'avg_precision', avg_precision FROM apv
          UNION ALL SELECT 'brier', CAST(sbst AS DOUBLE) / CAST(nt AS DOUBLE) FROM s
          UNION ALL SELECT 'brier_unc', (CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(1 AS DOUBLE) - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)) FROM s
          UNION ALL SELECT 'brier_rel', CAST(srel AS DOUBLE) / CAST(nt AS DOUBLE) FROM s
          UNION ALL SELECT 'brier_res', CAST(sres AS DOUBLE) / CAST(nt AS DOUBLE) FROM s
          UNION ALL SELECT 'shap_share_x1', CAST(a1 AS DOUBLE) / CAST(a1 + a2 AS DOUBLE) FROM ag
          UNION ALL SELECT 'shap_share_x2', CAST(a2 AS DOUBLE) / CAST(a1 + a2 AS DOUBLE) FROM ag
        ) ORDER BY metric"""),
    (s, d) => {
      val b = graft.CacheScope.untracked.persist(mlFeatures(s, d))
      scorecardOfScores(b, logregWeights6(b))
    })

  // --------------------------------------------------- McNemar test
  /** McNemar readout fragments over the exact contingency counts —
    * shared by the single gate and the fused composite pass (r15). */
  private val mcnemarReadoutSql: Seq[String] = Seq(
    "CASE WHEN n01 + n10 > 0 THEN CAST(CAST(abs(n01 - n10) - 1 AS DECIMAL(19,0)) * (abs(n01 - n10) - 1) AS DOUBLE) / CAST(n01 + n10 AS DOUBLE) END AS mcnemar_stat",
    "CAST(CASE WHEN n01 + n10 > 0 AND CAST(CAST(abs(n01 - n10) - 1 AS DECIMAL(19,0)) * (abs(n01 - n10) - 1) AS DOUBLE) / CAST(n01 + n10 AS DOUBLE) > 3.841 THEN 1 ELSE 0 END AS BIGINT) AS significant")

  /** The paired-comparison gates score models off ONE training chain:
    * model i (0, 1, 2 → za, zb, zc) is the 6-dp weights after
    * GdRounds − i rounds, columns suffixed with that round count. */
  private def pairedMargin(i: Int): String = {
    val r = GdRounds - i
    s"(wa$r + wb$r * x1 + wc$r * x2)"
  }

  /** The (za, zb(, zc), y) margins of the first `models` chain prefixes
    * over a feature frame `b`. */
  private def pairedScores(b: DataFrame, models: Int): DataFrame = {
    val chain = logregWeightsChain(b)
    (0 until models).map { i =>
      val r = GdRounds - i
      round6(chain(r)).selectExpr(s"wa AS wa$r", s"wb AS wb$r", s"wc AS wc$r")
    }.foldLeft(b)((acc, w) => acc.crossJoin(broadcast(w)))
      .selectExpr((0 until models).map(i => s"${pairedMargin(i)} AS z${"abc"(i)}") :+ "y": _*)
  }

  /** Oracle twin of [[pairedScores]]' weights: `w6a`, `w6b`(, `w6c`). */
  private def pairedW6Sql(models: Int): String = (0 until models).map { i =>
    val r = GdRounds - i
    s"w6${"abc"(i)} AS (SELECT round(wa, 6) AS wa$r, round(wb, 6) AS wb$r, round(wc, 6) AS wc$r FROM w$r)"
  }.mkString(",\n        ")
  private def pairedFromSql(models: Int): String =
    ("b" +: (0 until models).map(i => s"w6${"abc"(i)}")).mkString(", ")

  /** Oracle twin of [[pairedScores]]: the weights and `zz`, with or
    * without the label column. */
  private def pairedZzSql(models: Int, y: Boolean): String = {
    val zs = (0 until models).map(i => s"${pairedMargin(i)} AS z${"abc"(i)}")
    s"""${pairedW6Sql(models)},
        zz AS (SELECT ${(if (y) zs :+ "y" else zs).mkString(",\n            ")} FROM ${pairedFromSql(models)})"""
  }

  /** 1 when margin `z` decides row y correctly, else 0. */
  private def correctSql(z: String): String = s"(CASE WHEN (($z > 0) = (y > 0.5)) THEN 1 ELSE 0 END)"
  /** How many of (za, zb, zc) decide the row correctly. */
  private def nCorrectSql: String = s"(${correctSql("za")} + ${correctSql("zb")} + ${correctSql("zc")})"

  /** McNemar's paired test over two scored margin columns (za, zb)
    * and the shared outcome y — the PAIRED model-comparison test
    * next to [[delongOfScores]]' CI: DeLong bounds ONE model's AUC,
    * McNemar decides whether two models' DECISIONS differ beyond
    * chance on the same rows (Dietterich 1998's recommendation for
    * comparing classifiers without refit resampling). Only the
    * discordant pairs carry signal: n01 (A wrong, B right) vs n10
    * (A right, B wrong), continuity-corrected
    * χ² = (|n01−n10|−1)²/(n01+n10), significant at α = 0.05 against
    * the LITERAL critical value 3.841 (evaluating the chi-square CDF
    * cross-engine would put a libm ulp on the verdict). Counts are
    * exact BIGINTs off ONE scan; the square rides DECIMAL(19,0)
    * (the q77 wrap lesson); the statistic is one IEEE tree over
    * exact operands; NULL (not 0) when no discordant pairs exist. */
  def mcnemarOfScores(zz: DataFrame): DataFrame =
    zz.agg(
        count(lit(1)).cast(LongType).as("n_pairs"),
        sum(when(expr("((za > 0) = (y > 0.5))"), 1L).otherwise(0L)).cast(LongType).as("n_correct_a"),
        sum(when(expr("((zb > 0) = (y > 0.5))"), 1L).otherwise(0L)).cast(LongType).as("n_correct_b"),
        sum(when(expr("NOT ((za > 0) = (y > 0.5)) AND ((zb > 0) = (y > 0.5))"), 1L)
          .otherwise(0L)).cast(LongType).as("n01"),
        sum(when(expr("((za > 0) = (y > 0.5)) AND NOT ((zb > 0) = (y > 0.5))"), 1L)
          .otherwise(0L)).cast(LongType).as("n10"))
      .selectExpr("n_pairs" +: "n_correct_a" +: "n_correct_b" +: "n01" +: "n10" +:
        mcnemarReadoutSql: _*)

  /** ml_mcnemar_test: McNemar's paired test between the gate's
    * 3-round GD classifier and its 2-round ancestor on the same rows
    * — the "did the extra training round change DECISIONS beyond
    * chance" readout (both weight sets fall out of the SAME unrolled
    * training chain, so the oracle reads w3 and w2 from one CTE
    * ladder). Same one-training-pass-per-model isolation as the
    * sibling gates. (lazy — see [[mlCalibration]].) */
  lazy val mlMcnemarTest: QueryDef = QueryDef(
    "ml_mcnemar_test",
    Some(s"""${logregCtes(GdRounds)},
        ${pairedZzSql(2, y = true)},
        cc AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
            CAST(sum(CASE WHEN ((za > 0) = (y > 0.5)) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct_a,
            CAST(sum(CASE WHEN ((zb > 0) = (y > 0.5)) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct_b,
            CAST(sum(CASE WHEN NOT ((za > 0) = (y > 0.5)) AND ((zb > 0) = (y > 0.5)) THEN 1 ELSE 0 END) AS BIGINT) AS n01,
            CAST(sum(CASE WHEN ((za > 0) = (y > 0.5)) AND NOT ((zb > 0) = (y > 0.5)) THEN 1 ELSE 0 END) AS BIGINT) AS n10
          FROM zz)
        SELECT n_pairs, n_correct_a, n_correct_b, n01, n10,
          CASE WHEN n01 + n10 > 0 THEN CAST(CAST(abs(n01 - n10) - 1 AS DECIMAL(19,0)) * (abs(n01 - n10) - 1) AS DOUBLE) / CAST(n01 + n10 AS DOUBLE) END AS mcnemar_stat,
          CAST(CASE WHEN n01 + n10 > 0 AND CAST(CAST(abs(n01 - n10) - 1 AS DECIMAL(19,0)) * (abs(n01 - n10) - 1) AS DOUBLE) / CAST(n01 + n10 AS DOUBLE) > 3.841 THEN 1 ELSE 0 END AS BIGINT) AS significant
        FROM cc"""),
    (s, d) => {
      mcnemarOfScores(pairedScores(graft.CacheScope.untracked.persist(mlFeatures(s, d)), 2))
    })

  // ------------------------------------------------- Cohen's kappa
  /** Kappa readout fragments over the exact contingency counts
    * (n_pairs, n11, n10, n01, n00) — the SAME strings run in Spark's
    * `selectExpr` and the DuckDB oracle, so both engines evaluate the
    * identical expression tree. Products ride DECIMAL (the q77 wrap
    * lesson: at 100 TB n_pairs² overflows BIGINT at ~3e9 rows); each
    * surfaced value is ONE IEEE division of exact integers. */
  private val kappaPeNum =
    "(CAST(n11 + n10 AS DECIMAL(19,0)) * (n11 + n01) + CAST(n01 + n00 AS DECIMAL(19,0)) * (n10 + n00))"
  private val kappaNSq = "(CAST(n_pairs AS DECIMAL(19,0)) * n_pairs)"
  private def kappaReadoutSql: Seq[String] = Seq(
    "CAST(n11 + n00 AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS po",
    s"CAST($kappaPeNum AS DOUBLE) / CAST($kappaNSq AS DOUBLE) AS pe",
    s"""CASE WHEN $kappaNSq <> $kappaPeNum
       THEN CAST(CAST(n_pairs AS DECIMAL(19,0)) * (n11 + n00) - $kappaPeNum AS DOUBLE)
          / CAST($kappaNSq - $kappaPeNum AS DOUBLE) END AS kappa""")

  /** Oracle twin of [[kappaOfScores]]' 2×2 contingency counts. */
  private val kappaCountsSql =
    """CAST(count(*) AS BIGINT) AS n_pairs,
            CAST(sum(CASE WHEN za > 0 AND zb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
            CAST(sum(CASE WHEN za > 0 AND NOT (zb > 0) THEN 1 ELSE 0 END) AS BIGINT) AS n10,
            CAST(sum(CASE WHEN NOT (za > 0) AND zb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
            CAST(sum(CASE WHEN NOT (za > 0) AND NOT (zb > 0) THEN 1 ELSE 0 END) AS BIGINT) AS n00"""

  /** Cohen's kappa over two scored margin columns (za, zb) — the
    * chance-corrected AGREEMENT between two classifiers' decisions,
    * the descriptive companion to [[mcnemarOfScores]]' significance
    * verdict (McNemar asks "do they differ beyond chance?"; kappa
    * answers "how much do they agree beyond chance?"). Exact 2×2
    * contingency counts off ONE scan; κ = (n·a − Σ r·c)/(n² − Σ r·c)
    * computed as ONE division of exact DECIMAL integers (a = both-
    * agree count, r/c the raters' margins) — po and pe likewise each
    * one division. NULL when pe = 1 (both raters constant — κ is
    * undefined, not 0). */
  def kappaOfScores(zz: DataFrame): DataFrame =
    zz.agg(
        count(lit(1)).cast(LongType).as("n_pairs"),
        sum(when(expr("za > 0 AND zb > 0"), 1L).otherwise(0L)).cast(LongType).as("n11"),
        sum(when(expr("za > 0 AND NOT (zb > 0)"), 1L).otherwise(0L)).cast(LongType).as("n10"),
        sum(when(expr("NOT (za > 0) AND zb > 0"), 1L).otherwise(0L)).cast(LongType).as("n01"),
        sum(when(expr("NOT (za > 0) AND NOT (zb > 0)"), 1L).otherwise(0L)).cast(LongType).as("n00"))
      .selectExpr("n_pairs" +: "n11" +: "n10" +: "n01" +: "n00" +: kappaReadoutSql: _*)

  /** ml_cohens_kappa: chance-corrected agreement between the gate's
    * 3-round GD classifier and its 2-round ancestor on the same rows
    * — the effect-size companion to [[mlMcnemarTest]] (same paired
    * zz frame, same one-CTE-ladder oracle: w3 and w2 fall out of ONE
    * unrolled training chain). (lazy — see [[mlCalibration]].) */
  lazy val mlCohensKappa: QueryDef = QueryDef(
    "ml_cohens_kappa",
    Some(s"""${logregCtes(GdRounds)},
        ${pairedZzSql(2, y = false)},
        cc AS (SELECT $kappaCountsSql FROM zz)
        SELECT n_pairs, n11, n10, n01, n00,
          ${kappaReadoutSql.mkString(",\n          ")}
        FROM cc"""),
    (s, d) => kappaOfScores(pairedScores(graft.CacheScope.untracked.persist(mlFeatures(s, d)), 2)))

  // --------------------------------------------------- Cochran's Q
  /** Cochran's Q readout fragments over the exact per-classifier
    * correct counts (ga, gb, gc) and the per-row agreement moments
    * (sum_l = ΣLᵢ, sum_l2 = ΣLᵢ² where Lᵢ = #correct classifiers on
    * row i). The textbook Q = k(k−1)Σⱼ(Gⱼ−T/k)²/(kT−ΣL²) folds to the
    * ALL-INTEGER form Q = (k−1)(kΣG² − T²)/(kT − ΣL²) at k = 3 —
    * products ride DECIMAL (the q77 wrap lesson), ONE division. */
  private val cochranGSq =
    "(CAST(ga AS DECIMAL(19,0)) * ga + CAST(gb AS DECIMAL(19,0)) * gb + CAST(gc AS DECIMAL(19,0)) * gc)"
  private val cochranNum =
    s"(2 * (3 * $cochranGSq - CAST(ga + gb + gc AS DECIMAL(19,0)) * (ga + gb + gc)))"
  private val cochranDen = "(3 * sum_l - sum_l2)"
  private def cochranReadoutSql: Seq[String] = Seq(
    s"CASE WHEN $cochranDen > 0 THEN CAST($cochranNum AS DOUBLE) / CAST($cochranDen AS DOUBLE) END AS q_stat",
    s"CAST(CASE WHEN $cochranDen > 0 AND CAST($cochranNum AS DOUBLE) / CAST($cochranDen AS DOUBLE) > 5.991 THEN 1 ELSE 0 END AS BIGINT) AS significant")

  /** Oracle twin of [[cochranQOfScores]]' counts over (za, zb, zc, y). */
  private def cochranCountsSql: String =
    s"""CAST(count(*) AS BIGINT) AS n_rows,
            CAST(sum(${correctSql("za")}) AS BIGINT) AS ga,
            CAST(sum(${correctSql("zb")}) AS BIGINT) AS gb,
            CAST(sum(${correctSql("zc")}) AS BIGINT) AS gc,
            CAST(sum($nCorrectSql) AS BIGINT) AS sum_l,
            CAST(sum($nCorrectSql * $nCorrectSql) AS BIGINT) AS sum_l2"""

  /** Cochran's Q over THREE scored margin columns (za, zb, zc) and the
    * shared outcome y — [[mcnemarOfScores]] generalized from 2 paired
    * classifiers to k = 3 (Cochran 1950; the omnibus "do ANY of these
    * models' decisions differ beyond chance?" gate run before pairwise
    * McNemars): exact correct-counts and agreement moments off ONE
    * scan, the statistic one division of exact DECIMAL integers,
    * verdict against the LITERAL χ²₂ critical value 5.991 (the McNemar
    * 3.841 discipline). NULL — not 0 — when every row is decided
    * identically by all three (3T = ΣL², zero discordance). */
  def cochranQOfScores(zz: DataFrame): DataFrame = {
    zz.agg(
        count(lit(1)).cast(LongType).as("n_rows"),
        sum(expr(correctSql("za"))).cast(LongType).as("ga"),
        sum(expr(correctSql("zb"))).cast(LongType).as("gb"),
        sum(expr(correctSql("zc"))).cast(LongType).as("gc"),
        sum(expr(nCorrectSql)).cast(LongType).as("sum_l"),
        sum(expr(s"$nCorrectSql * $nCorrectSql")).cast(LongType).as("sum_l2"))
      .selectExpr("n_rows" +: "ga" +: "gb" +: "gc" +: "sum_l" +: "sum_l2" +:
        cochranReadoutSql: _*)
  }

  /** ml_cochran_q: Cochran's Q across the gate's 3-, 2-, and 1-round
    * GD classifiers — all three weight sets read off ONE unrolled
    * training CTE ladder (w3, w2, w1 of the same chain), completing
    * the paired-comparison family: McNemar decides a PAIR, kappa
    * sizes a pair's agreement, Cochran's Q screens the whole set.
    * (lazy — see [[mlCalibration]].) */
  lazy val mlCochranQ: QueryDef = QueryDef(
    "ml_cochran_q",
    Some(s"""${logregCtes(GdRounds)},
        ${pairedZzSql(3, y = true)},
        cc AS (SELECT $cochranCountsSql FROM zz)
        SELECT n_rows, ga, gb, gc, sum_l, sum_l2,
          ${cochranReadoutSql.mkString(",\n          ")}
        FROM cc"""),
    (s, d) => {
      cochranQOfScores(pairedScores(graft.CacheScope.untracked.persist(mlFeatures(s, d)), 3))
    })

  // --------------------------------------------- Spearman correlation
  /** Value-grain fractional midranks of column `c`: (c, u) with
    * u = (2·below + cnt + 1)/(2n) ∈ (0, 1] — the midrank normalized
    * into the unit interval, which keeps every downstream 12-dp
    * DECIMAL term bounded at ANY corpus size (raw midrank products
    * overflow any fixed precision at ~10⁹ rows). Spearman's ρ is
    * invariant under the affine rank→u map, so nothing is lost.
    * Ranks come from the [[rocAucOfScores]] two-level range-partition
    * scan — value-grain collapse, local cumsum, partition offsets
    * broadcast; NO global sort, NO single-task window. The broadcasts
    * INSIDE are metadata-scale at any corpus size (`offsets` is one
    * row per shuffle partition, `nn` is one row); the map ITSELF is
    * value-grain — returned with its exact distinct-key count so the
    * caller can decide whether joining it back to the corpus may
    * broadcast (see [[spearmanOfScores]]). The count reads the
    * persisted rank frame, which the returned map reuses, so the
    * guard costs one cache scan, not a recompute. */
  private def fracRanks(df: DataFrame, c: String, out: String)(
      implicit scope: graft.CacheScope): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.spark_partition_id
    val vg = df.groupBy(col(c)).agg(count(lit(1)).cast(LongType).as("cnt"))
    val ranked = scope.persist(vg
      .repartitionByRange(col(c))
      .withColumn("pid", spark_partition_id())
      .withColumn("lc", sum(col("cnt")).over(
        Window.partitionBy(col("pid")).orderBy(col(c))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val keys = ranked.count()
    val wo = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranked.groupBy(col("pid"))
      .agg(max(col("lc")).as("pc"))
      .select(col("pid"), coalesce(sum(col("pc")).over(wo), lit(0L)).as("base"))
    val nn = Small(ranked.agg(sum(col("cnt")).cast(LongType).as("nt")), 1, "rank total")
    (ranked.join(broadcast(offsets), Seq("pid"))
      .crossJoin(broadcast(nn))
      .selectExpr(c,
        s"CAST(2 * (base + lc - cnt) + cnt + 1 AS DOUBLE) / (2.0 * CAST(nt AS DOUBLE)) AS $out"),
      keys)
  }

  /** Oracle twin of [[fracRanks]] over `zz`: the value-grain counts
    * `g` of column `c` and their normalized midranks `${out}r(c, out)`. */
  private def rankCteSql(c: String, out: String, g: String): String =
    s"""$g AS (SELECT $c, CAST(count(*) AS BIGINT) AS cnt FROM zz GROUP BY $c),
        ${out}r AS (SELECT $c, CAST(2 * (CAST(sum(cnt) OVER (ORDER BY $c ROWS UNBOUNDED PRECEDING) AS BIGINT) - cnt) + cnt + 1 AS DOUBLE)
            / (2.0 * CAST((SELECT sum(cnt) FROM $g) AS DOUBLE)) AS $out
          FROM $g)"""

  /** Oracle: the 12-dp moment sums of the joined midranks (u, v). */
  private val spearmanMomentsSql =
    """SELECT CAST(count(*) AS BIGINT) AS n,
            sum(CAST(round(u, 12) AS DECIMAL(28,12))) AS su,
            sum(CAST(round(v, 12) AS DECIMAL(28,12))) AS sv,
            sum(CAST(round(u * v, 12) AS DECIMAL(28,12))) AS suv,
            sum(CAST(round(u * u, 12) AS DECIMAL(28,12))) AS su2,
            sum(CAST(round(v * v, 12) AS DECIMAL(28,12))) AS sv2
          FROM zz JOIN ur ON zz.za = ur.za JOIN vr ON zz.zb = vr.zb"""

  /** Spearman's ρ over the moment sums; NULL when either column is
    * constant. The same string in both engines. */
  private val spearmanRhoSql = {
    val covN = "(CAST(n AS DOUBLE) * CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))"
    val varU = "(CAST(n AS DOUBLE) * CAST(su2 AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))"
    val varV = "(CAST(n AS DOUBLE) * CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))"
    s"CASE WHEN $varU > 0 AND $varV > 0 THEN $covN / sqrt($varU * $varV) END"
  }

  /** Default broadcast ceiling for value-grain rank maps: 10⁶ keys ×
    * ~24 B/row ≈ 24 MB serialized — comfortably under executor/driver
    * broadcast limits, far above the gate's bounded score grid. */
  val RankMapBroadcastKeys: Long = 1000000L

  /** Spearman rank correlation between two scored margin columns
    * (za, zb) with midrank ties — the RANKING-grain agreement readout
    * next to [[kappaOfScores]]' decision grain (two models can agree
    * on every decision yet order the risk pool differently; ρ is what
    * a ranker-swap decision reads). ρ = Pearson over the normalized
    * midranks: per-column value-grain rank maps join back to the row
    * frame (the corpus itself is scanned once and never sorted),
    * moment sums ride the 12-dp DECIMAL(28,12) merge-order-free
    * discipline (u, v ∈ (0,1] keep every term bounded), and ρ is one
    * IEEE tree over the exact sums. NULL when either column is
    * constant (zero rank variance).
    *
    * The rank maps are VALUE-grain — one row per distinct score. For
    * a bounded score grid (the gate's 6-dp-weight quantity×discount
    * space: ~550 keys at ANY sf) they broadcast; for continuous
    * scores the grain is ~O(corpus) and a forced broadcast would blow
    * the driver at scale, so each map broadcasts ONLY when its exact
    * key count (read off the persisted rank frame inside
    * [[fracRanks]] — one cache scan, no recompute) is ≤
    * `maxBroadcastKeys`, else it shuffle-joins on the score key.
    * Both paths produce identical midranks (property-specced). */
  def spearmanOfScores(zz: DataFrame,
      maxBroadcastKeys: Long = RankMapBroadcastKeys)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    // EAGER one-shot materialization (r15; was a lazy scope persist):
    // the two per-column rank-map chains below are independent
    // scan+window+count cascades, so they run CONCURRENTLY (guide
    // §2.6) — serially, each chain's eager actions (the key count, the
    // nn collect) waited on the other's. Materializing z first
    // keeps the concurrent chains from racing to fill the cache and
    // duplicating the upstream scan; the harness drops checkpoint
    // blocks exactly like persists. Each chain's computation — and so
    // every midrank — is bit-identical to the serial form.
    val z = zz.select(col("za"), col("zb")).localCheckpoint(true)
    val ((ra, ka), (rb, kb)) = graft.Par.run2(
      fracRanks(z.select(col("za")), "za", "u"),
      fracRanks(z.select(col("zb")), "zb", "v"))
    def hinted(m: DataFrame, keys: Long): DataFrame =
      if (keys <= maxBroadcastKeys) broadcast(m) else m
    def dsum(e: String, a: String) =
      expr(s"sum(CAST(round($e, 12) AS DECIMAL(28,12)))").as(a)
    val m = z.join(hinted(ra, ka), Seq("za")).join(hinted(rb, kb), Seq("zb"))
      .agg(count(lit(1)).cast(LongType).as("n"),
        dsum("u", "su"), dsum("v", "sv"), dsum("u * v", "suv"),
        dsum("u * u", "su2"), dsum("v * v", "sv2"))
    m.selectExpr("n", s"$spearmanRhoSql AS rho")
  }

  /** ml_spearman_corr: Spearman ρ between the gate's 3-round and
    * 2-round GD scores — same paired frame as [[mlMcnemarTest]]/
    * [[mlCohensKappa]], read at RANKING grain. (lazy — see
    * [[mlCalibration]].) */
  lazy val mlSpearmanCorr: QueryDef = QueryDef(
    "ml_spearman_corr",
    Some(s"""${logregCtes(GdRounds)},
        ${pairedZzSql(2, y = false)},
        ${rankCteSql("za", "u", "ug")},
        ${rankCteSql("zb", "v", "vg")},
        m AS ($spearmanMomentsSql)
        SELECT n, $spearmanRhoSql AS rho FROM m"""),
    (s, d) => {
      spearmanOfScores(pairedScores(graft.CacheScope.untracked.persist(mlFeatures(s, d)), 2))
    })

  /** ml_spearman_shuffle (r13): [[spearmanOfScores]] over CONTINUOUS
    * row-grain scores — the gate that exercises the rank-map guard's
    * SHUFFLE branch under the oracle (the r12 verdict's #1: the
    * shuffle path had only ever run at spec scale; the gated
    * `ml_spearman_corr` frame is a ~550-key bounded grid that always
    * broadcasts). Scores are two correlated continuous readings of
    * each lineitem row (`q·p − d` and `p·(1−d) + q` — both IEEE-
    * deterministic left-to-right, both near-row-grain): ~6·10⁴
    * distinct keys at sf0.01 (guard broadcasts), ~6·10⁶ at the
    * 10×-cardinality ScaleGen dir (guard shuffle-joins BOTH maps —
    * `Round13Spec` pins the >10⁶-key plan to SortMergeJoin with zero
    * rank-map hints). Same oracle at every scale: value-grain
    * midranks, 12-dp DECIMAL moment sums, one IEEE tree. */
  lazy val mlSpearmanShuffle: QueryDef = QueryDef(
    "ml_spearman_shuffle",
    Some(s"""WITH zz AS (SELECT (l_quantity * l_extendedprice - l_discount) AS za,
            (l_extendedprice * (1 - l_discount) + l_quantity) AS zb FROM lineitem),
        ${rankCteSql("za", "u", "ug")},
        ${rankCteSql("zb", "v", "vg")},
        m AS ($spearmanMomentsSql)
        SELECT n, $spearmanRhoSql AS rho FROM m"""),
    (s, d) => {
      spearmanOfScores(Tables.fanout(Tables.lineitem(s, d)
        .selectExpr("(l_quantity * l_extendedprice - l_discount) AS za",
          "(l_extendedprice * (1 - l_discount) + l_quantity) AS zb")))
    })

  // ------------------------------------------ composed model compare
  /** pipeline_model_compare: the composed PAIRED-COMPARISON suite —
    * the sibling of [[pipelineMlScorecard]] for the model-vs-model
    * decision (scorecard answers "how good is THIS model?", this
    * answers "is the NEW model actually different/better than the one
    * serving?"): each candidate trains ONCE ([[logregWeights6]] at 3,
    * 2, and 1 rounds — three models, three training passes), ONE
    * persisted scored frame (za, zb, zc, y) feeds ALL FIVE readouts —
    * McNemar (decision pair), Cohen's κ (pair agreement), Cochran's Q
    * (k = 3 omnibus), Spearman ρ (ranking agreement), Wilcoxon
    * signed-rank (margin location) — as one long-format
    * (metric, value) report. The self-contained singles each retrain
    * by gate-isolation design; this is the production
    * train-once/score-once/compare-everything shape, bench target ≈
    * one single's cost for five readouts. Every surfaced value is the
    * SAME expression tree as its single. */
  lazy val pipelineModelCompare: QueryDef = QueryDef(
    "pipeline_model_compare",
    Some(s"""${logregCtes(GdRounds)},
        ${pairedZzSql(3, y = true)},
        mcc AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
            CAST(sum(CASE WHEN NOT ((za > 0) = (y > 0.5)) AND ((zb > 0) = (y > 0.5)) THEN 1 ELSE 0 END) AS BIGINT) AS n01,
            CAST(sum(CASE WHEN ((za > 0) = (y > 0.5)) AND NOT ((zb > 0) = (y > 0.5)) THEN 1 ELSE 0 END) AS BIGINT) AS n10
          FROM zz),
        mcs AS (SELECT n_pairs,
            CASE WHEN n01 + n10 > 0 THEN CAST(CAST(abs(n01 - n10) - 1 AS DECIMAL(19,0)) * (abs(n01 - n10) - 1) AS DOUBLE) / CAST(n01 + n10 AS DOUBLE) END AS mcnemar_stat
          FROM mcc),
        kcc AS (SELECT $kappaCountsSql FROM zz),
        kps AS (SELECT ${kappaReadoutSql.mkString(", ")} FROM kcc),
        qcc AS (SELECT $cochranCountsSql FROM zz),
        qs AS (SELECT ${cochranReadoutSql.head} FROM qcc),
        ${rankCteSql("za", "u", "ug")},
        ${rankCteSql("zb", "v", "vg2")},
        sm AS ($spearmanMomentsSql),
        sps AS (SELECT $spearmanRhoSql AS rho FROM sm),
        wnz AS (SELECT za - zb AS dv FROM zz WHERE za - zb <> 0),
        ${wilcoxonCtesSql("w")},
        wzz AS (SELECT n_nonzero, $wilcoxonZSql AS z_stat FROM wrd)
        SELECT metric, value FROM (
          SELECT 'n' AS metric, CAST(n_pairs AS DOUBLE) AS value FROM mcs
          UNION ALL SELECT 'mcnemar_stat', mcnemar_stat FROM mcs
          UNION ALL SELECT 'kappa_po', po FROM kps
          UNION ALL SELECT 'kappa_pe', pe FROM kps
          UNION ALL SELECT 'kappa', kappa FROM kps
          UNION ALL SELECT 'cochran_q', q_stat FROM qs
          UNION ALL SELECT 'spearman_rho', rho FROM sps
          UNION ALL SELECT 'wilcoxon_z', z_stat FROM wzz
        ) ORDER BY metric"""),
    (s, d) => {
      modelCompareOfScores(pairedScores(graft.CacheScope.untracked.persist(mlFeatures(s, d)), 3))
    })

  /** The composed readout over a (za, zb, zc, y) frame — every metric
    * the SAME expression tree as its single gate. */
  def modelCompareOfScores(scored: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    // EAGER one-shot materialization before the Par.run3 fan-out below
    // (as in [[spearmanOfScores]]): three concurrent chains over a lazy,
    // or persisted but not yet filled, frame race to compute it — up
    // to 3× the scoring projection. Values are bit-identical.
    val zz = scored.select(col("za"), col("zb"), col("zc"), col("y")).localCheckpoint(true)
    def row(name: String, df: DataFrame, valueExpr: String) =
      df.selectExpr(s"'$name' AS metric", s"CAST($valueExpr AS DOUBLE) AS value")
    // ONE fused contingency pass (r15, guide §1.2): McNemar, kappa and
    // Cochran's Q are plain map-combinable aggregates over the SAME
    // persisted rows — before, each ran its own full zz scan behind its
    // own checkpoint barrier (three scans + three eager jobs where one
    // suffices). Counts are the identical exact-integer expressions,
    // name-prefixed because mcnemar's n01 (A-wrong-B-right vs y) is NOT
    // kappa's n01 (za≤0 ∧ zb>0); each readout then applies the SAME
    // shared expression fragment as its single gate, so every surfaced
    // value is bit-identical to the unfused form.
    // the three independent readout chains (fused contingency pass,
    // Spearman's rank maps, Wilcoxon's |d| selection) each interleave
    // eager barriers with lazy building — overlap them (guide §2.6);
    // each chain's computation is bit-identical to its serial form
    val (cc, sp, wx) = graft.Par.run3(
      Small(zz.agg(
          count(lit(1)).cast(LongType).as("n_pairs"),
          sum(when(expr("((za > 0) = (y > 0.5))"), 1L).otherwise(0L)).cast(LongType).as("mc_nca"),
          sum(when(expr("((zb > 0) = (y > 0.5))"), 1L).otherwise(0L)).cast(LongType).as("mc_ncb"),
          sum(when(expr("NOT ((za > 0) = (y > 0.5)) AND ((zb > 0) = (y > 0.5))"), 1L)
            .otherwise(0L)).cast(LongType).as("mc_n01"),
          sum(when(expr("((za > 0) = (y > 0.5)) AND NOT ((zb > 0) = (y > 0.5))"), 1L)
            .otherwise(0L)).cast(LongType).as("mc_n10"),
          sum(when(expr("za > 0 AND zb > 0"), 1L).otherwise(0L)).cast(LongType).as("k_n11"),
          sum(when(expr("za > 0 AND NOT (zb > 0)"), 1L).otherwise(0L)).cast(LongType).as("k_n10"),
          sum(when(expr("NOT (za > 0) AND zb > 0"), 1L).otherwise(0L)).cast(LongType).as("k_n01"),
          sum(when(expr("NOT (za > 0) AND NOT (zb > 0)"), 1L).otherwise(0L)).cast(LongType).as("k_n00"),
          sum(expr(correctSql("za"))).cast(LongType).as("q_ga"),
          sum(expr(correctSql("zb"))).cast(LongType).as("q_gb"),
          sum(expr(correctSql("zc"))).cast(LongType).as("q_gc"),
          sum(expr(nCorrectSql)).cast(LongType).as("q_sum_l"),
          sum(expr(s"$nCorrectSql * $nCorrectSql")).cast(LongType).as("q_sum_l2")),
        1, "contingency counts"),
      Small(spearmanOfScores(zz.select(col("za"), col("zb"))), 1, "spearman"),
      Small(wilcoxonOfScores(zz.select(col("za"), col("zb"))), 1, "wilcoxon"))
    val mc = cc.selectExpr("n_pairs", "mc_nca AS n_correct_a",
        "mc_ncb AS n_correct_b", "mc_n01 AS n01", "mc_n10 AS n10")
      .selectExpr("n_pairs" +: "n_correct_a" +: "n_correct_b" +: "n01" +: "n10" +:
        mcnemarReadoutSql: _*)
    val kp = cc.selectExpr("n_pairs", "k_n11 AS n11", "k_n10 AS n10",
        "k_n01 AS n01", "k_n00 AS n00")
      .selectExpr("n_pairs" +: "n11" +: "n10" +: "n01" +: "n00" +: kappaReadoutSql: _*)
    val cq = cc.selectExpr("n_pairs AS n_rows", "q_ga AS ga", "q_gb AS gb",
        "q_gc AS gc", "q_sum_l AS sum_l", "q_sum_l2 AS sum_l2")
      .selectExpr("n_rows" +: "ga" +: "gb" +: "gc" +: "sum_l" +: "sum_l2" +:
        cochranReadoutSql: _*)
    row("n", mc, "n_pairs")
      .unionAll(row("mcnemar_stat", mc, "mcnemar_stat"))
      .unionAll(row("kappa_po", kp, "po"))
      .unionAll(row("kappa_pe", kp, "pe"))
      .unionAll(row("kappa", kp, "kappa"))
      .unionAll(row("cochran_q", cq, "q_stat"))
      .unionAll(row("spearman_rho", sp, "rho"))
      .unionAll(row("wilcoxon_z", wx, "z_stat"))
      .orderBy(col("metric"))
  }

  // ------------------------------------------ Wilcoxon signed rank
  /** Wilcoxon readout fragments over (w2 = 2·W⁺ exact, n, var48 =
    * 48·Var exact) — the SAME strings in both engines; the z tree is
    * IEEE over exact operands (sqrt/division correctly rounded →
    * bit-identical, surfaced unrounded). */
  private val wilcoxonZSql =
    """CASE WHEN var48 > 0
       THEN (CAST(w2 AS DOUBLE) / 2.0 - CAST(n_nonzero AS DOUBLE) * CAST(n_nonzero + 1 AS DOUBLE) / 4.0)
          / sqrt(CAST(var48 AS DOUBLE) / 48.0) END"""
  private val wilcoxonVerdictSql =
    "CASE WHEN z_stat IS NULL THEN CAST(NULL AS BIGINT) WHEN abs(z_stat) > 1.96 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"

  /** Oracle twin of [[wilcoxonOfScores]] from the nonzero differences
    * `${p}nz(dv)`: the |d| value grain, its running counts, the exact
    * 2·W⁺ and tie sums, and `${p}rd(n_nonzero, w_plus, w2, var48)`. */
  private def wilcoxonCtesSql(p: String): String =
    s"""${p}vg AS (SELECT abs(dv) AS a,
            CAST(sum(CASE WHEN dv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS p,
            CAST(count(*) AS BIGINT) AS t
          FROM ${p}nz GROUP BY abs(dv)),
        ${p}cum AS (SELECT a, p, t,
            CAST(sum(t) OVER (ORDER BY a ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lt FROM ${p}vg),
        ${p}ag AS (SELECT CAST(sum(t) AS BIGINT) AS n_nonzero,
            CAST(sum(CAST(p AS HUGEINT) * (2 * (lt - t) + t + 1)) AS HUGEINT) AS w2,
            CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tiesum
          FROM ${p}cum),
        ${p}rd AS (SELECT n_nonzero, CAST(w2 AS DOUBLE) / 2.0 AS w_plus, w2,
            2 * CAST(n_nonzero AS HUGEINT) * (n_nonzero + 1) * (2 * n_nonzero + 1) - tiesum AS var48
          FROM ${p}ag)"""

  /** Wilcoxon signed-rank test over two scored margin columns
    * (za, zb) — the NONPARAMETRIC paired location test completing the
    * comparison family ([[mcnemarOfScores]] compares decisions,
    * [[kappaOfScores]]/[[spearmanOfScores]] size agreement, this asks
    * whether one model's MARGINS sit systematically above the other's
    * without assuming normal differences — Wilcoxon 1945, the
    * paired-t-test replacement every stats stack ships): zero
    * differences drop (the standard `wilcox` treatment), |d| midranks
    * come from the value-grain two-level range-partition scan (the
    * [[rocAucOfScores]] shape — NO global sort), 2·W⁺ folds as
    * DECIMAL(19,0)×BIGINT products in DECIMAL(38,0) (merge-order
    * free), the tie-corrected 48·Var = 2n(n+1)(2n+1) − Σ(t³−t) rides
    * wide integers, and z is one IEEE tree over exacts vs the LITERAL
    * 1.96. Normal approximation — documented; fine for the n ≥ 50
    * regime every gate here runs in, NULL on all-tied input. */
  def wilcoxonOfScores(zz: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    import org.apache.spark.sql.functions.spark_partition_id
    val vg = zz.selectExpr("za - zb AS dv").filter("dv <> 0")
      .groupBy(expr("abs(dv)").as("a"))
      .agg(sum(when(col("dv") > 0, 1L).otherwise(0L)).cast(LongType).as("p"),
        count(lit(1)).cast(LongType).as("t"))
    val ranked = scope.persist(vg
      .repartitionByRange(col("a"))
      .withColumn("pid", spark_partition_id())
      .withColumn("lt", sum(col("t")).over(
        Window.partitionBy(col("pid")).orderBy(col("a"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val wo = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranked.groupBy(col("pid"))
      .agg(max(col("lt")).as("pt"))
      .select(col("pid"), coalesce(sum(col("pt")).over(wo), lit(0L)).as("base"))
    ranked.join(broadcast(offsets), Seq("pid"))
      .agg(
        sum(col("t")).cast(LongType).as("n_nonzero"),
        sum(expr("CAST(p AS DECIMAL(19,0)) * (2 * (base + lt - t) + t + 1)"))
          .cast(DecimalType(38, 0)).as("w2"),
        sum(expr("CAST(t AS DECIMAL(19,0)) * t * t - t")).cast(DecimalType(38, 0)).as("tiesum"))
      .selectExpr("n_nonzero", "CAST(w2 AS DOUBLE) / 2.0 AS w_plus", "w2",
        "2 * CAST(n_nonzero AS DECIMAL(38,0)) * (n_nonzero + 1) * (2 * n_nonzero + 1) - tiesum AS var48")
      .selectExpr("n_nonzero", "w_plus", s"$wilcoxonZSql AS z_stat")
      .selectExpr("n_nonzero", "w_plus", "z_stat",
        s"$wilcoxonVerdictSql AS significant")
  }

  /** ml_wilcoxon_signed_rank: Wilcoxon signed-rank between the gate's
    * 3-round and 2-round GD margins — same paired frame as the
    * McNemar/kappa/Spearman siblings, read at margin-location grain.
    * (lazy — see [[mlCalibration]].) */
  lazy val mlWilcoxonSignedRank: QueryDef = QueryDef(
    "ml_wilcoxon_signed_rank",
    Some(s"""${logregCtes(GdRounds)},
        ${pairedW6Sql(2)},
        dd AS (SELECT ${pairedMargin(0)} - ${pairedMargin(1)} AS dv
          FROM ${pairedFromSql(2)}),
        nz AS (SELECT dv FROM dd WHERE dv <> 0),
        ${wilcoxonCtesSql("")},
        zz2 AS (SELECT n_nonzero, w_plus, $wilcoxonZSql AS z_stat FROM rd)
        SELECT n_nonzero, w_plus, z_stat, $wilcoxonVerdictSql AS significant
        FROM zz2"""),
    (s, d) => {
      wilcoxonOfScores(pairedScores(graft.CacheScope.untracked.persist(mlFeatures(s, d)), 2))
    })

  // -------------------------------------------- Hosmer–Lemeshow test
  /** χ² critical values at α = 0.05 for df = 1..8, as a shared CASE
    * over the LITERALS (evaluating the chi-square quantile cross-
    * engine would put a libm ulp on the verdict — the McNemar 3.841
    * discipline, generalized to the HL test's df = bins − 2). */
  private val chi2Crit05: Seq[Double] =
    Seq(3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067, 15.507)
  private def chi2CritSql(df: String): String =
    "CASE " + chi2Crit05.zipWithIndex.map { case (c, i) =>
      s"WHEN ($df) = ${i + 1} THEN CAST($c AS DOUBLE)" }.mkString(" ") + " END"

  /** A bin's HL term (O−E)²/(E(1−E/n)), 12-dp DECIMAL, and the test
    * for a usable bin (0 < E < n) — shared by both engines. */
  private val hlTermSql = "CAST(round((CAST(pos AS DOUBLE) - CAST(sp AS DOUBLE)) * (CAST(pos AS DOUBLE) - CAST(sp AS DOUBLE)) / (CAST(sp AS DOUBLE) * (CAST(1 AS DOUBLE) - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE))), 12) AS DECIMAL(28,12))"
  private val hlUsedSql = "CAST(sp AS DOUBLE) > 0 AND CAST(sp AS DOUBLE) < CAST(n AS DOUBLE)"

  /** HL significance verdict over (n_bins_used, hl_stat) — NULL, not
    * 0, when the test is UNDEFINED (df = n_bins_used − 2 < 1, or
    * hl_stat NULL because every bin degenerated): a fake "not
    * significant" would be a verdict the data cannot support — the
    * [[wilcoxonVerdictSql]] NULL-verdict discipline. Shared string so
    * the Spark readout and the DuckDB oracle cannot drift. */
  private val hlVerdictSql =
    s"CAST(CASE WHEN n_bins_used - 2 < 1 OR hl_stat IS NULL THEN NULL WHEN hl_stat > ${chi2CritSql("n_bins_used - 2")} THEN 1 ELSE 0 END AS BIGINT)"

  /** Hosmer–Lemeshow goodness-of-fit over a scored (z, y) frame — the
    * SIGNIFICANCE companion to [[calibOfVg]]'s reliability diagram
    * (the diagram shows the miscalibration; HL decides whether it is
    * beyond chance): per z-space decile bin, observed positives O vs
    * expected E = Σσ(z), statistic Σ (O−E)²/(E(1−E/n)), df = used
    * bins − 2, verdict against the LITERAL χ² critical value. Bin
    * counts and O are exact integers; E is the 12-dp DECIMAL `exp`
    * sum; each bin term is one IEEE tree over exact operands rounded
    * to 12 dp into DECIMAL so the cross-bin sum is merge-order-free.
    * Degenerate bins (E ≤ 0 or E ≥ n — a constant-σ bin) are excluded
    * from both the statistic and df. NULL (not 0) verdict when the
    * test is undefined — df < 1 or no usable bins
    * ([[hlVerdictSql]]). ONE corpus scan past training, then 10-row
    * algebra. */
  def hosmerLemeshowOfScores(zz: DataFrame): DataFrame = {
    zz.selectExpr(s"${calibBinSql("z")} AS bin",
        "CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-z)) AS p", "y")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") > 0.5, 1L).otherwise(0L)).as("pos"),
        sum(round(col("p"), 12).cast(DecimalType(28, 12))).as("sp"))
      .agg(
        sum(col("n")).cast(LongType).as("n"),
        sum(col("pos")).cast(LongType).as("pos"),
        count(lit(1)).cast(LongType).as("n_bins"),
        sum(expr(s"CASE WHEN $hlUsedSql THEN 1 ELSE 0 END")).cast(LongType).as("n_bins_used"),
        expr(s"CAST(sum(CASE WHEN $hlUsedSql THEN $hlTermSql END) AS DOUBLE)").as("hl_stat"))
      .selectExpr("n", "pos", "n_bins", "n_bins_used",
        "n_bins_used - 2 AS df", "hl_stat",
        s"$hlVerdictSql AS significant")
  }

  /** ml_hosmer_lemeshow: the HL goodness-of-fit verdict for the GD
    * classifier's calibration — same training chain, same z-space bin
    * edges as [[mlCalibration]], so the three calibration gates
    * (diagram, Brier decomposition, HL test) all read the SAME bins.
    * (lazy — see [[mlCalibration]].) */
  lazy val mlHosmerLemeshow: QueryDef = QueryDef(
    "ml_hosmer_lemeshow",
    Some(s"""$trainedSql,
        ${bzSql(MarginSql, "b, w6")},
        c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN y > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
            sum(CAST(round(p, 12) AS DECIMAL(28,12))) AS sp
          FROM bz GROUP BY bin),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS pos,
            CAST(count(*) AS BIGINT) AS n_bins,
            CAST(sum(CASE WHEN $hlUsedSql THEN 1 ELSE 0 END) AS BIGINT) AS n_bins_used,
            CAST(sum(CASE WHEN $hlUsedSql THEN $hlTermSql END) AS DOUBLE) AS hl_stat
          FROM c)
        SELECT n, pos, n_bins, n_bins_used, n_bins_used - 2 AS df, hl_stat,
          $hlVerdictSql AS significant
        FROM t"""),
    (s, d) => hosmerLemeshowOfScores(gateScores(s, d)))

  // -------------------------------------------- isotonic calibration
  /** Exact 12-dp integer key of the rate sp/sn (both nonneg, sn > 0):
    * floor((2·sp·10¹² + sn)/(2·sn)) — half-up, the [[graft.Portable
    * .round6RatioSql]] construction with the numerator WIDENED
    * (DECIMAL(38,0) in Spark, HUGEINT in DuckDB) so sp·2·10¹² never
    * wraps at any corpus size; the divided result ≤ 10¹² always fits
    * BIGINT (Spark's `div` returns LONG, DuckDB's HUGEINT `//` is
    * cast back). Distinct rationals may COLLIDE at 12 dp — that only
    * ties the minimax, identically in both engines, since the fit is
    * DEFINED over these keys. */
  private def rate12KeySpark(sp: String, sn: String): String =
    s"((CAST($sp AS DECIMAL(38,0)) * 2000000000000 + $sn) div (2 * $sn))"
  private def rate12KeyDuck(sp: String, sn: String): String =
    s"CAST((CAST($sp AS HUGEINT) * 2000000000000 + $sn) // (2 * $sn) AS BIGINT)"

  /** Isotonic (PAV) calibration fit over a scored (z, y) frame — the
    * REPAIR step [[mlCalibration]]'s diagram and [[mlHosmerLemeshow]]'s
    * verdict motivate (a miscalibrated model's scores get replaced by
    * the isotonic fit before thresholding on business costs; Zadrozny
    * & Elkan 2002). Pool-adjacent-violators is inherently sequential,
    * but over the 10 z-space bins it has the exact MINIMAX closed form
    * fitted_i = max_{j≤i} min_{k≥i} mean(pos, n over bins j..k)
    * (Robertson–Wright–Dykstra 1988 §1.2) — 10-row algebra, fully
    * distributed-safe: the corpus collapses to ONE (bin, n, pos)
    * aggregate; intervals build off prefix sums at 10-row grain; the
    * 55 interval means compare as exact 12-dp integer keys
    * ([[rate12KeySpark]]) so min/max are integer operations, never
    * IEEE comparisons of rounded rationals. Output is monotone
    * non-decreasing by construction. */
  def isotonicOfScores(zz: DataFrame): DataFrame = {
    // bins 0..9 (a NULL z lands in 0); all algebra below is metadata-grain
    val c = Small(zz.selectExpr(s"${calibBinSql("z")} AS bin", "y")
      .groupBy(col("bin"))
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(when(col("y") > 0.5, 1L).otherwise(0L)).cast(LongType).as("pos")),
      calibEdges.size + 1, "isotonic bins")
    val wb = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = Small(c.withColumn("cp", sum(col("pos")).over(wb).cast(LongType))
      .withColumn("cn", sum(col("n")).over(wb).cast(LongType)), calibEdges.size + 1, "isotonic cumulatives")
    val iv = cum.selectExpr("bin AS jb", "cp AS jcp", "cn AS jcn", "pos AS jp", "n AS jn")
      .join(broadcast(cum.selectExpr("bin AS kb", "cp AS kcp", "cn AS kcn")),
        expr("jb <= kb"))
      .selectExpr("jb", "kb",
        s"${rate12KeySpark("(kcp - jcp + jp)", "(kcn - jcn + jn)")} AS rk")
    val fit = c.select(col("bin"))
      .join(broadcast(iv), expr("jb <= bin AND kb >= bin"))
      .groupBy(col("bin"), col("jb")).agg(min(col("rk")).as("mn"))
      .groupBy(col("bin")).agg(max(col("mn")).as("fitted"))
    c.join(broadcast(fit), Seq("bin"))
      .selectExpr("bin", "n", "pos",
        s"CAST(${rate12KeySpark("pos", "n")} AS DOUBLE) / 1000000000000.0 AS raw_rate",
        "CAST(fitted AS DOUBLE) / 1000000000000.0 AS iso_rate")
      .orderBy(col("bin"))
  }

  /** ml_isotonic_calibration: the isotonic repair of the GD
    * classifier's calibration — same training chain, same z-space bin
    * edges as [[mlCalibration]]/[[mlHosmerLemeshow]], so the
    * calibration tier's diagram, verdict, and repair all read the
    * SAME bins. (lazy — see [[mlCalibration]].) */
  lazy val mlIsotonicCalibration: QueryDef = QueryDef(
    "ml_isotonic_calibration",
    Some(s"""$trainedSql,
        bz AS (SELECT ${calibBinSql(MarginSql)} AS bin, y FROM b, w6),
        c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN y > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS pos
          FROM bz GROUP BY bin),
        cum AS (SELECT bin, n, pos,
            CAST(sum(pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp,
            CAST(sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn FROM c),
        iv AS (SELECT j.bin AS jb, k.bin AS kb,
            ${rate12KeyDuck("(k.cp - j.cp + j.pos)", "(k.cn - j.cn + j.n)")} AS rk
          FROM cum j JOIN cum k ON j.bin <= k.bin),
        mn AS (SELECT c.bin, iv.jb, min(iv.rk) AS mn
          FROM c JOIN iv ON iv.jb <= c.bin AND iv.kb >= c.bin GROUP BY 1, 2),
        ft AS (SELECT bin, max(mn) AS fitted FROM mn GROUP BY 1)
        SELECT c.bin, c.n, c.pos,
          CAST(${rate12KeyDuck("c.pos", "c.n")} AS DOUBLE) / 1000000000000.0 AS raw_rate,
          CAST(fitted AS DOUBLE) / 1000000000000.0 AS iso_rate
        FROM c JOIN ft ON c.bin = ft.bin ORDER BY c.bin"""),
    (s, d) => isotonicOfScores(gateScores(s, d)))

  // ------------------------------------------------ Poisson bootstrap
  /** Poisson(1) CDF thresholds in exact ppm (1e6·P(X ≤ k), k = 0..6;
    * beyond 6 the tail mass is 8.3e-5 — capped at 7). LITERALS shared
    * with the oracle: deriving them cross-engine would put a libm
    * `exp` ulp between the weight draws. */
  private val PoissonPpm = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L)
  val BootstrapReps = 16

  /** Poisson(1) weight by inverse CDF of a ppm-uniform expression. */
  private def poissonWSql(u: String): String = {
    val cases = PoissonPpm.zipWithIndex
      .map { case (t, k) => s"WHEN ($u) < $t THEN $k" }.mkString(" ")
    s"CASE $cases ELSE 7 END"
  }

  /** ml_bootstrap_ci: bootstrap confidence interval for a corpus mean
    * by the POISSON bootstrap (Chamandy et al., "Estimating Uncertainty
    * for Massive Data Streams", Google 2012) — the resampling scheme
    * that actually distributes: classic bootstrap draws n rows WITH
    * replacement per replicate (a global shuffle per replicate);
    * Poisson(1) weights depend only on the row itself, so ALL
    * `BootstrapReps` replicates ride ONE
    * map-combinable aggregate over a 16-way per-row explode — no
    * shuffle of the corpus, ever. Weights derive from the
    * content-stable h60 (reproducible under any partitioning); the
    * Poisson inverse-CDF uses exact ppm literals shared with the
    * oracle. Replicate means are exact-DECIMAL sums divided once;
    * the CI readout is the replicate min/max envelope (16 reps) next
    * to the point estimate — all order-free statistics. */
  /** Per-replicate uniform ppm draw from one shared row hash: the
    * minhash affine family ((A_r·hm + B_r) mod P) mod 1e6 — ONE md5
    * per row feeds all [[BootstrapReps]] replicates. NOT iid per
    * (row, replicate): across replicates the draws for one row are a
    * pairwise-dependent affine family of the single hash, and the
    * final mod 1e6 carries a ~5e-4 bias (P is not a multiple of 1e6)
    * — both statistically negligible for a 16-rep min/max envelope
    * (each replicate's marginal is near-uniform and rows stay
    * independent), but callers wanting true per-(row, rep)
    * independence should hash h60(key || ':' || rep) instead at the
    * cost of [[BootstrapReps]] md5s per row. */
  private def bootstrapUSql(r: Int): String =
    s"((${graft.Portable.A(r)} * hm + ${graft.Portable.B(r)}) % ${graft.Portable.P}) % 1000000"

  lazy val mlBootstrapCi: QueryDef = QueryDef(
    "ml_bootstrap_ci",
    Some {
      // all replicates as aggregate COLUMNS of one scan: no explode,
      // no replicate-keyed shuffle — the shape that holds at 100 TB
      val repAggs = (0 until BootstrapReps).map { rr =>
        val w = poissonWSql(bootstrapUSql(rr))
        s"""CAST(sum(($w) * CAST(v AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s$rr,
           CAST(sum($w) AS BIGINT) AS n$rr"""
      }.mkString(",\n          ")
      val means = (0 until BootstrapReps).map(rr => s"CAST(s$rr AS DOUBLE) / n$rr")
      s"""WITH x AS (SELECT
          ${graft.Portable.h60Sql("(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR))")} % ${graft.Portable.P} AS hm,
          l_extendedprice AS v FROM lineitem),
        ag AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(CAST(sum(CAST(v AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) / count(*) AS est_mean,
          $repAggs
          FROM x)
        SELECT n_rows, est_mean, CAST($BootstrapReps AS BIGINT) AS n_reps,
          least(${means.mkString(", ")}) AS boot_lo,
          greatest(${means.mkString(", ")}) AS boot_hi,
          (least(${means.mkString(", ")}) <= est_mean
            AND est_mean <= greatest(${means.mkString(", ")})) AS covers_point
        FROM ag"""
    },
    (s, d) => {
      val x = Tables.lineitem(s, d)
        .select(graft.Portable.h60(
            concat(col("l_orderkey").cast("string"), lit(":"),
              col("l_linenumber").cast("string"))).mod(graft.Portable.P).as("hm"),
          col("l_extendedprice").as("v"))
      val repAggs = (0 until BootstrapReps).flatMap { rr =>
        val w = poissonWSql(bootstrapUSql(rr))
        Seq(expr(s"CAST(sum(($w) * CAST(v AS DECIMAL(18,2))) AS DECIMAL(38,2))").as(s"s$rr"),
          expr(s"CAST(sum($w) AS BIGINT)").as(s"n$rr"))
      }
      val base = Seq(
        count(lit(1)).cast(LongType).as("n_rows"),
        expr("CAST(CAST(sum(CAST(v AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) / count(*)").as("est_mean"))
      val means = (0 until BootstrapReps).map(rr => s"CAST(s$rr AS DOUBLE) / n$rr")
      x.agg((base ++ repAggs).head, (base ++ repAggs).tail: _*)
        .selectExpr("n_rows", "est_mean", s"CAST($BootstrapReps AS BIGINT) AS n_reps",
          s"least(${means.mkString(", ")}) AS boot_lo",
          s"greatest(${means.mkString(", ")}) AS boot_hi",
          s"""(least(${means.mkString(", ")}) <= est_mean
            AND est_mean <= greatest(${means.mkString(", ")})) AS covers_point""")
    })

  // ------------------------------------------------- confusion / MCC
  /** Confusion counts at the z > 0 operating point (σ(z) > ½) over a
    * scored (z, y) frame — ONE map-combinable aggregate. */
  def confusionOfScores(zz: DataFrame): DataFrame =
    zz.agg(
      expr("CAST(sum(CASE WHEN z > 0 AND y > 0.5 THEN 1 ELSE 0 END) AS BIGINT)").as("tp"),
      expr("CAST(sum(CASE WHEN z > 0 AND y < 0.5 THEN 1 ELSE 0 END) AS BIGINT)").as("fp"),
      expr("CAST(sum(CASE WHEN NOT (z > 0) AND y > 0.5 THEN 1 ELSE 0 END) AS BIGINT)").as("fn"),
      expr("CAST(sum(CASE WHEN NOT (z > 0) AND y < 0.5 THEN 1 ELSE 0 END) AS BIGINT)").as("tn"))

  /** The F1/MCC readout fragments over (tp, fp, fn, tn) — shared
    * token-for-token with the oracle. MCC's numerator runs in
    * DECIMAL(19,0)×BIGINT products (tp·tn wraps int64 past ~3e9×3e9
    * — the q77 lesson); the denominator's 4-way product can reach
    * ~1e48, past ANY decimal, so it stays a DOUBLE tree (exact
    * inputs, correctly-rounded ops — engine-identical). Degenerate
    * marginals (a column or row of zeros) surface NULL via CASE in
    * both engines. */
  private val f1Expr =
    "CASE WHEN 2 * tp + fp + fn > 0 THEN CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END"
  private val mccExpr =
    """CASE WHEN (tp + fp) > 0 AND (tp + fn) > 0 AND (tn + fp) > 0 AND (tn + fn) > 0
       THEN CAST(CAST(tp AS DECIMAL(19,0)) * tn - CAST(fp AS DECIMAL(19,0)) * fn AS DOUBLE)
         / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE) * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)) END"""

  /** The F1/MCC readout over a (tp, fp, fn, tn) counts frame — the
    * gated fragments applied as one one-row projection (exposed for
    * the closed-form fixture in `Round9Spec`). */
  def confusionReadout(cm: DataFrame): DataFrame =
    cm.selectExpr("tp", "fp", "fn", "tn", s"$f1Expr AS f1", s"$mccExpr AS mcc")

  /** ml_confusion_mcc: the confusion matrix at the natural operating
    * point (σ(z) > ½ ⇔ z > 0) with F1 and Matthews correlation — the
    * single-threshold companion to the sweep (MCC is the one scalar
    * that stays honest under class imbalance; Chicco–Jurman 2020).
    * Composes the shared scoring surface: ONE training pass, ONE
    * corpus scan, exact-integer counts, readout algebra at one-row
    * grain. (lazy — see [[mlCalibration]].) */
  lazy val mlConfusionMcc: QueryDef = QueryDef(
    "ml_confusion_mcc",
    Some(s"""$scoredSql,
        cm AS (SELECT
            CAST(sum(CASE WHEN z > 0 AND y > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(sum(CASE WHEN z > 0 AND y < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(sum(CASE WHEN NOT (z > 0) AND y > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
            CAST(sum(CASE WHEN NOT (z > 0) AND y < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tn
          FROM zz)
        SELECT tp, fp, fn, tn, $f1Expr AS f1, $mccExpr AS mcc FROM cm"""),
    (s, d) => confusionReadout(confusionOfScores(gateScores(s, d))))

  // ------------------------------------------- ml_conformal_interval
  /** ml_conformal_interval: SPLIT-CONFORMAL prediction interval for
    * the linear probe (Vovk's inductive conformal; Lei et al. 2018,
    * "Distribution-Free Predictive Inference for Regression") — the
    * finite-sample-guaranteed error bar a pipeline publishes next to
    * a point forecast. `l_orderkey % 4` splits the corpus: folds
    * {0,1} train the [[linearProbe]] OLS, fold 2 calibrates, fold 3
    * is the held-out audit. The calibration radius is the
    * ⌈(1−α)(n_cal+1)⌉-th SMALLEST absolute residual (α = 0.1) —
    * the rank computed in PURE BIGINT, ⌈9(n+1)/10⌉ = (9(n+1)+9) div
    * 10, never a float that could land ±1 off the guarantee — and
    * the held-out coverage must then be ≥ 90% in expectation; `ok`
    * pins ≥ 0.88 (finite-sample slack).
    *
    * Determinism: train weights are the Cramer fixed-order IEEE tree
    * over DECIMAL moments (bit-equal in both engines), residuals the
    * shared scoring tree, so the calibration order statistic — an
    * ACTUAL residual value — and every coverage comparison are
    * bit-identical; the surfaced coverage is the pure-BIGINT 6-dp
    * ratio.
    *
    * 100 TB shape: ONE map-combinable moment aggregate over the train
    * folds (the corpus never shuffles to train), residuals a map-only
    * pass with the weights broadcast, and the calibration quantile
    * the multi-pass narrowing SELECTION ([[ExactPercentiles
    * .orderStatistics]]) — never a sort shuffle, no executor holds
    * more than a 2^16 histogram; the oracle takes the independent
    * row_number route (oracle-only sort). */
  val mlConformal = QueryDef(
    "ml_conformal_interval",
    Some(s"""WITH li AS (SELECT l_orderkey % 4 AS s, l_quantity, l_discount, l_extendedprice FROM lineitem),
      m AS (SELECT ${gramMomentsSql(yy = false)}
        FROM li WHERE s <= 1),
      w AS (SELECT CAST(n AS BIGINT) AS n_train,
        $detA0 / $detA AS w0, $detA1 / $detA AS w1, $detA2 / $detA AS w2 FROM m),
      ar AS (SELECT li.s,
          abs(li.l_extendedprice - (w.w0 + w.w1 * li.l_quantity + w.w2 * li.l_discount)) AS ar
        FROM li, w WHERE li.s >= 2),
      kk AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
          CAST((9 * (count(*) + 1) + 9) // 10 AS BIGINT) AS k_cal
        FROM ar WHERE s = 2),
      q AS (SELECT kk.n_cal, kk.k_cal, c.ar AS qhat
        FROM kk, (SELECT ar, row_number() OVER (ORDER BY ar) AS rk FROM ar WHERE s = 2) c
        WHERE c.rk = kk.k_cal),
      t AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
          CAST(sum(CASE WHEN ar.ar <= q.qhat THEN 1 ELSE 0 END) AS BIGINT) AS covered
        FROM ar, q WHERE ar.s = 3)
      SELECT w.n_train, q.n_cal, t.n_test, q.k_cal, q.qhat,
        2 * q.qhat AS width,
        ${graft.Portable.round6RatioDuck("t.covered", "t.n_test")} AS coverage,
        (${graft.Portable.round6RatioDuck("t.covered", "t.n_test")} >= 0.88) AS ok
      FROM w, q, t"""),
    (s, d) => {
      conformalInterval(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"),
        col("l_discount"), col("l_extendedprice")))
    })

  /** Split-conformal readout over a lineitem-shaped frame — see
    * [[mlConformal]]. Splits on `l_orderkey % 4`: {0,1} train, 2
    * calibration, 3 held-out. */
  def conformalInterval(raw: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val li = raw.select(expr("l_orderkey % 4").as("s"),
      col("l_quantity"), col("l_discount"), col("l_extendedprice"))
    val m = gramMoments(li.filter(col("s") <= 1), yy = false)
    val w = Small(m.selectExpr("CAST(n AS BIGINT) AS n_train",
      s"$detA0 / $detA AS w0", s"$detA1 / $detA AS w1", s"$detA2 / $detA AS w2"), 1, "conformal weights")
    val ar = scope.persist(li.filter(col("s") >= 2).crossJoin(broadcast(w.drop("n_train")))
      .select(col("s"),
        expr("abs(l_extendedprice - (w0 + w1 * l_quantity + w2 * l_discount))").as("ar")))
    val kk = Small(ar.filter(col("s") === 2)
      .agg(count(lit(1)).cast(LongType).as("n_cal"))
      .selectExpr("n_cal", "(9 * (n_cal + 1) + 9) div 10 AS k_cal"), 1, "conformal rank")
    val ranks = kk.select(lit("cal").as("g"), (col("k_cal") - 1).as("k"))
    val qv = ExactPercentiles.orderStatistics(
      ar.filter(col("s") === 2).withColumn("g", lit("cal")), "g", "ar", ranks)
      .select(col("value").as("qhat"))
    val q = Small(kk.crossJoin(broadcast(qv)), 1, "conformal quantile")
    val t = Small(ar.filter(col("s") === 3).crossJoin(broadcast(q.select(col("qhat"))))
      .agg(count(lit(1)).cast(LongType).as("n_test"),
        sum(when(col("ar") <= col("qhat"), 1L).otherwise(0L)).cast(LongType).as("covered")),
      1, "conformal coverage")
    w.select(col("n_train")).crossJoin(broadcast(q)).crossJoin(broadcast(t))
      .selectExpr("n_train", "n_cal", "n_test", "k_cal", "qhat",
        "2 * qhat AS width",
        s"${graft.Portable.round6RatioSpark("covered", "n_test")} AS coverage",
        s"(${graft.Portable.round6RatioSpark("covered", "n_test")} >= 0.88) AS ok")
  }

  // ------------------------------------------ ml_feature_importance
  /** Leave-one-out sub-model fragments over the 10 Gram moments —
    * normal-equations identities, so NO residual pass is ever needed:
    * for any OLS fit, SSE = syy − Σ wᵢ·(X'y)ᵢ. Every fragment is a
    * fixed-order IEEE tree shared token-for-token with the oracle. */
  private val fiDet2 = "(n * s22 - s2 * s2)" // drop l_quantity: keep (1, discount)
  private val fiSse2 = s"(syy - ((sy * s22 - s2 * s2y) / $fiDet2) * sy" +
    s" - ((n * s2y - s2 * sy) / $fiDet2) * s2y)"
  private val fiDet1 = "(n * s11 - s1 * s1)" // drop l_discount: keep (1, quantity)
  private val fiSse1 = s"(syy - ((sy * s11 - s1 * s1y) / $fiDet1) * sy" +
    s" - ((n * s1y - s1 * sy) / $fiDet1) * s1y)"
  private val fiSseF =
    s"(syy - ($detA0 / $detA) * sy - ($detA1 / $detA) * s1y - ($detA2 / $detA) * s2y)"
  private val fiSst = "(syy - sy * sy / n)"
  private val fiR2Full = s"(1 - $fiSseF / $fiSst)"
  private val fiR2DropQty = s"(1 - $fiSse2 / $fiSst)"
  private val fiR2DropDisc = s"(1 - $fiSse1 / $fiSst)"
  private val fiDQty = s"($fiR2Full - $fiR2DropQty)"
  private val fiDDisc = s"($fiR2Full - $fiR2DropDisc)"


  /** ml_feature_importance: leave-one-out ΔR² per feature of the
    * [[linearProbe]] OLS — "how much fit does each signal actually
    * buy" (the ablation readout a feature pipeline runs before paying
    * a feature's storage/compute at scale; LOO refit is the linear
    * form of permutation importance without the permutation RNG).
    * For each feature: the full-model weight, full R², the R² of the
    * model REFIT without it, ΔR², and its share of total ΔR².
    *
    * The whole readout is ONE map-combinable DECIMAL moment aggregate
    * + 1-row algebra: every sub-model refit is a 2×2 Cramer solve on
    * the SAME moment row, and every SSE uses the normal-equations
    * identity SSE = syy − w·X'y — no residual pass, no second scan,
    * nothing but the one aggregate at ANY corpus size (the k-fold
    * moment-arithmetic trick taken to its logical end). */
  val mlFeatureImportance = QueryDef(
    "ml_feature_importance",
    Some(s"""WITH m AS (SELECT ${gramMomentsSql(yy = true)} FROM lineitem)
      SELECT * FROM (
        SELECT 'l_discount' AS feature, round($detA2 / $detA, 6) AS w_full,
          round($fiR2Full, 6) AS r2_full, round($fiR2DropDisc, 6) AS r2_drop,
          round($fiDDisc, 6) AS delta_r2,
          round($fiDDisc / ($fiDQty + $fiDDisc), 6) AS share
        FROM m
        UNION ALL
        SELECT 'l_quantity', round($detA1 / $detA, 6),
          round($fiR2Full, 6), round($fiR2DropQty, 6), round($fiDQty, 6),
          round($fiDQty / ($fiDQty + $fiDDisc), 6)
        FROM m) r ORDER BY feature"""),
    (s, d) => featureImportance(Tables.lineitem(s, d)
      .select(col("l_quantity"), col("l_discount"), col("l_extendedprice"))))

  /** LOO ΔR² readout over a (l_quantity, l_discount, l_extendedprice)
    * frame — see [[mlFeatureImportance]]. */
  def featureImportance(li: DataFrame): DataFrame = {
    val m = gramMoments(li, yy = true)
    m.selectExpr(s"""stack(2,
        'l_discount', round($detA2 / $detA, 6), round($fiR2Full, 6),
          round($fiR2DropDisc, 6), round($fiDDisc, 6),
          round($fiDDisc / ($fiDQty + $fiDDisc), 6),
        'l_quantity', round($detA1 / $detA, 6), round($fiR2Full, 6),
          round($fiR2DropQty, 6), round($fiDQty, 6),
          round($fiDQty / ($fiDQty + $fiDDisc), 6))
        AS (feature, w_full, r2_full, r2_drop, delta_r2, share)""")
      .orderBy(col("feature"))
  }

  // ---------------------------------------------- ml_learning_curve
  /** Held-out SSE from MOMENTS ALONE — the quadratic identity
    * SSE = y'y − 2·w'X'y + w'X'Xw expanded over the 10 test moments,
    * evaluated on the (w0, w1, w2) columns of the layer below; one
    * shared token string, so both engines build the identical
    * fixed-order IEEE tree. */
  private val lcSseT =
    """(syy_t - 2 * (w0 * sy_t + w1 * s1y_t + w2 * s2y_t)
       + (w0 * w0 * n_t + w1 * w1 * s11_t + w2 * w2 * s22_t
          + 2 * w0 * w1 * s1_t + 2 * w0 * w2 * s2_t + 2 * w1 * w2 * s12_t))"""

  /** ml_learning_curve: held-out RMSE/R² of the [[linearProbe]] OLS
    * as the training set grows (folds {0}, {0,1}, {0,1,2},
    * {0,1,2,3} of `l_orderkey % 5`, fold 4 fixed as the test set) —
    * the "is more data still buying fit" diagnosis every practitioner
    * draws before scaling a pipeline 10×.
    *
    * The entire curve costs ONE map-combinable pass: per-fold DECIMAL
    * moment sums (kept decimal), cumulative training moments as EXACT
    * decimal additions over the 5-row fold frame (the k-fold
    * total−fold trick, cumulative form), each point's weights a 3×3
    * Cramer solve, and the held-out error needs NO residual scan —
    * SSE over the test fold comes from the quadratic moment identity
    * y'y − 2·w'X'y + w'X'Xw on the test fold's own 10 moments. Zero
    * corpus shuffles, zero second scans, at any corpus size. */
  val mlLearningCurve = QueryDef(
    "ml_learning_curve",
    Some(s"""WITH li AS (SELECT l_orderkey % 5 AS fold, l_quantity, l_discount, l_extendedprice FROM lineitem),
      fm AS (SELECT fold, ${foldMomentsSql(yy = true)}
        FROM li GROUP BY fold),
      ks AS (SELECT 1 AS k UNION ALL SELECT 2 UNION ALL SELECT 3 UNION ALL SELECT 4),
      tr AS (SELECT ks.k, CAST(sum(cnt) AS DOUBLE) AS n,
        CAST(sum(d1) AS DOUBLE) AS s1, CAST(sum(d2) AS DOUBLE) AS s2,
        CAST(sum(dy) AS DOUBLE) AS sy, CAST(sum(d11) AS DOUBLE) AS s11,
        CAST(sum(d12) AS DOUBLE) AS s12, CAST(sum(d22) AS DOUBLE) AS s22,
        CAST(sum(d1y) AS DOUBLE) AS s1y, CAST(sum(d2y) AS DOUBLE) AS s2y
        FROM ks JOIN fm ON fm.fold < ks.k GROUP BY ks.k),
      te AS (SELECT CAST(cnt AS DOUBLE) AS n_t,
        CAST(d1 AS DOUBLE) AS s1_t, CAST(d2 AS DOUBLE) AS s2_t,
        CAST(dy AS DOUBLE) AS sy_t, CAST(d11 AS DOUBLE) AS s11_t,
        CAST(d12 AS DOUBLE) AS s12_t, CAST(d22 AS DOUBLE) AS s22_t,
        CAST(d1y AS DOUBLE) AS s1y_t, CAST(d2y AS DOUBLE) AS s2y_t,
        CAST(dyy AS DOUBLE) AS syy_t
        FROM fm WHERE fold = 4),
      w AS (SELECT k, CAST(n AS BIGINT) AS n_train,
        $detA0 / $detA AS w0, $detA1 / $detA AS w1, $detA2 / $detA AS w2 FROM tr),
      r AS (SELECT w.k, w.n_train, te.n_t, te.syy_t, te.sy_t, $lcSseT AS sse FROM w, te)
      SELECT k, n_train, CAST(n_t AS BIGINT) AS n_test,
        round(sqrt(sse / n_t), 6) AS rmse_test,
        round(1 - sse / (syy_t - sy_t * sy_t / n_t), 6) AS r2_test
      FROM r ORDER BY k"""),
    (s, d) => learningCurve(s, Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_discount"), col("l_extendedprice"))))

  /** Learning-curve readout over a lineitem-shaped frame — see
    * [[mlLearningCurve]]. */
  def learningCurve(s: SparkSession, raw: DataFrame): DataFrame = {
    val li = raw.select(expr("l_orderkey % 5").as("fold"),
      col("l_quantity"), col("l_discount"), col("l_extendedprice"))
    // folds −4..4 and NULL (l_orderkey % 5); the one corpus scan runs once
    val fm = Small(foldMoments(li, yy = true), 10, "learning-curve fold moments")
    import s.implicits._
    val ks = Seq(1, 2, 3, 4).toDF("k")
    val tr = broadcast(ks).join(broadcast(fm), col("fold") < col("k"))
      .groupBy(col("k")).agg(
        sum(col("cnt")).cast(DoubleType).as("n"),
        sum(col("d1")).cast(DoubleType).as("s1"), sum(col("d2")).cast(DoubleType).as("s2"),
        sum(col("dy")).cast(DoubleType).as("sy"), sum(col("d11")).cast(DoubleType).as("s11"),
        sum(col("d12")).cast(DoubleType).as("s12"), sum(col("d22")).cast(DoubleType).as("s22"),
        sum(col("d1y")).cast(DoubleType).as("s1y"), sum(col("d2y")).cast(DoubleType).as("s2y"))
    val te = fm.filter(col("fold") === 4).selectExpr(
      "CAST(cnt AS DOUBLE) AS n_t", "CAST(d1 AS DOUBLE) AS s1_t",
      "CAST(d2 AS DOUBLE) AS s2_t", "CAST(dy AS DOUBLE) AS sy_t",
      "CAST(d11 AS DOUBLE) AS s11_t", "CAST(d12 AS DOUBLE) AS s12_t",
      "CAST(d22 AS DOUBLE) AS s22_t", "CAST(d1y AS DOUBLE) AS s1y_t",
      "CAST(d2y AS DOUBLE) AS s2y_t", "CAST(dyy AS DOUBLE) AS syy_t")
    val w = tr.selectExpr("k", "CAST(n AS BIGINT) AS n_train",
      s"$detA0 / $detA AS w0", s"$detA1 / $detA AS w1", s"$detA2 / $detA AS w2")
    w.crossJoin(broadcast(te))
      .selectExpr("k", "n_train", "n_t", "syy_t", "sy_t", s"$lcSseT AS sse")
      .selectExpr("k", "n_train", "CAST(n_t AS BIGINT) AS n_test",
        "round(sqrt(sse / n_t), 6) AS rmse_test",
        "round(1 - sse / (syy_t - sy_t * sy_t / n_t), 6) AS r2_test")
      .orderBy(col("k"))
  }

  // ------------------------------------------------ ml_ks_two_sample
  /** Shared KS readout fragments over (na, nb, nv, mx): D in the
    * exact cross-multiplied form max|cumA·nB − cumB·nA| / (nA·nB)
    * (the numerator maximized as DECIMAL(38,0) — cum·n products pass
    * int64 at corpus scale), λ = D·√(nA·nB/(nA+nB)) (sqrt is a
    * correctly-rounded IEEE op), and the α=0.05 decision against the
    * asymptotic critical constant 1.358 (a literal — evaluating the
    * Kolmogorov series would put a libm exp() ulp between the
    * engines). */
  private val ksD = "(CAST(mx AS DOUBLE) / (CAST(na AS DOUBLE) * nb))"
  private val ksLambda =
    s"($ksD * sqrt(CAST(na AS DOUBLE) * nb / (CAST(na AS DOUBLE) + nb)))"

  /** ml_ks_two_sample: exact two-sample Kolmogorov–Smirnov test of
    * `l_extendedprice` between return flags A and N — "did the
    * distribution drift between the two populations" (the
    * nonparametric drift gate feature pipelines run next to PSI; KS
    * needs no binning choices). D = sup|F_A − F_B| is computed
    * EXACTLY at every observed value — not on a sample, not on
    * quantile sketches.
    *
    * The distributed shape is the point: a naive exact KS sorts the
    * merged samples globally (the one thing a 100 TB column must
    * never do). Here the corpus collapses to VALUE grain (one keyed
    * shuffle with per-side conditional counts), and the running
    * ECDFs come from the budget_select two-level scan — range
    * partition on value, task-local cumulative sums, and the
    * #partitions-row exclusive offset scan broadcast back; the sup
    * is then one map-combinable max of the exact integer deviation.
    * Partition-count invariant (global cum = base + local cum is
    * exact integer arithmetic).
    *
    * Determinism: every cumulative count is an exact BIGINT, the
    * deviation numerator an exact DECIMAL(38,0), and D/λ fixed-order
    * IEEE trees over those exacts shared token-for-token; the oracle
    * takes the independent single-node window-sort route. */
  val mlKsTwoSample = QueryDef(
    "ml_ks_two_sample",
    Some(s"""WITH v AS (SELECT l_extendedprice AS x,
        CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS ia,
        CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS ib
      FROM lineitem WHERE l_returnflag IN ('A', 'N')),
      vg AS (SELECT x, CAST(sum(ia) AS BIGINT) AS ca, CAST(sum(ib) AS BIGINT) AS cb
        FROM v GROUP BY x),
      cum AS (SELECT x,
        CAST(sum(ca) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
        CAST(sum(cb) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb
        FROM vg),
      nn AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
        CAST(count(*) AS BIGINT) AS nv FROM vg),
      dev AS (SELECT max(abs(CAST(cuma AS DECIMAL(19,0)) * nn.nb
          - CAST(cumb AS DECIMAL(19,0)) * nn.na)) AS mx
        FROM cum, nn)
      SELECT na AS n_a, nb AS n_b, nv AS n_values,
        $ksD AS d, $ksLambda AS lambda,
        ($ksLambda > 1.358) AS reject_05
      FROM nn, dev"""),
    (s, d) => ksTwoSample(Tables.lineitem(s, d)
      .filter(col("l_returnflag").isin("A", "N"))
      .select(col("l_extendedprice").as("x"),
        when(col("l_returnflag") === "A", 1L).otherwise(0L).as("ia"),
        when(col("l_returnflag") === "N", 1L).otherwise(0L).as("ib"))))

  /** Exact distributed KS over an (x, ia, ib) indicator frame —
    * see [[mlKsTwoSample]]. Persists its load-bearing ranked frame
    * through the caller's [[graft.CacheScope]] (like every sibling
    * operator) so library-composed calls can reclaim the cache. */
  def ksTwoSample(v: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    import org.apache.spark.sql.functions.spark_partition_id
    val vg = v.groupBy(col("x")).agg(
      sum(col("ia")).cast(LongType).as("ca"), sum(col("ib")).cast(LongType).as("cb"))
    // value-grain two-level scan (the budget_select shape): persist
    // PINS one physical range partitioning for both consumers
    val ranked = scope.persist(vg
      .repartitionByRange(col("x"))
      .withColumn("pid", spark_partition_id())
      .withColumn("lca", sum(col("ca")).over(
        Window.partitionBy(col("pid")).orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("lcb", sum(col("cb")).over(
        Window.partitionBy(col("pid")).orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val wo = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranked.groupBy(col("pid"))
      .agg(max(col("lca")).as("pa"), max(col("lcb")).as("pb"))
      .select(col("pid"),
        coalesce(sum(col("pa")).over(wo), lit(0L)).as("basea"),
        coalesce(sum(col("pb")).over(wo), lit(0L)).as("baseb"))
    val nn = Small(vg.agg(sum(col("ca")).cast(LongType).as("na"),
      sum(col("cb")).cast(LongType).as("nb"),
      count(lit(1)).cast(LongType).as("nv")), 1, "ks totals")
    val dev = Small(ranked.join(broadcast(offsets), Seq("pid"))
      .crossJoin(broadcast(nn))
      .selectExpr("""abs(CAST(basea + lca AS DECIMAL(19,0)) * nb
        - CAST(baseb + lcb AS DECIMAL(19,0)) * na) AS dv""")
      .agg(max(col("dv")).as("mx")), 1, "ks max deviation")
    nn.crossJoin(broadcast(dev))
      .selectExpr("na AS n_a", "nb AS n_b", "nv AS n_values",
        s"$ksD AS d", s"$ksLambda AS lambda", s"($ksLambda > 1.358) AS reject_05")
  }

  // ----------------------------------------------------------- q58
  /** q58: last-touch marketing attribution — every purchase is
    * credited to its user's most recent click/view STRICTLY before it
    * (in the (ts, event_id) total order) and within a 1-hour window,
    * else to 'none'; output is the per-channel conversion count and
    * share. The engine is the q19/q48 union-merge plan: ONE
    * user-keyed shuffle, the touch rides as a struct(ts, event_id,
    * channel) whose running `max` over the strictly-preceding frame
    * IS the latest touch (struct order = the oracle's `ts DESC,
    * event_id DESC` pick), and the 1-hour tolerance is a per-row mask
    * — exact because the carried touch is the latest overall: if IT
    * is stale, every earlier touch is staler (the q48 argument), so
    * filtering after the pick equals the oracle's pick-after-filter.
    * The oracle takes the independent join + row_number route
    * (quadratic in per-user activity — oracle-only), which
    * cross-checks the window semantics rather than mirroring them. */
  val q58 = QueryDef(
    "q58_attribution",
    Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      t AS (SELECT event_id, user_id, ts, event_type FROM events WHERE event_type IN ('click', 'view')),
      j AS (SELECT p.event_id, t.event_type AS ch,
          row_number() OVER (PARTITION BY p.event_id ORDER BY t.ts DESC, t.event_id DESC) AS rk
        FROM p JOIN t ON t.user_id = p.user_id
          AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id))
          AND t.ts >= p.ts - INTERVAL 1 HOUR),
      a AS (SELECT p.event_id, COALESCE(j.ch, 'none') AS channel
        FROM p LEFT JOIN j ON j.event_id = p.event_id AND j.rk = 1),
      c AS (SELECT channel, count(*) AS n FROM a GROUP BY channel),
      s AS (SELECT sum(n) AS tot FROM c)
      SELECT c.channel, c.n, round(CAST(c.n AS DOUBLE) / s.tot, 6) AS share
      FROM c, s ORDER BY c.channel"""),
    (s, d) => lastTouchAttribution(
      Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id"), col("event_type"))))

  /** Last-touch attribution over an event stream — see [[q58]]. Input
    * needs (user_id, ts, event_id, event_type); returns per-channel
    * (channel, n, share). */
  def lastTouchAttribution(ev: DataFrame,
      touchTypes: Seq[String] = Seq("click", "view"),
      conversionType: String = "purchase"): DataFrame = {
    val tagged = ev.withColumn("touch",
      when(col("event_type").isin(touchTypes.map(x => x: Any): _*),
        struct(col("ts").as("tts"), col("event_id").as("tid"), col("event_type").as("ch"))))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val att = tagged.withColumn("lt", max(col("touch")).over(w))
      .filter(col("event_type") === conversionType)
      .select(when(col("lt").isNotNull &&
          col("lt.tts") >= col("ts") - expr("INTERVAL 1 HOUR"), col("lt.ch"))
        .otherwise(lit("none")).as("channel"))
    // one row per touch type plus 'none', brought to the driver: the
    // user-keyed window scan behind it runs once for both consumers
    val c = Small(att.groupBy(col("channel")).agg(count(lit(1)).as("n")),
      touchTypes.distinct.size + 1, "channel counts")
    val tot = c.agg(sum(col("n")).as("tot"))
    c.crossJoin(broadcast(tot))
      .select(col("channel"), col("n"),
        round(col("n").cast(DoubleType) / col("tot"), 6).as("share"))
      .orderBy(col("channel"))
  }

  // ----------------------------------------------------------- q59
  /** Welch's t statistic as a shared SQL fragment (same string in
    * `selectExpr` and the oracle — identical fixed-order IEEE tree):
    * t = (x̄ₐ − x̄ᵦ) / √(s²ₐ/nₐ + s²ᵦ/nᵦ), the unequal-variance form
    * every experimentation platform defaults to. */
  private val welchT =
    "(sa / na - sb / nb) / sqrt((saa - sa * sa / na) / (na - 1) / na + (sbb - sb * sb / nb) / (nb - 1) / nb)"

  /** q59: A/B test readout — the experimentation staple: users are
    * hash-split into two arms (parity of user_id — any content-stable
    * gate works; the split rule is shared with the oracle), and each
    * event type gets a Welch two-sample t on `value` plus the
    * \|t\| > 1.96 significance flag. ONE map-combinable aggregate
    * produces both arms' DECIMAL moments per type (conditional sums —
    * the corpus is scanned once, shuffled once on the tiny type key);
    * the statistic is a fixed-order IEEE expression SHARED
    * token-for-token with the oracle, so even the boolean flag
    * compares bit-identically. On the synthetic corpus the arms are
    * exchangeable by construction, so flags land false — the planted
    * AnalyticsSpec fixture pins the true-positive path. Singleton or
    * empty arms NULL the t columns explicitly (na/nb > 1 guard):
    * Spark NULLs a double ÷0 where DuckDB yields ±Inf, so unguarded
    * skewed splits would flip the gate. */
  val q59 = QueryDef(
    "q59_ab_test",
    Some(s"""WITH m AS (SELECT event_type,
        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS sa,
        CAST(sum(CASE WHEN user_id % 2 = 1 THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS sb,
        CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(value * value AS DECIMAL(28,8)) END) AS DOUBLE) AS saa,
        CAST(sum(CASE WHEN user_id % 2 = 1 THEN CAST(value * value AS DECIMAL(28,8)) END) AS DOUBLE) AS sbb
      FROM events GROUP BY event_type)
      SELECT event_type, na, nb,
        round(sa / na, 6) AS mean_a, round(sb / nb, 6) AS mean_b,
        CASE WHEN na > 1 AND nb > 1 THEN round($welchT, 6) END AS t_stat,
        CASE WHEN na > 1 AND nb > 1 THEN abs($welchT) > 1.96 END AS significant
      FROM m ORDER BY event_type"""),
    (s, d) => abTest(Tables.events(s, d)
      .select(col("event_type"), col("user_id"), col("value"))))

  /** Welch A/B readout over (event_type, user_id, value) rows — see
    * [[q59]]. The arm split is `user_id % 2`. */
  def abTest(ev: DataFrame): DataFrame = {
    val armA = expr("user_id % 2 = 0")
    val m = ev.groupBy(col("event_type")).agg(
      sum(when(armA, 1L).otherwise(0L)).as("na"),
      sum(when(!armA, 1L).otherwise(0L)).as("nb"),
      sum(when(armA, col("value").cast(DecimalType(18, 6)))).cast(DoubleType).as("sa"),
      sum(when(!armA, col("value").cast(DecimalType(18, 6)))).cast(DoubleType).as("sb"),
      sum(when(armA, (col("value") * col("value")).cast(DecimalType(28, 8)))).cast(DoubleType).as("saa"),
      sum(when(!armA, (col("value") * col("value")).cast(DecimalType(28, 8)))).cast(DoubleType).as("sbb"))
    m.selectExpr("event_type", "na", "nb",
        "round(sa / na, 6) AS mean_a", "round(sb / nb, 6) AS mean_b",
        s"CASE WHEN na > 1 AND nb > 1 THEN round($welchT, 6) END AS t_stat",
        s"CASE WHEN na > 1 AND nb > 1 THEN abs($welchT) > 1.96 END AS significant")
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------- ml_logreg_gd
  /** Learning rate and round budget for the distributed
    * logistic-regression gradient descent — FIXED schedule shared
    * with the unrolled oracle (the gate pins the training loop, not a
    * convergence claim; callers raise `rounds` via [[logregGd]]). */
  val GdLr = 0.01
  val GdRounds = 3

  /** σ(z) − y as a shared SQL fragment over (x1, x2, y) rows and the
    * weight columns (wa, wb, wc) — the same string runs in
    * `selectExpr` and the oracle, so every sigmoid, every gradient
    * term, and every weight update is the identical fixed-order IEEE
    * tree in both engines. */
  private def residExpr = "(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-(wa + wb * x1 + wc * x2))) - y)"
  private def gradSql(xTerm: String) =
    s"CAST(sum(CAST(round($residExpr$xTerm, 12) AS DECIMAL(28,12))) AS DOUBLE)"

  /** ml_logreg_gd: logistic regression trained DISTRIBUTED by batch
    * gradient descent — the canonical "does distributed training
    * reproduce?" operator. Each round is ONE map-combinable gradient
    * aggregate (σ-residual terms rounded to 12 dp and summed as
    * DECIMAL(28,12) — merge-order-free; a last-ulp exp divergence
    * moves one term ≤ 1e-12, the `corpus_ngram_lm` discipline) with
    * the weights as literals, collected as one row; the weight update
    * runs on the driver. The corpus is scanned once per round and
    * NEVER shuffled; the weights never leave the driver but as
    * literals — MLlib's batch-GD shape. The audit pass
    * (log-loss + accuracy) reuses the same discipline; accuracy
    * decides via `z > 0 ⇔ σ(z) > ½` in exact comparisons. */
  /** The full GD training CHAIN: one-row (wa, wb, wc) weight frames
    * after 0, 1, ..., `rounds` updates of ONE training run —
    * `chain(i)` is bitwise the `logregWeights(b, lr, i)` result (the
    * i-round weights are a prefix of the same fixed-order update
    * sequence). The paired-comparison gates (McNemar/kappa/Cochran/
    * Spearman/Wilcoxon/model-compare) need 2–3 round counts of the
    * SAME schedule; training each separately re-ran the shared prefix
    * (3+2+1 = 6 gradient passes where 3 suffice) — guide §1.2: remove
    * passes that recompute what a previous pass already produced. The
    * row count rides the gradient aggregate itself (`count(1)` in the
    * same map-combinable fold) instead of a separate `b.count()` job,
    * removing one full corpus pass per training run; n is the same
    * exact BIGINT either way, so the lr·g/n update is bit-identical. */
  def logregWeightsChain(b: DataFrame, lr: Double = GdLr,
      rounds: Int = GdRounds): IndexedSeq[DataFrame] = {
    val names = Seq("wa", "wb", "wc")
    // the 3 weights stay on the driver: a round is ONE gradient
    // aggregate with the weights as literals, collected as one row,
    // and the SQL update `w - lr * (g / n)` in the same operand order
    // (one IEEE op each, as Spark's generated code does). A NULL
    // gradient (empty b) gives a NULL weight, as the SQL does.
    Iterator.iterate(Seq.fill(3)(Option(0.0))) { w =>
      val Array(g) = b.withColumns(names.zip(w.map(x => lit(x.getOrElse(null)).cast(DoubleType))).toMap)
        .agg(count(lit(1)).cast(LongType).as("cnt"), expr(gradSql("")).as("g0"),
          expr(gradSql(" * x1")).as("g1"), expr(gradSql(" * x2")).as("g2"))
        .collect()
      w.zipWithIndex.map { case (wi, i) =>
        for (x <- wi; gi <- Option(g.get(i + 1))) yield x - lr * (gi.asInstanceOf[Double] / g.getLong(0).toDouble)
      }
    }.take(rounds + 1).map(w => b.sparkSession.createDataFrame(
      java.util.List.of(Row.fromSeq(w.map(_.getOrElse(null)))),
      StructType(names.map(StructField(_, DoubleType))))).toIndexedSeq
  }

  /** The GD training loop alone: returns the one-row (wa, wb, wc)
    * weight frame after `rounds` — shared by [[logregGd]] and the
    * threshold sweep. */
  def logregWeights(b: DataFrame, lr: Double = GdLr, rounds: Int = GdRounds): DataFrame =
    logregWeightsChain(b, lr, rounds).last

  /** The PUBLISHED weights: training weights rounded to the 6-dp
    * precision the ml_logreg_gd gate pins. Scoring queries (threshold
    * sweep, lift deciles, calibration) must score with THESE, not the
    * raw training doubles: the raw weights differ across engines at
    * the last ulp (each 12-dp gradient-term rounding has small odds
    * of a shortest-repr vs exact-binary boundary hit — near-certain
    * somewhere at 600k-term scale), and an ulp in w shifts every tied
    * z group together, so any threshold sitting in the dense z region
    * moves whole groups — the sf0.1 gate caught ml_lift_deciles
    * moving ~600 rows across one decile edge exactly this way. The
    * 6-dp rounding is the one the ml_logreg_gd gate already proves
    * identical in both engines on this corpus. */
  def logregWeights6(b: DataFrame, lr: Double = GdLr, rounds: Int = GdRounds): DataFrame =
    round6(logregWeights(b, lr, rounds))

  /** 6-dp publication rounding of a one-row weight frame — a lazy
    * projection over the training output, which is already a local
    * frame (the GD chain steps its weights on the driver). */
  private def round6(w: DataFrame): DataFrame =
    w.selectExpr("round(wa, 6) AS wa", "round(wb, 6) AS wb", "round(wc, 6) AS wc")

  /** Oracle twin of [[logregWeights6]] — appended after
    * `logregCtes(rounds)`. */
  private def w6Cte(rounds: Int): String =
    s"w6 AS (SELECT round(wa, 6) AS wa, round(wb, 6) AS wb, round(wc, 6) AS wc FROM w$rounds)"

  /** Oracle head of the single-model ML gates: the unrolled returnflag
    * training ([[logregCtes]]) and its published 6-dp weights `w6`. */
  private def trainedSql: String = s"${logregCtes(GdRounds)},\n        ${w6Cte(GdRounds)}"

  /** The single-model gates' scored margins: the shared feature frame
    * (persisted — training and scoring both read it), trained once
    * ([[logregWeights6]]) and scored ([[scoreWith]]). */
  private def gateScores(s: SparkSession, d: String)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val b = scope.persist(mlFeatures(s, d))
    scoreWith(b, logregWeights6(b))
  }

  /** Oracle twin of [[gateScores]]: training, `w6`
    * and the scored margins `zz(z, y)`; `ctes` swaps in another label
    * ([[logregCtesFor]]). */
  private def scoredSql(ctes: String): String =
    s"""$ctes,
        ${w6Cte(GdRounds)},
        zz AS (SELECT $MarginSql AS z, y FROM b, w6)"""
  private def scoredSql: String = scoredSql(logregCtes(GdRounds))

  /** The linear margin of a (x1, x2) row under weights (wa, wb, wc). */
  private val MarginSql = "(wa + wb * x1 + wc * x2)"

  /** Oracle twin of [[vgOfScores]]: `vg(z, p, q)` off `zz`. */
  private val vgSql =
    """vg AS (SELECT z, CAST(sum(CASE WHEN y > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS p,
            CAST(sum(CASE WHEN y < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS q
          FROM zz GROUP BY z)"""

  /** Exact ROC-AUC of the one-row (n1, n0, u2) totals. */
  private val aucSql = "CAST(u2 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))"

  /** Oracle twin of [[rocAucOfScores]] off `vg`: the ascending running
    * negatives `cum`, the totals `cn(n1, n0, n_values)` and `uu(u2)`. */
  private val rocCtesSql =
    """cum AS (SELECT z, p, q,
            CAST(sum(q) OVER (ORDER BY z ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lq FROM vg),
        cn AS (SELECT CAST(sum(p) AS BIGINT) AS n1, CAST(sum(q) AS BIGINT) AS n0,
            CAST(count(*) AS BIGINT) AS n_values FROM vg),
        uu AS (SELECT CAST(sum(CAST(p AS DECIMAL(19,0)) * (2 * (lq - q) + q)) AS DECIMAL(38,0)) AS u2 FROM cum)"""

  /** Oracle twin of [[delongCumScal]] + [[delongReadout]] off `vg`:
    * `cum(z, p, q, cp, cq)`, `scal(n1, n0, u2)`, the placement sums and
    * `sev(n1, n0, auc_roc, se_delong)`. */
  private def delongCtesSql: String =
    s"""cum AS (SELECT z, p, q,
            CAST(sum(p) OVER (ORDER BY z ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp,
            CAST(sum(q) OVER (ORDER BY z ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cq FROM vg),
        scal AS (SELECT CAST(sum(p) AS BIGINT) AS n1, CAST(sum(q) AS BIGINT) AS n0,
            CAST(sum(CAST(p AS DECIMAL(19,0)) * (2 * (cq - q) + q)) AS DECIMAL(38,0)) AS u2
          FROM cum),
        sums AS (SELECT
            sum(CAST(round(CAST(p AS DOUBLE) * ((CAST(2 * (cq - q) + q AS DOUBLE) / (2.0 * CAST(n0 AS DOUBLE)) - $aucSql) * (CAST(2 * (cq - q) + q AS DOUBLE) / (2.0 * CAST(n0 AS DOUBLE)) - $aucSql)), 12) AS DECIMAL(28,12))) AS s10n,
            sum(CAST(round(CAST(q AS DOUBLE) * ((CAST(2 * (n1 - cp) + p AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)) - $aucSql) * (CAST(2 * (n1 - cp) + p AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)) - $aucSql)), 12) AS DECIMAL(28,12))) AS s01n
          FROM cum, scal),
        va AS (SELECT n1, n0,
            $aucSql AS auc_roc,
            CAST(s10n AS DOUBLE) / CAST(n1 - 1 AS DOUBLE) / CAST(n1 AS DOUBLE) + CAST(s01n AS DOUBLE) / CAST(n0 - 1 AS DOUBLE) / CAST(n0 AS DOUBLE) AS var_auc
          FROM scal, sums),
        sev AS (SELECT n1, n0, auc_roc, sqrt(var_auc) AS se_delong FROM va)"""

  /** Oracle twin of [[averagePrecisionOfScores]] off `vg`: descending
    * running counts `cum` ([[apCumSql]]), then the 12-dp term sum
    * `ap(ap_num)` ([[apSumSql]]). */
  private def apCumSql(cum: String): String =
    s"""$cum AS (SELECT z, p, q,
            CAST(sum(p) OVER (ORDER BY z DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ctp,
            CAST(sum(q) OVER (ORDER BY z DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cfp FROM vg)"""
  private def apSumSql(cum: String, ap: String): String =
    s"""tm AS (SELECT CAST(round(CAST(p AS DOUBLE) * CAST(ctp AS DOUBLE)
            / CAST(ctp + cfp AS DOUBLE), 12) AS DECIMAL(28,12)) AS t FROM $cum WHERE p > 0),
        $ap AS (SELECT sum(t) AS ap_num FROM tm)"""

  /** The z-space calibration bin (0–9) of margin `z`: exp-free
    * comparisons against the shared logit edges, in both engines. */
  private def calibBinSql(z: String): String =
    calibEdges.map(e => s"(CASE WHEN $z >= CAST($e AS DOUBLE) THEN 1 ELSE 0 END)").mkString(" + ")

  /** Oracle: `bz(bin, p, y)` — each row's calibration bin and σ(z). */
  private def bzSql(z: String, from: String): String =
    s"""bz AS (SELECT ${calibBinSql(z)} AS bin,
            CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-$z)) AS p, y FROM $from)"""

  /** Oracle twin of [[brierOfScores]] off `bz`: bins `c`, totals `t`,
    * per-bin terms and their sums `s(nt, post, sbst, srel, sres)`. */
  private val brierCtesSql =
    """c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN y > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
            sum(CAST(round(p, 12) AS DECIMAL(28,12))) AS sp,
            sum(CAST(round((p - y) * (p - y), 12) AS DECIMAL(28,12))) AS sbs
          FROM bz GROUP BY bin),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(pos) AS BIGINT) AS post,
            sum(sbs) AS sbst FROM c),
        terms AS (SELECT nt, post, sbst,
            CAST(round(CAST(n AS DOUBLE) * (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS DECIMAL(28,12)) AS relt,
            CAST(round(CAST(n AS DOUBLE) * (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)), 12) AS DECIMAL(28,12)) AS rest
          FROM c, t),
        s AS (SELECT nt, post, sbst, sum(relt) AS srel, sum(rest) AS sres
          FROM terms GROUP BY nt, post, sbst)"""

  /** Oracle twin of [[shapLinear]] over `b` and `w6`: means `mo`/`mm`
    * and the attribution sums `ag(a1, a2)`. */
  private val shapCtesSql =
    """mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
            sum(CAST(round(x1, 12) AS DECIMAL(28,12))) AS sx1,
            sum(CAST(round(x2, 12) AS DECIMAL(28,12))) AS sx2 FROM b),
        mm AS (SELECT CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
            CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2 FROM mo),
        ag AS (SELECT
            sum(CAST(round(abs(wb * (x1 - m1)), 12) AS DECIMAL(28,12))) AS a1,
            sum(CAST(round(abs(wc * (x2 - m2)), 12) AS DECIMAL(28,12))) AS a2
          FROM b, mm, w6)"""

  /** Oracle: the 9-row threshold grid `th(t, e)` of [[sweepOfVg]] —
    * t = 0.1 … 0.9 with its logit edge as a driver-computed literal
    * (NOT a per-engine ln(): libm ln can differ in the last ulp), the
    * same list the calibration bins use. */
  private def thresholdGridSql: String = {
    val edges = calibEdges.map(e => s"CAST($e AS DOUBLE)").mkString("[", ", ", "]")
    s"th AS (SELECT CAST(i AS DOUBLE) / 10 AS t, $edges[i] AS e FROM (SELECT unnest(range(1, 10)) AS i))"
  }

  /** Oracle: exact per-threshold (tp, fp, fn) of margin `z` over `from`
    * and `th`, as CTE `name` with the given key and count names. */
  private def sweepCountsSql(name: String, key: String, z: String, from: String,
      tp: String, fp: String, fn: String): String =
    s"""$name AS (SELECT $key,
            CAST(sum(CASE WHEN $z > th.e AND y > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS $tp,
            CAST(sum(CASE WHEN $z > th.e AND y < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS $fp,
            CAST(sum(CASE WHEN NOT ($z > th.e) AND y > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS $fn
          FROM $from, th GROUP BY th.t)"""

  def logregGd(b0: DataFrame, lr: Double = GdLr, rounds: Int = GdRounds): DataFrame = {
    val b = b0 // (x1, x2, y) rows
    val w = logregWeights(b, lr, rounds)
    b.crossJoin(broadcast(w)).agg(
        count(lit(1)).as("n"),
        expr("""CAST(sum(CAST(round(-(y * ln(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-(wa + wb * x1 + wc * x2))))
             + (CAST(1 AS DOUBLE) - y) * ln(CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-(wa + wb * x1 + wc * x2))))), 12) AS DECIMAL(28,12))) AS DOUBLE)""").as("lsum"),
        expr("CAST(sum(CASE WHEN ((wa + wb * x1 + wc * x2) > 0) = (y > 0.5) THEN 1 ELSE 0 END) AS BIGINT)").as("ncorrect"),
        first(col("wa")).as("wa"), first(col("wb")).as("wb"), first(col("wc")).as("wc"))
      .selectExpr("n",
        "round(wa, 6) AS w0", "round(wb, 6) AS w1", "round(wc, 6) AS w2",
        "round(lsum / n, 6) AS logloss",
        "round(CAST(ncorrect AS DOUBLE) / n, 6) AS accuracy")
  }

  /** Oracle CTE block `b / nn / w0..wR` for the GD loop — shared by
    * the ml_logreg_gd and ml_threshold_sweep gates so both verify the
    * SAME unrolled training. */
  private def logregCtes(rounds: Int): String = logregCtesFor(
    """CASE WHEN l_returnflag = 'R' THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END""",
    rounds)

  /** [[logregCtes]] with a caller-supplied label expression over
    * lineitem — the unrolled training ladder is label-agnostic, and
    * the C2ST gate trains on a TIME-SPLIT label instead of the
    * returnflag one. */
  private def logregCtesFor(ySql: String, rounds: Int): String = {
    val base = s"""b AS (SELECT l_quantity AS x1, l_discount AS x2,
          $ySql AS y
        FROM lineitem),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM b),
        w0 AS (SELECT CAST(0 AS DOUBLE) AS wa, CAST(0 AS DOUBLE) AS wb, CAST(0 AS DOUBLE) AS wc)"""
    val sb = new StringBuilder(s"WITH $base")
    for (it <- 1 to rounds) {
      sb.append(s""",
        g$it AS (SELECT ${gradSql("")} AS g0, ${gradSql(" * x1")} AS g1, ${gradSql(" * x2")} AS g2
          FROM b, w${it - 1}),
        w$it AS (SELECT wa - CAST($GdLr AS DOUBLE) * (g0 / n) AS wa,
            wb - CAST($GdLr AS DOUBLE) * (g1 / n) AS wb,
            wc - CAST($GdLr AS DOUBLE) * (g2 / n) AS wc
          FROM w${it - 1}, g$it, nn)""")
    }
    sb.toString
  }

  val mlLogregGd = QueryDef(
    "ml_logreg_gd",
    Some(s"""${logregCtes(GdRounds)}
        SELECT CAST(nn.n AS BIGINT) AS n,
          round(wa, 6) AS w0, round(wb, 6) AS w1, round(wc, 6) AS w2,
          round(CAST(sum(CAST(round(-(y * ln(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-(wa + wb * x1 + wc * x2))))
             + (CAST(1 AS DOUBLE) - y) * ln(CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-(wa + wb * x1 + wc * x2))))), 12) AS DECIMAL(28,12))) AS DOUBLE) / nn.n, 6) AS logloss,
          round(CAST(sum(CASE WHEN ((wa + wb * x1 + wc * x2) > 0) = (y > 0.5) THEN 1 ELSE 0 END) AS DOUBLE) / nn.n, 6) AS accuracy
        FROM b, w$GdRounds, nn GROUP BY nn.n, wa, wb, wc"""),
    (s, d) => logregGd(graft.CacheScope.untracked.persist(mlFeatures(s, d))))

  // ----------------------------------------------------------- q60
  /** q60: PSI drift monitor — the ML-monitoring staple (population
    * stability index between a REFERENCE window and the CURRENT one;
    * > 0.2 is the industry "investigate" threshold). The stream is
    * split at the exact integer midpoint of its time range; each
    * type's reference half fixes 10 equi-width value bins (one
    * fixed-order IEEE bin expression shared with the oracle — clamped,
    * so current-half outliers land in the edge bins); PSI is
    * Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) over add-one-smoothed bin frequencies with
    * the 12-dp DECIMAL term discipline. Scale shape: one global
    * (min,max) timestamp aggregate, one per-type reference range
    * aggregate (broadcast), ONE (type, half, bin)-grain count shuffle,
    * then everything is |types|×10 rows; the full 10-bin grid is
    * enumerated on both sides so empty bins contribute their smoothed
    * terms identically. */
  val q60 = QueryDef(
    "q60_psi_drift",
    Some(s"""WITH ev AS (SELECT event_type, epoch_us(ts) + ${graft.Portable.EpochWeekOffsetUs} AS us, value FROM events),
      m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
      h AS (SELECT event_type, CASE WHEN us <= m.mid THEN 0 ELSE 1 END AS half, value FROM ev, m),
      rng AS (SELECT event_type, min(value) AS mnv, max(value) AS mxv FROM h WHERE half = 0 GROUP BY event_type),
      binned AS (SELECT h.event_type, h.half,
          CASE WHEN r.mxv = r.mnv THEN 0
               ELSE least(9, greatest(0, CAST(floor((h.value - r.mnv) * 10 / (r.mxv - r.mnv)) AS INT))) END AS bin
        FROM h JOIN rng r ON h.event_type = r.event_type),
      cnt AS (SELECT event_type, half, bin, count(*) AS c FROM binned GROUP BY 1, 2, 3),
      tot AS (SELECT event_type,
          CAST(sum(CASE WHEN half = 0 THEN c ELSE 0 END) AS DOUBLE) AS nref,
          CAST(sum(CASE WHEN half = 1 THEN c ELSE 0 END) AS DOUBLE) AS ncur
        FROM cnt GROUP BY 1),
      grid AS (SELECT r.event_type, i AS bin FROM rng r, (SELECT unnest(range(0, 10)) AS i)),
      cells AS (SELECT g.event_type, g.bin,
          CAST(COALESCE(cr.c, 0) AS DOUBLE) AS cref, CAST(COALESCE(cc.c, 0) AS DOUBLE) AS ccur
        FROM grid g
        LEFT JOIN cnt cr ON cr.event_type = g.event_type AND cr.bin = g.bin AND cr.half = 0
        LEFT JOIN cnt cc ON cc.event_type = g.event_type AND cc.bin = g.bin AND cc.half = 1),
      psi AS (SELECT c.event_type, t.nref, t.ncur,
          CAST(sum(CAST(round(((c.cref + 1) / (t.nref + 10) - (c.ccur + 1) / (t.ncur + 10)) * ln(((c.cref + 1) / (t.nref + 10)) / ((c.ccur + 1) / (t.ncur + 10))), 12) AS DECIMAL(28,12))) AS DOUBLE) AS psi
        FROM cells c JOIN tot t ON c.event_type = t.event_type
        GROUP BY c.event_type, t.nref, t.ncur)
      SELECT event_type, CAST(nref AS BIGINT) AS n_ref, CAST(ncur AS BIGINT) AS n_cur,
        round(psi, 6) AS psi, psi > 0.2 AS drift
      FROM psi ORDER BY event_type"""),
    (s, d) => psiDrift(Tables.events(s, d).select(col("event_type"), col("ts"), col("value"))))

  /** The q60 bin assignment — clamped equi-width decile over the
    * reference range (mnv, mxv). ONE shared fragment: the batch
    * oracle, the batch engine, and the streaming drift plane all
    * evaluate this exact string, so a value lands in the same bin
    * everywhere. */
  val PsiBinExpr: String =
    """CASE WHEN mxv = mnv THEN 0
         ELSE least(9, greatest(0, CAST(floor((value - mnv) * 10 / (mxv - mnv)) AS INT))) END"""

  /** Per-type reference range (mnv, mxv) of a static frame — the
    * broadcast side of the streaming drift plane. */
  def psiReferenceRange(ref: DataFrame): DataFrame =
    ref.groupBy(col("event_type"))
      .agg(min(col("value")).as("mnv"), max(col("value")).as("mxv"))

  /** PSI drift readout over (event_type, ts, value) rows — see
    * [[q60]]. */
  def psiDrift(ev0: DataFrame): DataFrame = {
    // session TZ is UTC, so the NTZ→TIMESTAMP cast is the identity on
    // the underlying micros (same integers DuckDB's epoch_us reads).
    // EpochWeekOffsetUs keeps the midpoint division on NON-NEGATIVE
    // epochs (trunc == floor); `us <= mid` is shift-invariant.
    val ev = ev0.select(col("event_type"),
      expr(s"unix_micros(CAST(ts AS TIMESTAMP)) + ${graft.Portable.EpochWeekOffsetUs}").as("us"),
      col("value"))
    val m = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val h = ev.crossJoin(broadcast(m))
      .select(col("event_type"),
        when(col("us") <= col("mid"), 0).otherwise(1).as("half"), col("value"))
    val rng = h.filter(col("half") === 0).groupBy(col("event_type"))
      .agg(min(col("value")).as("mnv"), max(col("value")).as("mxv"))
    val binned = h.join(broadcast(rng), Seq("event_type"))
      .select(col("event_type"), col("half"), expr(PsiBinExpr).as("bin"))
    // |types| × 2 × 10 rows — the event-type domain sets the size, so
    // no constant bounds it: an eager checkpoint, so one corpus count
    // shuffle feeds grid, totals, and cells
    val cnt = binned.groupBy(col("event_type"), col("half"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val tot = cnt.groupBy(col("event_type")).agg(
      sum(when(col("half") === 0, col("c")).otherwise(0L)).cast(DoubleType).as("nref"),
      sum(when(col("half") === 1, col("c")).otherwise(0L)).cast(DoubleType).as("ncur"))
    val grid = rng.select(col("event_type"))
      .crossJoin(broadcast(ev.sparkSession.range(0, 10).select(col("id").cast("int").as("bin"))))
    val cr = cnt.filter(col("half") === 0).select(col("event_type"), col("bin"), col("c").as("c_ref"))
    val cc = cnt.filter(col("half") === 1).select(col("event_type"), col("bin"), col("c").as("c_cur"))
    val cells = grid
      .join(cr, Seq("event_type", "bin"), "left")
      .join(cc, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"),
        coalesce(col("c_ref"), lit(0L)).cast(DoubleType).as("cref"),
        coalesce(col("c_cur"), lit(0L)).cast(DoubleType).as("ccur"))
    cells.join(tot, Seq("event_type"))
      .groupBy(col("event_type"), col("nref"), col("ncur"))
      .agg(expr("""CAST(sum(CAST(round(((cref + 1) / (nref + 10) - (ccur + 1) / (ncur + 10)) * ln(((cref + 1) / (nref + 10)) / ((ccur + 1) / (ncur + 10))), 12) AS DECIMAL(28,12))) AS DOUBLE)""").as("psum"))
      .select(col("event_type"),
        col("nref").cast("long").as("n_ref"), col("ncur").cast("long").as("n_cur"),
        round(col("psum"), 6).as("psi"), (col("psum") > 0.2).as("drift"))
      .orderBy(col("event_type"))
  }

  // ----------------------------------------------------------- q61
  /** q61: top user journeys — the product-analytics "what do people
    * actually do?" readout: each (user, day)'s first 3 events in
    * (ts, event_id) order form a path string (`a>b>c`), and the
    * output is the 10 most common paths. ONE user/day-keyed window
    * (row_number ≤ 3) + a same-key ordered fold — `collect_list`
    * order is NOT deterministic under shuffles, so the fold sorts the
    * (rn, type) structs INSIDE the row (`array_sort` on exact
    * integers) before joining; the path aggregate shrinks to distinct
    * paths and the top-10 is a TakeOrderedAndProject, never a global
    * sort. Ties break on the path string — a total order in both
    * engines (ASCII event names). */
  val q61 = QueryDef(
    "q61_top_paths",
    Some("""WITH r AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts, event_id, event_type,
        row_number() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE) ORDER BY ts, event_id) AS rn
        FROM events),
      p AS (SELECT user_id, day, string_agg(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= 3 GROUP BY user_id, day)
      SELECT path, count(*) AS n FROM p GROUP BY path
      ORDER BY n DESC, path LIMIT 10"""),
    (s, d) => {
      val day = date_trunc("day", col("ts")).cast("date").as("day")
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), day, col("ts"), col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy(col("user_id"), col("day"))
        .agg(collect_list(struct(col("rn"), col("event_type").as("et"))).as("steps"))
        .select(expr("array_join(transform(array_sort(steps), x -> x.et), '>')").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(10)
    })

  // ------------------------------------------------------ ml_kfold_cv
  /** ml_kfold_cv: 5-fold cross-validated linear probe — the
    * evaluation discipline around [[linearProbe]] (train-set RMSE
    * flatters; CV is what a feature pipeline actually reports). The
    * distributed shape is the elegant one: ONE pass computes per-fold
    * DECIMAL moment sums, and each fold's TRAINING moments are
    * `total − fold` in EXACT decimal arithmetic (no second scan, no
    * per-fold filter jobs — 5-fold CV costs the same two passes as
    * one fit). The 5 Cramer solves run on a 5-row frame with the
    * SHARED [[linearProbe]] determinant fragments; held-out residuals
    * are one broadcast-join pass grouped by fold (10-dp DECIMAL
    * sums). Corpus scanned twice total, never shuffled. */
  val mlKfoldCv = QueryDef(
    "ml_kfold_cv",
    Some(s"""WITH li AS (SELECT l_orderkey % 5 AS fold, l_quantity, l_discount, l_extendedprice FROM lineitem),
      fm AS (SELECT fold, ${foldMomentsSql(yy = false)}
        FROM li GROUP BY fold),
      tot AS (SELECT sum(cnt) AS tcnt, sum(d1) AS t1, sum(d2) AS t2, sum(dy) AS ty,
          sum(d11) AS t11, sum(d12) AS t12, sum(d22) AS t22,
          sum(d1y) AS t1y, sum(d2y) AS t2y FROM fm),
      train AS (SELECT fold, cnt AS n_test,
          CAST(tcnt - cnt AS DOUBLE) AS n,
          CAST(t1 - d1 AS DOUBLE) AS s1, CAST(t2 - d2 AS DOUBLE) AS s2,
          CAST(ty - dy AS DOUBLE) AS sy,
          CAST(t11 - d11 AS DOUBLE) AS s11, CAST(t12 - d12 AS DOUBLE) AS s12,
          CAST(t22 - d22 AS DOUBLE) AS s22,
          CAST(t1y - d1y AS DOUBLE) AS s1y, CAST(t2y - d2y AS DOUBLE) AS s2y
        FROM fm, tot),
      w AS (SELECT fold, n_test, CAST(n AS BIGINT) AS n_train,
          $detA0 / $detA AS w0, $detA1 / $detA AS w1, $detA2 / $detA AS w2 FROM train),
      r AS (SELECT li.fold, CAST(sum(CAST(round(
            (l_extendedprice - (w.w0 + w.w1 * l_quantity + w.w2 * l_discount)) *
            (l_extendedprice - (w.w0 + w.w1 * l_quantity + w.w2 * l_discount)), 10)
          AS DECIMAL(38,10))) AS DOUBLE) AS sse
        FROM li JOIN w ON li.fold = w.fold GROUP BY li.fold)
      SELECT w.fold, w.n_train, w.n_test, round(sqrt(r.sse / w.n_test), 6) AS rmse
      FROM w JOIN r ON w.fold = r.fold ORDER BY w.fold"""),
    (s, d) => {
      val li = Tables.fanout(Tables.lineitem(s, d).select(expr("l_orderkey % 5").as("fold"),
        col("l_quantity"), col("l_discount"), col("l_extendedprice")))
      // exact DECIMAL sums of folds −4..4 and NULL (l_orderkey % 5) —
      // totals and train moments derive from them without touching
      // the corpus again
      val fm = Small(foldMoments(li, yy = false), 10, "kfold moments")
      val tot = fm.agg(sum(col("cnt")).as("tcnt"), sum(col("d1")).as("t1"),
        sum(col("d2")).as("t2"), sum(col("dy")).as("ty"),
        sum(col("d11")).as("t11"), sum(col("d12")).as("t12"), sum(col("d22")).as("t22"),
        sum(col("d1y")).as("t1y"), sum(col("d2y")).as("t2y"))
      val train = fm.crossJoin(broadcast(tot)).select(col("fold"), col("cnt").as("n_test"),
        (col("tcnt") - col("cnt")).cast(DoubleType).as("n"),
        (col("t1") - col("d1")).cast(DoubleType).as("s1"),
        (col("t2") - col("d2")).cast(DoubleType).as("s2"),
        (col("ty") - col("dy")).cast(DoubleType).as("sy"),
        (col("t11") - col("d11")).cast(DoubleType).as("s11"),
        (col("t12") - col("d12")).cast(DoubleType).as("s12"),
        (col("t22") - col("d22")).cast(DoubleType).as("s22"),
        (col("t1y") - col("d1y")).cast(DoubleType).as("s1y"),
        (col("t2y") - col("d2y")).cast(DoubleType).as("s2y"))
      val w = Small(train.selectExpr("fold", "n_test", "CAST(n AS BIGINT) AS n_train",
          s"$detA0 / $detA AS w0", s"$detA1 / $detA AS w1", s"$detA2 / $detA AS w2"), 10, "kfold weights")
      val r = li.join(broadcast(w.select(col("fold"), col("w0"), col("w1"), col("w2"))), Seq("fold"))
        .select(col("fold"), (col("l_extendedprice") -
          (col("w0") + col("w1") * col("l_quantity") + col("w2") * col("l_discount"))).as("resid"))
        .groupBy(col("fold"))
        .agg(sum(round(col("resid") * col("resid"), 10).cast(DecimalType(38, 10)))
          .cast(DoubleType).as("sse"))
      w.join(r, Seq("fold"))
        .select(col("fold"), col("n_train"), col("n_test"),
          round(sqrt(col("sse") / col("n_test")), 6).as("rmse"))
        .orderBy(col("fold"))
    })

  // ----------------------------------------------------------- q62
  /** q62: 2-D equi-width histogram (quantity × discount) — the
    * heat-map readout behind every BI scatter-density panel. One
    * global min/max aggregate broadcast back into a MAP-ONLY clamped
    * bin assignment (the q60 fixed-order IEEE expression shape,
    * shared with the oracle), then one (bx, dy)-grain count — the
    * corpus is scanned twice, shuffled only at 100-cell grain. */
  val q62 = QueryDef(
    "q62_histogram2d",
    Some("""WITH r AS (SELECT CAST(min(l_quantity) AS DOUBLE) AS mnq, CAST(max(l_quantity) AS DOUBLE) AS mxq,
        CAST(min(l_discount) AS DOUBLE) AS mnd, CAST(max(l_discount) AS DOUBLE) AS mxd FROM lineitem)
      SELECT least(9, CAST(floor((l_quantity - r.mnq) * 10 / (r.mxq - r.mnq)) AS INT)) AS qbin,
        least(9, CAST(floor((l_discount - r.mnd) * 10 / (r.mxd - r.mnd)) AS INT)) AS dbin,
        count(*) AS n
      FROM lineitem, r GROUP BY 1, 2 ORDER BY qbin, dbin"""),
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_quantity"), col("l_discount"))
      val r = li.agg(min(col("l_quantity")).cast(DoubleType).as("mnq"),
        max(col("l_quantity")).cast(DoubleType).as("mxq"),
        min(col("l_discount")).cast(DoubleType).as("mnd"),
        max(col("l_discount")).cast(DoubleType).as("mxd"))
      li.crossJoin(broadcast(r))
        .select(
          expr("least(9, CAST(floor((l_quantity - mnq) * 10 / (mxq - mnq)) AS INT))").as("qbin"),
          expr("least(9, CAST(floor((l_discount - mnd) * 10 / (mxd - mnd)) AS INT))").as("dbin"))
        .groupBy(col("qbin"), col("dbin")).agg(count(lit(1)).as("n"))
        .orderBy(col("qbin"), col("dbin"))
    })

  // ----------------------------------------------------------- q63
  /** q63: cumulative reach — distinct users ever seen, by day (the
    * growth curve every product dashboard opens with). First-touch
    * day per user is ONE map-combinable min aggregate; the rest
    * collapses to days-scale rows (first-touch counts per day, a
    * LEFT join against the active-day spine so gap days carry their
    * running value) and the cumulative window runs at metadata
    * scale. Exact integers end to end. */
  val q63 = QueryDef(
    "q63_cumulative_reach",
    Some("""WITH f AS (SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS d0
        FROM events GROUP BY user_id),
      days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
      nf AS (SELECT d0, count(*) AS nu FROM f GROUP BY d0)
      SELECT day,
        CAST(sum(COALESCE(nu, 0)) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS reach
      FROM days LEFT JOIN nf ON days.day = nf.d0 ORDER BY day"""),
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
      val f = ev.groupBy(col("user_id"))
        .agg(date_trunc("day", min(col("ts"))).cast("date").as("d0"))
      val days = ev.select(date_trunc("day", col("ts")).cast("date").as("day")).distinct()
      val nf = f.groupBy(col("d0")).agg(count(lit(1)).as("nu"))
      // days-scale rows: the global window is metadata scale
      val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      days.join(nf, days("day") === nf("d0"), "left")
        .select(col("day"), coalesce(col("nu"), lit(0L)).as("nu"))
        .select(col("day"), sum(col("nu")).over(w).as("reach"))
        .orderBy(col("day"))
    })

  // ----------------------------------------------------------- q64
  /** q64: RFM segmentation — the marketing-analytics staple: each
    * customer scored 1–5 on Recency (days since last order, lower
    * better), Frequency (order count), and Monetary (decimal-exact
    * spend), with quintile thresholds from the q39/q52 EXACT
    * distributed-selection machinery (bounded histogram passes — NO
    * task ever holds the customer table's metric column) broadcast
    * back into a MAP-ONLY scoring pass; output is the segment-grid
    * census. The customer rollup is one map-combinable aggregate;
    * the customer table is scanned, never sort-shuffled. Threshold
    * comparisons are strict `>` / `<` on identical doubles (the
    * interpolated percentile contract both engines share), so every
    * customer lands in the same cell in both engines. */
  val q64 = QueryDef(
    "q64_rfm",
    Some("""WITH mx AS (SELECT CAST(max(o_orderdate) AS DATE) AS gmax FROM orders),
      cust AS (SELECT o_custkey,
          CAST(date_diff('day', CAST(max(o_orderdate) AS DATE), mx.gmax) AS DOUBLE) AS r,
          CAST(count(*) AS DOUBLE) AS f,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS m
        FROM orders, mx GROUP BY o_custkey, mx.gmax),
      th AS (SELECT
          percentile_cont(0.2) WITHIN GROUP (ORDER BY r) AS r20,
          percentile_cont(0.4) WITHIN GROUP (ORDER BY r) AS r40,
          percentile_cont(0.6) WITHIN GROUP (ORDER BY r) AS r60,
          percentile_cont(0.8) WITHIN GROUP (ORDER BY r) AS r80,
          percentile_cont(0.2) WITHIN GROUP (ORDER BY f) AS f20,
          percentile_cont(0.4) WITHIN GROUP (ORDER BY f) AS f40,
          percentile_cont(0.6) WITHIN GROUP (ORDER BY f) AS f60,
          percentile_cont(0.8) WITHIN GROUP (ORDER BY f) AS f80,
          percentile_cont(0.2) WITHIN GROUP (ORDER BY m) AS m20,
          percentile_cont(0.4) WITHIN GROUP (ORDER BY m) AS m40,
          percentile_cont(0.6) WITHIN GROUP (ORDER BY m) AS m60,
          percentile_cont(0.8) WITHIN GROUP (ORDER BY m) AS m80
        FROM cust),
      sc AS (SELECT
          1 + (CASE WHEN r < r80 THEN 1 ELSE 0 END) + (CASE WHEN r < r60 THEN 1 ELSE 0 END)
            + (CASE WHEN r < r40 THEN 1 ELSE 0 END) + (CASE WHEN r < r20 THEN 1 ELSE 0 END) AS r_score,
          1 + (CASE WHEN f > f20 THEN 1 ELSE 0 END) + (CASE WHEN f > f40 THEN 1 ELSE 0 END)
            + (CASE WHEN f > f60 THEN 1 ELSE 0 END) + (CASE WHEN f > f80 THEN 1 ELSE 0 END) AS f_score,
          1 + (CASE WHEN m > m20 THEN 1 ELSE 0 END) + (CASE WHEN m > m40 THEN 1 ELSE 0 END)
            + (CASE WHEN m > m60 THEN 1 ELSE 0 END) + (CASE WHEN m > m80 THEN 1 ELSE 0 END) AS m_score
        FROM cust, th)
      SELECT r_score, f_score, m_score, count(*) AS n_customers
      FROM sc GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score"""),
    (s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      val mx = o.agg(max(col("o_orderdate")).cast("date").as("gmax"))
      val cust = o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).cast("date").as("last"),
          count(lit(1)).cast(DoubleType).as("f"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("m"))
        .crossJoin(broadcast(mx))
        .select(col("o_custkey"), datediff(col("gmax"), col("last")).cast(DoubleType).as("r"),
          col("f"), col("m"))
        .withColumn("grp", lit(0))
        .transform(graft.CacheScope.untracked.persist)
      // ONE selection run for all 12 thresholds: unpivot the three
      // metrics into (metric, value) rows and let the machinery's
      // per-group state carry them together (3 selection passes would
      // triple the scan count for no reason)
      val unpiv = cust.selectExpr("stack(3, 'r', r, 'f', f, 'm', m) AS (metric, mv)")
      val th = ExactPercentiles.percentiles(unpiv, "metric", "mv", Seq(0.2, 0.4, 0.6, 0.8),
        valueGrain = true) // day/count grains dominate the unpivot (r14)
        .groupBy(lit(0).as("grp0"))
        .agg(Seq("r", "f", "m").flatMap(me => Seq(20, 40, 60, 80).map(pp =>
          min(when(col("g") === me && col("p") === pp / 100.0, col("value")))
            .as(s"$me$pp"))).head,
          Seq("r", "f", "m").flatMap(me => Seq(20, 40, 60, 80).map(pp =>
            min(when(col("g") === me && col("p") === pp / 100.0, col("value")))
              .as(s"$me$pp"))).tail: _*)
        .drop("grp0")
      cust.crossJoin(broadcast(th))
        .selectExpr(
          """1 + (CASE WHEN r < r80 THEN 1 ELSE 0 END) + (CASE WHEN r < r60 THEN 1 ELSE 0 END)
             + (CASE WHEN r < r40 THEN 1 ELSE 0 END) + (CASE WHEN r < r20 THEN 1 ELSE 0 END) AS r_score""",
          """1 + (CASE WHEN f > f20 THEN 1 ELSE 0 END) + (CASE WHEN f > f40 THEN 1 ELSE 0 END)
             + (CASE WHEN f > f60 THEN 1 ELSE 0 END) + (CASE WHEN f > f80 THEN 1 ELSE 0 END) AS f_score""",
          """1 + (CASE WHEN m > m20 THEN 1 ELSE 0 END) + (CASE WHEN m > m40 THEN 1 ELSE 0 END)
             + (CASE WHEN m > m60 THEN 1 ELSE 0 END) + (CASE WHEN m > m80 THEN 1 ELSE 0 END) AS m_score""")
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("r_score"), col("f_score"), col("m_score"))
    })

  // ----------------------------------------------- ml_threshold_sweep
  /** ml_threshold_sweep: precision/recall across the decision-
    * threshold grid for the GD-trained classifier — the eval readout
    * that turns [[mlLogregGd]]'s one accuracy number into an
    * operating curve. The decision `σ(z) > t` is evaluated as
    * `z > logit(t)` (same monotone transform in both engines), so
    * the counts are EXACT integers; the 9-row threshold grid rides a
    * broadcast and the corpus is scanned ONCE past training. The
    * oracle shares the [[logregCtes]] unrolled-training block with
    * the ml_logreg_gd gate, so both gates verify the SAME weights. */
  val mlThresholdSweep = QueryDef(
    "ml_threshold_sweep",
    Some(s"""$trainedSql,
        $thresholdGridSql,
        ${sweepCountsSql("sc", "th.t", MarginSql, "b, w6", "tp", "fp", "fn")}
        SELECT t, tp, fp, fn,
          CASE WHEN tp + fp > 0 THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS prec,
          CASE WHEN tp + fn > 0 THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS rec
        FROM sc ORDER BY t"""),
    (s, d) => sweepOfVg(vgOfScores(gateScores(s, d))))

  // ------------------------------------------- cost-optimal threshold
  /** Business error costs (false-positive, false-negative) — LITERALS
    * shared with the oracle; asymmetric (a miss costs 5× a false
    * alarm), the shape that moves the operating point off 0.5. */
  val CostFp = 1L
  val CostFn = 5L

  /** Cost-optimal operating point over a scored (z, y) frame — the
    * decision [[sweepOfVg]]'s grid exists FOR (a threshold sweep
    * is only an intermediate; production picks the point minimizing
    * expected cost under the business's asymmetric error prices —
    * Elkan 2001, "The Foundations of Cost-Sensitive Learning"): per
    * grid threshold, cost = [[CostFp]]·fp + [[CostFn]]·fn in exact
    * BIGINTs, the argmin row flagged with the deterministic lowest-t
    * tiebreak. Grid algebra at 9-row grain past the ONE sweep scan. */
  def costOptOfScores(zz: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    // the 9 sweep thresholds feed the argmin and the output
    val grid = Small(sweepOfVg(vgOfScores(zz))
      .selectExpr("t", "tp", "fp", "fn", s"$CostFp * fp + $CostFn * fn AS cost"), 9, "cost grid")
    val best = grid.agg(min(col("cost")).as("min_cost"))
    val bestT = grid.crossJoin(broadcast(best))
      .filter(col("cost") === col("min_cost"))
      .agg(min(col("t")).as("best_t"))
    grid.crossJoin(broadcast(bestT))
      .selectExpr("t", "tp", "fp", "fn", "cost",
        "CAST(CASE WHEN t = best_t THEN 1 ELSE 0 END AS BIGINT) AS is_best")
      .orderBy(col("t"))
  }

  /** ml_threshold_cost_opt: the cost-optimal operating point for the
    * GD classifier under the published asymmetric costs — same
    * training chain and logit-edge grid as [[mlThresholdSweep]].
    * (lazy — see [[mlCalibration]].) */
  lazy val mlThresholdCostOpt: QueryDef = QueryDef(
    "ml_threshold_cost_opt",
    Some(s"""$trainedSql,
        $thresholdGridSql,
        ${sweepCountsSql("sc", "th.t", MarginSql, "b, w6", "tp", "fp", "fn")},
        cg AS (SELECT t, tp, fp, fn, $CostFp * fp + $CostFn * fn AS cost FROM sc),
        mn AS (SELECT min(cost) AS min_cost FROM cg),
        bt AS (SELECT min(t) AS best_t FROM cg, mn WHERE cg.cost = mn.min_cost)
        SELECT t, tp, fp, fn, cost,
          CAST(CASE WHEN t = best_t THEN 1 ELSE 0 END AS BIGINT) AS is_best
        FROM cg, bt ORDER BY t"""),
    (s, d) => costOptOfScores(gateScores(s, d)))

  // ----------------------------------------------------------- q65
  /** q65: week-over-week change report — the KPI-dashboard staple
    * (volume and value deltas per event type): one map-combinable
    * (type, week) aggregate, then weeks-scale rows only — the lag
    * window and the percent deltas run at metadata scale. Money is
    * carried as exact BIGINT cents (value cast to DECIMAL(18,2)
    * half-up identically in both engines, ×100, summed — merge-order
    * free) and BOTH percent deltas use [[graft.Portable.round6RatioSql]]'s
    * pure-integer half-away rounding: the r6 gate caught the
    * `round(<double division>, 6)` form diverging on a boundary
    * digit (Spark rounds the shortest decimal repr, DuckDB the exact
    * binary value — the same divergence q66's scaladoc documents),
    * so no double is divided before rounding anywhere in this query.
    * The only IEEE ops are the final `/1e6` and `/100` of exact
    * integers — bit-identical everywhere. */
  val q65 = QueryDef(
    "q65_wow_change",
    Some(s"""WITH w AS (SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS wk,
        count(*) AS n,
        CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS svc
        FROM events GROUP BY 1, 2),
      l AS (SELECT event_type, wk, n, svc,
          lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS pn,
          lag(svc) OVER (PARTITION BY event_type ORDER BY wk) AS psvc
        FROM w)
      SELECT event_type, wk, n, CAST(svc AS DOUBLE) / 100.0 AS total_value,
        CASE WHEN pn IS NOT NULL THEN ${graft.Portable.round6RatioDuck("(n - pn) * 100", "pn")} END AS n_wow_pct,
        CASE WHEN psvc IS NOT NULL AND psvc <> 0 THEN ${graft.Portable.round6RatioDuck("(svc - psvc) * 100", "psvc")} END AS value_wow_pct
      FROM l ORDER BY event_type, wk"""),
    (s, d) => {
      val w = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("week", col("ts")).cast("date").as("wk"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")).cast(LongType).as("svc"))
      val win = Window.partitionBy(col("event_type")).orderBy(col("wk"))
      w.withColumn("pn", lag(col("n"), 1).over(win))
        .withColumn("psvc", lag(col("svc"), 1).over(win))
        .selectExpr("event_type", "wk", "n", "CAST(svc AS DOUBLE) / 100.0 AS total_value",
          s"CASE WHEN pn IS NOT NULL THEN ${graft.Portable.round6RatioSpark("(n - pn) * 100", "pn")} END AS n_wow_pct",
          s"CASE WHEN psvc IS NOT NULL AND psvc <> 0 THEN ${graft.Portable.round6RatioSpark("(svc - psvc) * 100", "psvc")} END AS value_wow_pct")
        .orderBy(col("event_type"), col("wk"))
    })

  // ----------------------------------------------------------- q66
  /** χ² critical value at df = 6, α = 0.05 — the literal both engines
    * compare against, so the `skewed` boolean is gate-exact. */
  val Chi2Crit6 = 12.592

  /** q66: weekday-seasonality test per event type — the "is traffic
    * uniform across the week?" readout with a χ² goodness-of-fit
    * verdict. Day-of-week comes from EXACT integer epoch arithmetic
    * (`(days + 4) % 7`, Sunday = 0 — engine-portable, unlike the
    * engines' different dayofweek conventions); one (type, dow)
    * count aggregate, then |types|×7-row algebra. Epochs are shifted
    * by [[graft.Portable.EpochWeekOffsetUs]] (a week multiple) before
    * the day division, so pre-1970 rows get the CORRECT day label —
    * unshifted, both engines' truncating `//`/`div` would bin
    * 1969-12-31T12:00 as Thursday (r7 latent-divergence item, closed
    * r8; spec fixture in AnalyticsSpec). The χ² statistic is
    * computed in EXACT integer arithmetic: Σ(oᵢ − n/7)²/(n/7) =
    * Σ(7oᵢ − n)² / (7n), so the numerator is one DECIMAL(38,0) sum of
    * integer squares and the whole statistic is a single IEEE
    * division — no per-term double rounding to disagree on (the
    * rounded-term form diverged in the engines' shortest-repr vs
    * exact-value round() semantics). */
  val q66 = QueryDef(
    "q66_seasonality",
    Some(s"""WITH c AS (SELECT event_type,
        ((epoch_us(ts) + ${graft.Portable.EpochWeekOffsetUs}) // 86400000000 + 4) % 7 AS dow, count(*) AS o
        FROM events GROUP BY 1, 2),
      t AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS n FROM c GROUP BY event_type),
      grid AS (SELECT g.event_type, g.n, g.dow, COALESCE(c.o, 0) AS o
        FROM (SELECT t.event_type, t.n, i AS dow
              FROM t, (SELECT unnest(range(0, 7)) AS i)) g
        LEFT JOIN c ON c.event_type = g.event_type AND c.dow = g.dow),
      x AS (SELECT event_type, n,
          CAST(sum(CAST((7 * o - n) * (7 * o - n) AS DECIMAL(38,0))) AS DOUBLE)
            / (7.0 * n) AS chi2
        FROM grid GROUP BY event_type, n)
      SELECT event_type, n, round(chi2, 6) AS chi2, chi2 > $Chi2Crit6 AS skewed
      FROM x ORDER BY event_type"""),
    (s, d) => seasonalityOf(Tables.events(s, d).select(col("event_type"), col("ts"))))

  /** Engine-portable Sunday=0 day-of-week over a `ts` column: the
    * [[graft.Portable.EpochWeekOffsetUs]] shift makes truncating
    * `div` a floor even on pre-1970 epochs (spec-pinned on
    * 1969-12-31T12:00 = Wednesday = 3 in AnalyticsSpec). */
  private[graft] val DowSpark: String =
    s"((unix_micros(CAST(ts AS TIMESTAMP)) + ${graft.Portable.EpochWeekOffsetUs}) div 86400000000 + 4) % 7"

  /** Weekday χ² readout over (event_type, ts) rows — see [[q66]]. */
  def seasonalityOf(ev: DataFrame): DataFrame = {
    // |types|×7 rows — the event-type domain sets the size, so no
    // constant bounds it: checkpoint so the corpus count runs once
    val c = ev
      .select(col("event_type"), expr(DowSpark).as("dow"))
      .groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("o"))
      .localCheckpoint(true)
    val t = c.groupBy(col("event_type")).agg(sum(col("o")).as("n"))
    // enumerate ALL 7 weekdays per type: a zero-count day still owes
    // its (0 − n/7)² term — dropping absent rows understates χ²
    val grid = t.crossJoin(broadcast(
        ev.sparkSession.range(0, 7).select(col("id").as("dow"))))
      .join(c, Seq("event_type", "dow"), "left")
      .select(col("event_type"), col("n"), coalesce(col("o"), lit(0L)).as("o"))
    grid
      .groupBy(col("event_type"), col("n"))
      .agg((sum(expr("CAST((7 * o - n) * (7 * o - n) AS DECIMAL(38,0))"))
        .cast(DoubleType) / expr("7.0 * n")).as("chi2"))
      .select(col("event_type"), col("n"), round(col("chi2"), 6).as("chi2"),
        (col("chi2") > Chi2Crit6).as("skewed"))
      .orderBy(col("event_type"))
  }

  // ----------------------------------------------------------- q67
  /** q67: Gini coefficient of customer spend — the concentration
    * readout ("do 20% of customers carry 80% of revenue?"). The
    * rank-weighted form G = (2·Σ rᵢ·xᵢ / Σ xᵢ − (n+1)) / n needs a
    * GLOBAL ascending rank — shipped as the budget_select two-level
    * scan (range partition on (spend, id), task-local row_number,
    * per-partition counts' exclusive scan broadcast back), so NO task
    * holds the customer table and the rank is partition-count
    * invariant. Spend and the rank-weighted sum stay DECIMAL-exact
    * end to end (spend is 2-dp money; rank×spend is an exact decimal
    * product), so G is one fixed-order IEEE expression on exact
    * sums. */
  val q67 = QueryDef(
    "q67_gini",
    Some("""WITH cust AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS m
        FROM orders GROUP BY o_custkey),
      r AS (SELECT m, row_number() OVER (ORDER BY m, o_custkey) AS rk FROM cust),
      s AS (SELECT count(*) AS n,
          CAST(sum(m) AS DOUBLE) AS sx,
          CAST(sum(CAST(rk * m AS DECIMAL(38,2))) AS DOUBLE) AS sw
        FROM r)
      SELECT n AS n_customers, round(sx, 2) AS total_spend,
        round((2 * sw / sx - (n + 1)) / n, 6) AS gini
      FROM s"""),
    (s, d) => {
      val cust = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("m"))
      // two-level global rank: range partition on the sort key, local
      // row_number, per-partition counts' exclusive scan broadcast
      val ranked = graft.CacheScope.untracked.persist(cust
        .repartitionByRange(col("m"), col("o_custkey"))
        .withColumn("pid", spark_partition_id())
        .withColumn("lrk", row_number().over(
          Window.partitionBy(col("pid")).orderBy(col("m"), col("o_custkey")))))
      val wo = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
      val offs = ranked.groupBy(col("pid")).agg(count(lit(1)).as("pc"))
        .select(col("pid"), coalesce(sum(col("pc")).over(wo), lit(0L)).as("base"))
      val r = ranked.join(broadcast(offs), Seq("pid"))
        .select(col("m"), (col("base") + col("lrk")).as("rk"))
      r.agg(count(lit(1)).as("n"),
          sum(col("m")).cast(DoubleType).as("sx"),
          sum((col("rk") * col("m")).cast(DecimalType(38, 2))).cast(DoubleType).as("sw"))
        .selectExpr("n AS n_customers", "round(sx, 2) AS total_spend",
          "round((2 * sw / sx - (n + 1)) / n, 6) AS gini")
    })

  // --------------------------------------------------- ml_lift_deciles
  /** ml_lift_deciles: gains/lift table by score decile — the
    * campaign-targeting readout ("mail the top decile, capture X% of
    * responders"). Scores are the GD model's margins z (monotone in
    * σ(z), so deciling z IS deciling the probability); decile edges
    * come from the exact selection machinery (the `percentile_cont`
    * contract — oracle thresholds match bit-for-bit) broadcast into a
    * MAP-ONLY 1–10 binning, then everything is 10-row algebra
    * (rates, lift vs base rate, cumulative gain from the top
    * decile). Corpus scanned once past training. */
  val mlLiftDeciles = QueryDef(
    "ml_lift_deciles",
    Some {
      // z from the PUBLISHED w6 weights (logregWeights6): decile
      // thresholds sit in the densest z region by construction, so
      // the raw weights' cross-engine ulp noise moves whole tied
      // groups — the sf0.1 gate caught exactly that
      s"""$scoredSql,
        ${decileCountsSql("th")},
        tot AS (SELECT CAST(sum(n) AS DOUBLE) AS tn, CAST(sum(pos) AS DOUBLE) AS tp FROM dd),
        cum AS (SELECT decile, n, pos,
            CAST(sum(pos) OVER (ORDER BY decile DESC ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cpos
          FROM dd)
        SELECT c.decile, c.n, c.pos,
          round(CAST(c.pos AS DOUBLE) / c.n, 6) AS rate,
          round((CAST(c.pos AS DOUBLE) / c.n) / (tot.tp / tot.tn), 6) AS lift,
          round(c.cpos / tot.tp, 6) AS cum_gain
        FROM cum c, tot ORDER BY c.decile"""
    },
    (s, d) => {
      // value-grain collapse before the readout (r15): the decile
      // edges' selection passes and the binning then run at ~550-row
      // grain off one corpus pass (see [[vgOfScores]])
      liftOfVg(vgOfScores(gateScores(s, d)))
    })

  // ----------------------------------------------------------- q68
  /** Head size for the Zipf fit — the heavy head is where the power
    * law lives (the tail bends down; every corpus-linguistics fit
    * truncates). */
  val ZipfHead = 1000

  /** q68: Zipf-law fit over the token frequency head — the
    * corpus-statistics audit next to `corpus_vocab_growth` (a healthy
    * natural-language corpus fits ln f ≈ c − s·ln r with s ≈ 1; a
    * flat slope flags templated/synthetic text). Frequencies are one
    * shrinking-key aggregate; the top-[[ZipfHead]] head comes from a
    * distributed top-k (TakeOrderedAndProject — never a global sort),
    * after which ranks and the OLS slope are 1000-row algebra: ln
    * terms rounded to 8 dp (values ≲ 12 — the 12-dp grid would sit at
    * double precision), DECIMAL moment sums, one shared IEEE slope
    * expression. */
  val q68 = QueryDef(
    "q68_zipf_fit",
    Some(s"""WITH t AS (SELECT unnest(string_split(${graft.Portable.normTextSql("text")}, ' ')) AS tok FROM documents),
      f AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
      h AS (SELECT tok, c FROM f ORDER BY c DESC, tok LIMIT $ZipfHead),
      r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rk FROM h),
      lp AS (SELECT round(ln(rk), 8) AS lx, round(ln(c), 8) AS ly FROM r),
      m AS (SELECT count(*) AS n,
          CAST(sum(CAST(lx AS DECIMAL(18,8))) AS DOUBLE) AS sx,
          CAST(sum(CAST(ly AS DECIMAL(18,8))) AS DOUBLE) AS sy,
          CAST(sum(CAST(round(lx * lx, 8) AS DECIMAL(18,8))) AS DOUBLE) AS sxx,
          CAST(sum(CAST(round(lx * ly, 8) AS DECIMAL(18,8))) AS DOUBLE) AS sxy
        FROM lp)
      SELECT n AS n_ranks,
        round(-((sxy - sx * sy / n) / (sxx - sx * sx / n)), 6) AS zipf_exponent
      FROM m"""),
    (s, d) => {
      val f = Tables.documents(s, d)
        .select(explode(split(graft.Portable.normText(col("text")), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val h = f.orderBy(col("c").desc, col("tok")).limit(ZipfHead)
      // ≤ 1000 rows from here: the rank window is metadata scale
      val r = h.withColumn("rk", row_number().over(
        Window.orderBy(col("c").desc, col("tok"))))
      val lp = r.selectExpr("round(ln(rk), 8) AS lx", "round(ln(c), 8) AS ly")
      lp.agg(count(lit(1)).as("n"),
          sum(col("lx").cast(DecimalType(18, 8))).cast(DoubleType).as("sx"),
          sum(col("ly").cast(DecimalType(18, 8))).cast(DoubleType).as("sy"),
          sum(round(col("lx") * col("lx"), 8).cast(DecimalType(18, 8))).cast(DoubleType).as("sxx"),
          sum(round(col("lx") * col("ly"), 8).cast(DecimalType(18, 8))).cast(DoubleType).as("sxy"))
        .selectExpr("n AS n_ranks",
          "round(-((sxy - sx * sy / n) / (sxx - sx * sx / n)), 6) AS zipf_exponent")
    })

  // ----------------------------------------------------------- q69
  /** q69: order→ship lead-time distribution per priority — the
    * supply-chain SLA readout (how long from order to first
    * shipment, and does priority actually buy speed?). One
    * orderkey-keyed join (the natural co-partitioning), per-order MIN
    * ship date (map-combinable), integer day lead times, then
    * p50/p90 through the exact selection machinery (the
    * `percentile_cont` contract) plus exact max — the order table is
    * scanned, never sort-shuffled. */
  val q69 = QueryDef(
    "q69_lead_time",
    Some("""WITH lt AS (SELECT o.o_orderpriority AS prio,
        CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(min(l.l_shipdate) AS DATE)) AS DOUBLE) AS lead_days
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate)
      SELECT prio, count(*) AS n_orders,
        round(percentile_cont(0.5) WITHIN GROUP (ORDER BY lead_days), 6) AS p50_days,
        round(percentile_cont(0.9) WITHIN GROUP (ORDER BY lead_days), 6) AS p90_days,
        CAST(max(lead_days) AS BIGINT) AS max_days
      FROM lt GROUP BY prio ORDER BY prio"""),
    (s, d) => {
      val lt = graft.CacheScope.untracked.persist(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
        .agg(min(col("l_shipdate")).as("first_ship"))
        .select(col("o_orderpriority").as("prio"),
          datediff(col("first_ship").cast("date"), col("o_orderdate").cast("date"))
            .cast(DoubleType).as("lead_days")))
      val pct = ExactPercentiles.percentiles(lt, "prio", "lead_days", Seq(0.5, 0.9),
        valueGrain = true) // integer day gaps: bounded domain (r14)
        .groupBy(col("g").as("prio"))
        .agg(min(when(col("p") === 0.5, col("value"))).as("p50"),
          min(when(col("p") === 0.9, col("value"))).as("p90"))
      val agg = lt.groupBy(col("prio"))
        .agg(count(lit(1)).as("n_orders"), max(col("lead_days")).as("mx"))
      agg.join(broadcast(pct), Seq("prio"))
        .select(col("prio"), col("n_orders"),
          round(col("p50"), 6).as("p50_days"), round(col("p90"), 6).as("p90_days"),
          col("mx").cast(LongType).as("max_days"))
        .orderBy(col("prio"))
    })

  // ----------------------------------------------------------- q70
  /** q70: cart-abandonment rate by day — the FORWARD as-of the
    * q19/q48/q58 family doesn't cover (they all look backward): a
    * click converts iff its user's EARLIEST strictly-later purchase
    * (in the (ts, event_id) total order) lands within 1 hour. The
    * engine reverses the union-merge trick: one user-keyed window
    * sorted DESCENDING, whose strictly-preceding frame holds exactly
    * the strictly-LATER events, and the running `min` of the carried
    * purchase struct IS the earliest later purchase (struct order =
    * ts first) — the tolerance masks it per row, exact by the q48
    * argument mirrored in time. ONE user-keyed shuffle; the oracle
    * takes the independent join+count route, cross-checking the
    * reversed-window semantics. */
  val q70 = QueryDef(
    "q70_abandoned_carts",
    Some("""WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      j AS (SELECT c.event_id, c.ts, count(p.event_id) AS npurch
        FROM c LEFT JOIN p ON p.user_id = c.user_id
          AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
          AND p.ts <= c.ts + INTERVAL 1 HOUR
        GROUP BY c.event_id, c.ts),
      d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
          count(*) AS n_clicks,
          CAST(sum(CASE WHEN npurch = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned
        FROM j GROUP BY 1)
      SELECT day, n_clicks, n_abandoned,
        round(CAST(n_abandoned AS DOUBLE) / n_clicks, 6) AS abandonment_rate
      FROM d ORDER BY day"""),
    (s, d) => abandonedCarts(
      Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id"), col("event_type"))))

  /** Forward as-of abandonment readout — see [[q70]]. */
  def abandonedCarts(ev: DataFrame,
      cartType: String = "click", conversionType: String = "purchase"): DataFrame = {
    val tagged = ev
      .filter(col("event_type").isin(cartType, conversionType))
      .withColumn("purch",
        when(col("event_type") === conversionType,
          struct(col("ts").as("pts"), col("event_id").as("pid"))))
    // DESC order: the strictly-preceding frame = strictly-LATER events
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val clicks = tagged.withColumn("np", min(col("purch")).over(w))
      .filter(col("event_type") === cartType)
      .select(date_trunc("day", col("ts")).cast("date").as("day"),
        when(col("np").isNull || col("np.pts") > col("ts") + expr("INTERVAL 1 HOUR"), 1L)
          .otherwise(0L).as("abandoned"))
    clicks.groupBy(col("day"))
      .agg(count(lit(1)).as("n_clicks"), sum(col("abandoned")).as("n_abandoned"))
      .select(col("day"), col("n_clicks"), col("n_abandoned"),
        round(col("n_abandoned").cast(DoubleType) / col("n_clicks"), 6).as("abandonment_rate"))
      .orderBy(col("day"))
  }

  val defs: Seq[QueryDef] = Seq(q55, q56, q57, linearProbe, q58, q59, mlLogregGd,
    q60, q61, mlKfoldCv, q62, q63, q64, mlThresholdSweep, q65, q66, q67,
    mlLiftDeciles, q68, q69, q70, mlRidgePath, mlCalibration,
    pipelineMlReadouts, mlPrAuc, mlConfusionMcc, mlConformal, mlFeatureImportance,
    mlLearningCurve, mlKsTwoSample, mlRocAuc, mlBootstrapCi, mlAveragePrecision,
    mlBrierDecomposition, mlAucDelong, mlShapLinear, pipelineMlScorecard,
    mlMcnemarTest, mlCohensKappa, mlHosmerLemeshow, mlIsotonicCalibration,
    mlCochranQ, mlSpearmanCorr, mlSpearmanShuffle, mlC2stDrift,
    mlWilcoxonSignedRank, mlThresholdCostOpt, pipelineModelCompare)
}
