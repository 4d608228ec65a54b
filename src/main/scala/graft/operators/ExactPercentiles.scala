package graft.operators

import graft.{CacheScope, Small}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** EXACT interpolated percentiles that scale: distributed order-
  * statistic selection by iterative range narrowing (the classic
  * multi-pass selection of Munro & Paterson, "Selection and Sorting
  * with Limited Storage", TCS 1980, in its histogram form), instead
  * of Spark's `percentile()` aggregate, which buffers EVERY value of
  * a group in one reducer — exact percentiles over a 3-group 100 TB
  * table would park ~all rows in 3 aggregation buffers. Here no
  * executor ever holds more than a 2^16-bucket count array:
  *
  *  1. doubles map to an order-isomorphic SIGNED LONG domain
  *     ([[graft.functions.DBitsExpr]]) so range splitting is exact
  *     integer arithmetic;
  *  2. each pass histograms the in-range rows of every unresolved
  *     (group, rank) target into 2^16 buckets (map-side partial
  *     aggregation; the shuffle carries buckets, never rows), walks
  *     the cumulative histogram in Spark to find the bucket holding
  *     the target rank, collects that one bucket per target, and
  *     narrows the range to the bucket's ACTUAL [min, max] while
  *     reducing the rank to its offset inside it;
  *  3. a target resolves when its bucket holds a single long pattern
  *     (min == max — every row in it is the same double). Nominal
  *     narrowing is 2^16× per pass, so 4 passes pin any 64-bit
  *     pattern; a 5th is headroom for the first pass's rounded
  *     double arithmetic on 2^63-magnitude spans (bucketing there
  *     uses long→double casts, which are monotone — correctness
  *     never depends on bucket evenness, only on monotone
  *     deterministic splitting, because ranges re-tighten from exact
  *     per-bucket long min/max).
  *
  * The full-table scans per pass read one pruned (group, value)
  * projection, persisted via the caller's [[graft.CacheScope]]. Each
  * pass collects one row per live (group, rank) target, at most
  * [[MaxTargets]], and the narrowing between passes runs on the
  * driver: no selection state is ever an executor block. Interpolation
  * matches Spark `percentile` BIT-FOR-BIT: the two-sided
  * `(⌈r⌉ − r)·lo + (r − ⌊r⌋)·hi` at rank `r = p·(n−1)` — NOT the
  * algebraically-equal `lo + (hi − lo)·(r − ⌊r⌋)`, which rounds
  * differently when lo and hi are ulps apart.
  */
object ExactPercentiles {

  val Buckets = 1 << 16
  val MaxPasses = 5

  /** Exact interpolated percentiles of `value` per `group`: returns
    * one row per (group, DISTINCT p) with column names (g, p, value)
    * — duplicate entries in `ps` are deduplicated (a duplicate p would
    * otherwise duplicate output rows: state is keyed by (g, p)). Nulls
    * in `value` are ignored (as Spark `percentile` does); a group with
    * zero non-null values yields no row. */
  def percentiles(df: DataFrame, group: String, value: String, rawPs: Seq[Double],
      valueGrain: Boolean = false)(
      implicit scope: CacheScope = CacheScope.untracked): DataFrame =
    percentilesCounted(df, group, value, rawPs, valueGrain)._1

  /** [[percentiles]] over an ALREADY value-grain-collapsed frame
    * `(g, x DOUBLE, cnt BIGINT)` — for callers that have the weighted
    * count frame in hand (e.g. a (z, p, q) readout collapse): skips
    * the whole row-grain scan+collapse this operator would otherwise
    * run (r15, guide §1.2). CAVEAT: the caller's grain defines the
    * multiset — if the domain could contain BOTH −0.0 and +0.0 as
    * distinct values, a double-keyed collapse has merged them
    * (NormalizeFloatingNumbers) and the −0.0 order statistic is lost;
    * use the row-grain `valueGrain = true` path there. Selection and
    * interpolation are bit-identical to the row-grain paths on the
    * same multiset. */
  def percentilesOfCounts(grained: DataFrame, group: String, value: String,
      cnt: String, rawPs: Seq[Double])(
      implicit scope: CacheScope = CacheScope.untracked): DataFrame = {
    graft.functions.Natives.ensure(grained.sparkSession)
    val data = grained
      .select(col(group).as("g"), col(value).cast("double").as("x"),
        col(cnt).cast("long").as("cnt"))
      .filter(col("x").isNotNull && col("cnt") > 0)
      .withColumn("s", graft.functions.DBits.ordered(col("x")))
      .select(col("g"), col("x"), col("s"), col("cnt"))
      .transform(scope.persist)
    selectAndInterpolate(data, rawPs)._1
  }

  /** [[percentiles]] plus the number of narrowing passes the selection
    * actually ran — observability for the early-exit contract (specs
    * assert low-cardinality domains resolve in ONE pass; see
    * `ExactPercentilesSpec`). */
  private[graft] def percentilesCounted(df: DataFrame, group: String, value: String,
      rawPs: Seq[Double], valueGrain: Boolean = false)(
      implicit scope: CacheScope = CacheScope.untracked): (DataFrame, Int) = {
    val data = prepare(df, group, value, valueGrain)
    selectAndInterpolate(data, rawPs)
  }

  /** Rank derivation + narrowing selection + interpolation over a
    * prepared (g, x, s, cnt) frame — shared by the row-grain and
    * pre-counted entry points. */
  private def selectAndInterpolate(data: DataFrame, rawPs: Seq[Double])(
      implicit scope: CacheScope): (DataFrame, Int) = {
    val ps = rawPs.distinct
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), s"ps must be in [0,1]: $ps")

    // per-group counts → the 0-based order-statistic ranks every p needs:
    // r = p·(n−1), order stats at ⌊r⌋ and ⌈r⌉ (deduped when integral)
    val counts = data.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
    val targets = counts
      .select(col("g"), col("n"), explode(array(ps.map(lit(_)): _*)).as("p"))
      .select(col("g"), col("p"), (col("p") * (col("n") - 1)).as("r"))
      .transform(scope.persist)
    val ranks = targets
      .select(col("g"), explode(array(floor(col("r")), ceil(col("r")))).as("kd"))
      .select(col("g"), col("kd").cast("long").as("k"))
      .distinct()

    val (resolved, pass) = selectRanks(data, ranks)

    // interpolate with Spark Percentile's EXACT expression
    // `(⌈r⌉ − r)·xlo + (r − ⌊r⌋)·xhi` — the algebraically-equal
    // `xlo + (xhi − xlo)·frac` rounds differently when xlo/xhi are
    // ulps apart (e.g. {−0.30000000000000004, −0.3} at p=0.9)
    val out = targets
      .withColumn("kf", floor(col("r")).cast("long"))
      .withColumn("kc", ceil(col("r")).cast("long"))
      // resolved is a local frame of at most MaxTargets rows; the
      // hints keep both interpolation joins broadcast whatever the
      // planner estimates (r9: q88 once planned a sort-merge here)
      .join(broadcast(resolved.toDF("g", "kf", "xlo")), Seq("g", "kf"))
      .join(broadcast(resolved.toDF("g", "kc", "xhi")), Seq("g", "kc"))
      // integral rank returns the order statistic ITSELF (as Spark's
      // Percentile does) — interpolating would turn −0.0 into +0.0
      .select(col("g"), col("p"),
        when(col("kf") === col("kc"), col("xlo"))
          .otherwise((col("kc") - col("r")) * col("xlo") + (col("r") - col("kf")) * col("xhi"))
          .as("value"))
    (out, pass)
  }

  /** Exact 0-BASED order statistics per group: `ranks` is a tiny
    * (g, k) frame naming, for each group, the ascending-order index
    * (0 = smallest non-null value) to select; returns (g, k, value).
    * The same narrowing selection as [[percentiles]] — never a sort
    * shuffle, at most [[MaxTargets]] (g, k) targets — for callers
    * whose rank is an exact integer (conformal calibration's
    * ⌈(1−α)(n+1)⌉-th residual) rather than an interpolated p. A rank
    * outside [0, n) simply never resolves inside a real bucket and
    * yields no row — callers derive k from the group's own count. */
  def orderStatistics(df: DataFrame, group: String, value: String, ranks: DataFrame,
      valueGrain: Boolean = false)(
      implicit scope: CacheScope = CacheScope.untracked): DataFrame = {
    val data = prepare(df, group, value, valueGrain)
    // dedupe (g, k) like percentilesCounted does for its ranks frame: a
    // duplicate target would duplicate selection-state rows, and the
    // per-pass histogram (grouped by (g, k)) would then double-count
    // every bucket while `rem` stays k — silently selecting rank ~k/2
    // (equidepthHistogram emits duplicate ranks when n < bucket count)
    selectRanks(data, ranks.select(col("g"), col("k").cast("long").as("k")).distinct())._1
      .select(col("g"), col("k"), col("v").as("value"))
  }

  /** (g, x DOUBLE non-null, s order-isomorphic LONG, cnt ≥ 1),
    * persisted. The selection state machine only ever reads
    * per-bucket [Σcnt, min s, max s, min x], all identical over
    * (value, count) rows and raw rows — so callers whose domain is a
    * BOUNDED grid pass `valueGrain = true` to collapse to value grain
    * once and run every narrowing pass over distinct values with
    * weighted counts (opt guide §2.3: aggregate before the expensive
    * stage); the per-pass `data ⋈ state` fan-out then multiplies
    * |distinct| × targets instead of |rows| × targets — measured
    * 38-46 CPU-seconds per pass on the lift-decile z grid (600k rows
    * × 10 rank targets) against milliseconds at its ~550-value grain,
    * and ml_lift_deciles / pipeline_ml_readouts dropped 0.71× / 0.78×
    * min-of-3. Default false: on near-unique domains (q52_winsorize's
    * prices) the collapse is a full extra shuffle for no narrowing
    * benefit (measured +30%). Bucket decisions and interpolation
    * inputs are bit-identical either way. */
  private def prepare(df: DataFrame, group: String, value: String,
      valueGrain: Boolean)(implicit scope: CacheScope): DataFrame = {
    graft.functions.Natives.ensure(df.sparkSession)
    val rows = df.select(col(group).as("g"), col(value).cast("double").as("x"))
      .filter(col("x").isNotNull)
      .withColumn("s", graft.functions.DBits.ordered(col("x")))
    val grained =
      if (valueGrain)
        // group by the LONG s, not the double x: groupBy on doubles
        // normalizes −0.0 into 0.0 (NormalizeFloatingNumbers), which
        // would lose the −0.0 order statistic the interpolation
        // contract preserves; every row of an s group shares the
        // exact bit pattern, so min(x) recovers x losslessly
        rows.groupBy(col("g"), col("s")).agg(min(col("x")).as("x"), count(lit(1)).as("cnt"))
      else rows.withColumn("cnt", lit(1L))
    grained.transform(scope.persist)
  }

  /** Most (group, rank) targets one selection resolves. The narrowing
    * state is one driver-side row per live target, so this bounds what
    * each pass collects. Every caller groups by a small domain, with at
    * most 2·|ps| ranks a group (k for the equidepth buckets):
    * `l_returnflag` (q39), the order priority (the order-gap and
    * lead-time percentiles), `event_type` (winsorize, MAD, Theil–Sen,
    * percentile bands), the 3-metric RFM unpivot, join skew's 2-value
    * `kc` literal, or one constant group (lift deciles, conformal
    * calibration, the equidepth boundaries, the quality and perplexity
    * thresholds). The largest is the percentile bands' 6 ranks for each
    * of the 5 event types: 30 targets. */
  val MaxTargets = 4096

  /** Core multi-pass selection: resolves every (g, k) target in
    * `ranks` to its value over the prepared `data`; returns the
    * (g, k, v) frame, local, and the pass count. Each pass histograms
    * and walks the buckets in Spark and collects one row per live
    * target; the narrowing state between passes lives on the driver. */
  private def selectRanks(data: DataFrame, ranks: DataFrame): (DataFrame, Int) = {
    val spark = data.sparkSession
    // selection state per (g, k): s-range [lo, hi] (inclusive) still in
    // play and the rank offset `rem` inside it. Initial range = the
    // group's actual s min/max (also resolves single-value groups on
    // pass 1 without the full-domain span).
    val bounds = data.groupBy(col("g")).agg(min(col("s")).as("glo"), max(col("s")).as("ghi"))
    val seed = ranks.join(bounds, Seq("g"))
      .select(col("g"), col("k"), col("glo").as("lo"), col("ghi").as("hi"), col("k").as("rem"))
    var live = Small.rows(seed, MaxTargets, "percentile bounds")
    val resolved = mutable.ArrayBuffer.empty[Row]

    var pass = 0
    while (live.nonEmpty && pass < MaxPasses) {
      pass += 1
      val state = spark.createDataFrame(live.toSeq.asJava, seed.schema)
      // bucket the in-range rows of every live target. Offsets inside
      // [lo, hi] are computed in LONG arithmetic and cast ONCE — exact
      // and monotone whenever hi − lo fits in a long. Casting s and lo
      // to double SEPARATELY first would round each to ~512-long
      // granularity at 2^62 magnitudes (where ordinary doubles like
      // 0.3 live), permanently collapsing values a few dbits-ulps
      // apart into one bucket: bmin != bmax forever, no narrowing.
      // Only a full-domain span can overflow the long difference
      // (|hi − lo| ≥ 2^63 when the range straddles far negatives and
      // positives — first pass only; bucket width is then ≥ 2^47, so
      // every later span fits easily); there, fall back to the
      // separately-cast form, which is monotone — coarse is fine:
      // ranges re-tighten from exact per-bucket long bmin/bmax.
      val ranged = data.join(broadcast(state), Seq("g"))
        .filter(col("s") >= col("lo") && col("s") <= col("hi"))
      val smallSpan = col("hi").cast("double") - col("lo").cast("double") < lit(math.pow(2, 62))
      val widthD = when(smallSpan, (col("hi") - col("lo")).cast("double"))
        .otherwise(col("hi").cast("double") - col("lo").cast("double"))
      val step = greatest(lit(1.0), widthD / Buckets)
      val offD = when(smallSpan, (col("s") - col("lo")).cast("double"))
        .otherwise(col("s").cast("double") - col("lo").cast("double"))
      val b = least(lit(Buckets - 1), greatest(lit(0),
        floor(offD / step).cast("int")))
      val hist = ranged
        .groupBy(col("g"), col("k"), b.as("b"))
        .agg(sum(col("cnt")).as("c"), min(col("s")).as("bmin"), max(col("s")).as("bmax"),
          min(col("x")).as("bx"),
          min(col("rem")).as("rem")) // constant per (g, k) — carried through
      val w = Window.partitionBy(col("g"), col("k")).orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      // the one bucket of each target that holds its rank: at most one
      // row per live target comes back, never the histogram
      val sel = hist
        .withColumn("cum", coalesce(sum(col("c")).over(w), lit(0L)))
        .filter(col("cum") <= col("rem") && col("rem") < col("cum") + col("c"))
        .select(col("g"), col("k"), col("bmin").as("lo"), col("bmax").as("hi"),
          (col("rem") - col("cum")).as("rem"), col("bx").as("v"))
      val (done, open) = Small.rows(sel, MaxTargets, "percentile pass")
        .partition(r => r.getLong(2) == r.getLong(3))
      resolved ++= done.map(r => Row(r(0), r(1), r(5)))
      // early exit: once every (group, rank) resolves (typically pass
      // 2–3), stop scheduling scans
      live = open.map(r => Row.fromSeq(r.toSeq.take(5)))
    }
    // MaxPasses of 2^16 narrowing pin any 64-bit pattern; a live row
    // here means the invariant broke — fail loudly, never silently
    if (live.nonEmpty) throw new IllegalStateException(
      s"ExactPercentiles did not resolve within $MaxPasses passes")
    // (g, k, v) typed as ranks' columns; v is nullable like the min(x)
    // it comes from, also when no pass ran, so the schema never
    // depends on the data
    val schema = ranks.select(col("g"), col("k"), lit(null).cast("double").as("v")).schema
    (spark.createDataFrame(resolved.asJava, schema), pass)
  }
}
