package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Approximate/sketch aggregates (SURVEY.md §2.8). The sketch estimates
  * themselves are engine-specific, so the oracle-checkable surface is
  * (exact value, within_bound boolean): DuckDB recomputes the exact
  * value and emits literal TRUE; Spark emits the sketch's deviation
  * check. A hash-green row therefore proves BOTH the exact twin and
  * that the sketch landed inside its published error bound.
  */
object Sketches {
  /** HLL++ distinct estimate next to the exact count per group. At
    * 100 TB the approx variant replaces a full distinct shuffle with a
    * mergeable fixed-size sketch — this is the scale path for q10.
    * Bound: rsd 0.02 → |approx-exact| within 10% (5 sigma) always
    * holds in practice; HLL is deterministic for fixed input. */
  val approxDistinct = QueryDef(
    "approx_distinct",
    Some("""SELECT l_returnflag,
      count(DISTINCT l_partkey) AS exact_parts,
      count(DISTINCT l_orderkey) AS exact_orders,
      TRUE AS parts_within_bound, TRUE AS orders_within_bound
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
        (abs(col("approx_parts") - col("exact_parts"))
          <= greatest(col("exact_parts") * 0.10, lit(16))).as("parts_within_bound"),
        (abs(col("approx_orders") - col("exact_orders"))
          <= greatest(col("exact_orders") * 0.10, lit(16))).as("orders_within_bound"))
      .orderBy(col("l_returnflag")), bench = false)

  /** Approximate quantiles (Greenwald–Khanna, accuracy 1000 → rank
    * error <= 0.1%) next to the exact values, one row per
    * (group, quantile) so the output is scalar-only. within_bound
    * checks the approx value lands between the exact quantiles at
    * q -/+ 1% — a 10x-slack envelope for the configured rank error.
    * At 100 TB approx_percentile's mergeable fixed-size summary
    * replaces q13's full per-group sort. */
  val approxQuantiles = QueryDef(
    "approx_quantiles",
    Some("""WITH a AS (
        SELECT l_returnflag,
          round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS q50,
          round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS q90,
          round(percentile_cont(0.99) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS q99
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, q, exact_p, TRUE AS within_bound FROM (
        SELECT l_returnflag, CAST(0.5 AS DOUBLE) AS q, q50 AS exact_p FROM a
        UNION ALL SELECT l_returnflag, CAST(0.9 AS DOUBLE), q90 FROM a
        UNION ALL SELECT l_returnflag, CAST(0.99 AS DOUBLE), q99 FROM a)
      ORDER BY l_returnflag, q"""),
    (s, d) => {
      val qs = Seq(0.5, 0.9, 0.99)
      val eps = 0.01
      // ONE exact-percentile aggregate for all 9 targets (r15, guide
      // §1.2 — same fusion as approx_tdigest_quantiles below): the
      // exact/lo/hi arrays each buffered and sorted the full per-group
      // multiset independently; one buffer + one sort + nine extracts
      // is the identical interpolation bit-for-bit
      val allQs = qs ++ qs.map(q => math.max(0.0, q - eps)) ++
        qs.map(q => math.min(1.0, q + eps))
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr(s"approx_percentile(l_extendedprice, array(${qs.mkString(", ")}), 1000)").as("approx_arr"),
          expr(s"percentile(l_extendedprice, array(${allQs.mkString(", ")}))").as("all_arr"))
        .select(col("l_returnflag"), col("approx_arr"),
          expr("slice(all_arr, 1, 3)").as("exact_arr"),
          expr("slice(all_arr, 4, 3)").as("lo_arr"),
          expr("slice(all_arr, 7, 3)").as("hi_arr"))
        .select(col("l_returnflag"),
          posexplode(expr(s"arrays_zip(approx_arr, exact_arr, lo_arr, hi_arr)")).as(Seq("i", "z")))
        .select(col("l_returnflag"),
          element_at(lit(qs.toArray), col("i") + 1).as("q"),
          round(col("z.exact_arr"), 4).as("exact_p"),
          (col("z.approx_arr").cast(DoubleType).between(col("z.lo_arr"), col("z.hi_arr"))).as("within_bound"))
        .orderBy(col("l_returnflag"), col("q"))
    }, bench = false)

  /** Space-Saving heavy hitters next to the exact top-10 tokens.
    * The oracle-checkable surface: exact top-k (DuckDB twin) plus a
    * per-item `in_sketch` containment boolean. Space-Saving's merge
    * guarantee (Metwally et al. 2005; mergeable-summaries bound)
    * keeps any item with true count > N/capacity in the sketch
    * regardless of partition/merge order, and the corpus's top tokens
    * clear that bar with wide margin — so containment is stable and
    * TRUE on both sides while the sketch itself stays one fixed-size
    * summary per task (the 100 TB path corpus top-k rides on). */
  val approxTopK = QueryDef(
    "approx_topk",
    Some(s"""WITH tok AS (SELECT unnest(string_split(${graft.Portable.normTextSql("text")}, ' ')) AS tok FROM documents),
      f AS (SELECT tok, count(*) AS exact_n FROM tok GROUP BY tok),
      r AS (SELECT tok, exact_n, row_number() OVER (ORDER BY exact_n DESC, tok) AS rk FROM f)
      SELECT rk, tok, CAST(exact_n AS BIGINT) AS exact_n, TRUE AS in_sketch
      FROM r WHERE rk <= 10 ORDER BY rk"""),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.Natives.ensure(s)
      val toks = Tables.documents(s, d)
        .select(explode(split(graft.Portable.normText(col("text")), " ")).as("tok"))
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tok")).limit(10)
      val sketch = toks.agg(expr("graft_topk_sketch(tok, 10)").as("sk"))
        .select(expr("transform(sk, s -> s.token)").as("sk_tokens"))
      exact
        .withColumn("rk", row_number().over(Window.orderBy(col("exact_n").desc, col("tok"))))
        .crossJoin(broadcast(sketch))
        .select(col("rk"), col("tok"), col("exact_n").cast("long").as("exact_n"),
          array_contains(col("sk_tokens"), col("tok")).as("in_sketch"))
        .orderBy(col("rk"))
    }, bench = false)

  /** Count-min heavy hitters: the token stream folds into ONE
    * fixed-size CMS (ε = 0.001, δ = 0.01 — mergeable, map-side
    * combinable, the 100 TB frequency-query path), and the top-5
    * exact tokens' point queries are checked against the published
    * one-sided guarantee: exact ≤ estimate ≤ exact + ε·N. The sketch
    * is METADATA-scale, so querying it on the driver is the intended
    * use (it would ship to an online service in production); the
    * gate compares the exact twin + the bound booleans. */
  val approxHeavyHitters = QueryDef(
    "approx_heavy_hitters",
    Some(s"""WITH tok AS (SELECT unnest(string_split(${graft.Portable.normTextSql("text")}, ' ')) AS tok FROM documents),
      f AS (SELECT tok, count(*) AS exact_n FROM tok GROUP BY tok),
      r AS (SELECT tok, exact_n, row_number() OVER (ORDER BY exact_n DESC, tok) AS rk FROM f)
      SELECT rk, tok, CAST(exact_n AS BIGINT) AS exact_n,
        TRUE AS no_underestimate, TRUE AS within_eps_n
      FROM r WHERE rk <= 5 ORDER BY rk"""),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sp = s
      import sp.implicits._
      val toks = Tables.documents(s, d)
        .select(explode(split(graft.Portable.normText(col("text")), " ")).as("tok"))
        .localCheckpoint(true) // token stream feeds exact, N, and the sketch
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tok")).limit(5)
        .withColumn("rk", row_number().over(Window.orderBy(col("exact_n").desc, col("tok"))))
        .collect().map(r => (r.getInt(2), r.getString(0), r.getLong(1)))
      val n = toks.count()
      val eps = 0.001
      val skBytes = toks.agg(
        count_min_sketch(col("tok"), lit(eps), lit(0.99), lit(42)).as("sk"))
        .collect().head.getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(skBytes))
      exact.map { case (rk, tok, ex) =>
        // Spark's CMS aggregate adds string columns as UTF-8 BYTES
        val est = cms.estimateCount(tok.getBytes("UTF-8"))
        (rk, tok, ex, est >= ex, est <= ex + (eps * n).ceil.toLong)
      }.toSeq.toDF("rk", "tok", "exact_n", "no_underestimate", "within_eps_n")
        .orderBy(col("rk"))
    })

  /** HLL sketch MERGEABILITY — the property the whole tier exists
    * for: one fixed-size sketch per source shard, a union fold, one
    * estimate — at 100 TB the shards never exchange rows, only
    * KB-size sketches. The gate pins the exact twin (distinct docs,
    * distinct sources) and that the unioned estimate lands within the
    * standard HLL error envelope of the true global distinct. */
  val approxHllUnion = QueryDef(
    "approx_hll_union",
    Some("""SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS exact_distinct,
        TRUE AS union_within_bound
      FROM documents"""),
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val per = docs.groupBy(col("source"))
        .agg(hll_sketch_agg(col("doc_id")).as("sk"))
      val un = per.agg(
        count(lit(1)).as("n_sources"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val ex = docs.agg(countDistinct(col("doc_id")).as("exact_distinct"))
      un.crossJoin(broadcast(ex))
        .select(col("n_sources"), col("exact_distinct"),
          (abs(col("est") - col("exact_distinct"))
            <= greatest(col("exact_distinct") * 0.05, lit(16))).as("union_within_bound"))
    })

  /** t-digest quantiles (r9; Dunning & Ertl 2019) next to the exact
    * values — the PRODUCTION percentile-at-scale sketch beside
    * `approx_quantiles`' built-in GK summary: rank error ≈ q(1−q)/δ
    * CONCENTRATES accuracy at the tails (p99/p999 — the latency and
    * quality-cutoff percentiles GK treats no better than the median),
    * and shard digests merge by concatenation + one compress (the
    * mergeable-summaries property `TDigestSpec` pins directly). The
    * oracle-checkable surface is the §2.8 discipline: exact
    * `percentile_cont` twin + a within-bound boolean per (group, q)
    * against the exact q±1% rank envelope — 10×+ slack over the
    * δ=200 design error, so the boolean is stable under ANY
    * partition/merge order even though centroid layouts differ. */
  val approxTdigestQuantiles = QueryDef(
    "approx_tdigest_quantiles",
    Some("""WITH a AS (
        SELECT l_returnflag,
          round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS q50,
          round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS q90,
          round(percentile_cont(0.99) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS q99
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, q, exact_p, TRUE AS within_bound FROM (
        SELECT l_returnflag, CAST(0.5 AS DOUBLE) AS q, q50 AS exact_p FROM a
        UNION ALL SELECT l_returnflag, CAST(0.9 AS DOUBLE), q90 FROM a
        UNION ALL SELECT l_returnflag, CAST(0.99 AS DOUBLE), q99 FROM a)
      ORDER BY l_returnflag, q"""),
    (s, d) => {
      graft.functions.Natives.ensure(s)
      val qs = Seq(0.5, 0.9, 0.99)
      val eps = 0.01
      // ONE percentile aggregate for all 9 targets (r15, guide §1.2):
      // the exact/lo/hi arrays ran as THREE independent Percentile
      // aggregates, each buffering and sorting the full per-group
      // value multiset — one buffer, one sort, nine extracts is the
      // same interpolation math bit-for-bit
      val allQs = qs ++ qs.map(q => math.max(0.0, q - eps)) ++
        qs.map(q => math.min(1.0, q + eps))
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("graft_tdigest(CAST(l_extendedprice AS DOUBLE), 200)").as("dig"),
          expr(s"percentile(l_extendedprice, array(${allQs.mkString(", ")}))").as("all_arr"))
        .select(col("l_returnflag"), col("dig"),
          expr("slice(all_arr, 1, 3)").as("exact_arr"),
          expr("slice(all_arr, 4, 3)").as("lo_arr"),
          expr("slice(all_arr, 7, 3)").as("hi_arr"))
        .select(col("l_returnflag"), col("dig"),
          posexplode(expr("arrays_zip(exact_arr, lo_arr, hi_arr)")).as(Seq("i", "z")))
        .select(col("l_returnflag"),
          element_at(lit(qs.toArray), col("i") + 1).as("q"),
          round(col("z.exact_arr"), 4).as("exact_p"),
          expr("graft_tdigest_quantile(dig, element_at(array(0.5D, 0.9D, 0.99D), i + 1))")
            .between(col("z.lo_arr"), col("z.hi_arr")).as("within_bound"))
        .orderBy(col("l_returnflag"), col("q"))
    })

  /** KMV/theta set-overlap sketch (r9; Beyer et al. SIGMOD'07,
    * Dasgupta et al.'s Theta framework) — the AUDIENCE-OVERLAP
    * readout HLL cannot give: distinct parts purchased under two
    * order priorities, with the intersection/union estimated from two
    * KB-size sketches by SET ALGEBRA on the sketches themselves
    * (union = k smallest of the merged value sets; intersection =
    * theta intersection, survivors below min(θ_a, θ_b)) — at 100 TB
    * the segments exchange k longs, never re-shuffle rows. The
    * k-smallest-DISTINCT-value set is unique, so unlike t-digest the
    * whole sketch is bit-identical under any partitioning; the gate
    * surface is still the §2.8 discipline (exact twins + envelope
    * booleans) because DuckDB cannot reproduce xxhash64. Estimator
    * error ~1/√k ≈ 3% at k = 1024; bounds at 5σ. */
  val approxSetOverlap = QueryDef(
    "approx_set_overlap",
    Some("""WITH lp AS (SELECT DISTINCT o.o_orderpriority AS pr, l.l_partkey AS p
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lp WHERE pr = '1-URGENT'),
      b AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lp WHERE pr = '2-HIGH'),
      i AS (SELECT CAST(count(*) AS BIGINT) AS n FROM
        (SELECT p FROM lp GROUP BY p HAVING count(DISTINCT pr) = 2)),
      u AS (SELECT CAST(count(DISTINCT p) AS BIGINT) AS n FROM lp)
      SELECT a.n AS exact_a, b.n AS exact_b, i.n AS exact_inter, u.n AS exact_union,
        TRUE AS a_within, TRUE AS b_within, TRUE AS union_within, TRUE AS inter_within
      FROM a, b, i, u"""),
    (s, d) => {
      graft.functions.Natives.ensure(s)
      val k = 1024
      val lp = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderpriority").as("pr"), col("l_partkey"),
          expr("xxhash64(l_partkey) & 9223372036854775807").as("h"))
        .localCheckpoint(true) // feeds the sketches AND the exact twins
      val per = lp.groupBy(col("pr")).agg(
        expr(s"graft_kmv(h, $k)").as("sk"),
        countDistinct(col("l_partkey")).as("n"))
      val a = per.filter(col("pr") === "1-URGENT")
        .select(col("sk").as("ska"), col("n").as("exact_a"))
      val b = per.filter(col("pr") === "2-HIGH")
        .select(col("sk").as("skb"), col("n").as("exact_b"))
      val iu = lp.select(col("pr"), col("l_partkey")).distinct()
        .groupBy(col("l_partkey")).agg(countDistinct(col("pr")).as("np"))
        .agg(sum(when(col("np") === 2, 1L).otherwise(0L)).cast("long").as("exact_inter"),
          count(lit(1)).cast("long").as("exact_union"))
      val hs = graft.functions.KMinValues.HashSpace
      val estA = graft.functions.KMinValues.estimateSql("ska", k)
      val estB = graft.functions.KMinValues.estimateSql("skb", k)
      val mergedU = s"slice(array_sort(array_union(ska, skb)), 1, $k)"
      val estU = graft.functions.KMinValues.estimateSql(mergedU, k)
      val thetaA = s"CASE WHEN size(ska) < $k THEN 1.0D ELSE CAST(element_at(ska, $k) AS DOUBLE) / ${hs}D END"
      val thetaB = s"CASE WHEN size(skb) < $k THEN 1.0D ELSE CAST(element_at(skb, $k) AS DOUBLE) / ${hs}D END"
      val estI = s"""CAST(size(filter(array_intersect(ska, skb),
          x -> CAST(x AS DOUBLE) / ${hs}D < least($thetaA, $thetaB))) AS DOUBLE)
        / least($thetaA, $thetaB)"""
      a.crossJoin(broadcast(b)).crossJoin(broadcast(iu))
        .selectExpr("exact_a", "exact_b", "exact_inter", "exact_union",
          s"abs($estA - exact_a) <= greatest(0.15 * exact_a, 64) AS a_within",
          s"abs($estB - exact_b) <= greatest(0.15 * exact_b, 64) AS b_within",
          s"abs($estU - exact_union) <= greatest(0.15 * exact_union, 64) AS union_within",
          s"abs($estI - exact_inter) <= greatest(0.20 * exact_inter, 0.05 * exact_union, 64) AS inter_within")
    })

  val defs: Seq[QueryDef] = Seq(approxDistinct, approxQuantiles, approxTopK,
    approxHeavyHitters, approxHllUnion, approxTdigestQuantiles, approxSetOverlap)
}
