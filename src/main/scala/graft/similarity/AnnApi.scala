package graft.similarity

import graft.Small
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, StructType}

/** User-facing parameterized ANN API (the `Similarity` QueryDefs are
  * thin instantiations). All variants share one contract: `probeIds`
  * is a one-column DataFrame of probe ids (semi-joined against the
  * corpus — unambiguous under self-joins, and the realistic shape: a
  * probe set arrives as its own table); output is `(id_p, rk, id_c,
  * cos)` — top-`k` per probe, exact cosine re-rank, deterministic
  * (left-to-right double folds, ties broken by candidate id).
  *
  * Scale shape: probes are small (broadcast semi-join); brute never
  * shuffles the corpus; LSH/IVF shuffle once into (table, bucket) /
  * cell and bound candidates per probe.
  */
object AnnApi {
  private val dot = "graft_dot(a.v, b.v)"

  /** Normalized view: (id [, passthrough], v double[], nrm). */
  def normalized(df: DataFrame, id: String, vec: String, passthrough: Seq[String] = Nil): DataFrame = {
    graft.functions.Natives.ensure(df.sparkSession)
    df.select((col(id) +: passthrough.map(col)) :+
        expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("v"): _*)
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
  }

  private def rerank(pairs: DataFrame, id: String, k: Int): DataFrame =
    pairs
      .select(col(s"a.$id").as("id_p"), col(s"b.$id").as("id_c"),
        expr(s"$dot / (a.nrm * b.nrm)").as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id_p")).orderBy(col("c").desc, col("id_c"))))
      .filter(col("rk") <= k)
      .select(col("id_p"), col("rk"), col("id_c"), round(col("c"), 6).as("cos"))
      .orderBy(col("id_p"), col("rk"))

  /** Maximum-inner-product top-k (r8): rank candidates by the RAW
    * dot product, not cosine — the recsys retrieval objective
    * (user·item affinity scores are trained unnormalized; cosine
    * ranking silently discards the magnitude signal, which for MIPS
    * IS the popularity/quality prior). Same shape and determinism
    * contract as [[bruteTopK]] (shared left-to-right `graft_dot`
    * folds, id tiebreak); the score surfaces UNROUNDED. For a larger
    * corpus, compose with any candidate generator plus the published
    * MIPS→cosine reduction (append `sqrt(M² − ‖v‖²)` as an extra
    * coordinate — Bachrach et al. 2014). */
  def mipsTopK(corpus: DataFrame, id: String, vec: String,
      probeIds: DataFrame, k: Int = 5): DataFrame = {
    val n = normalized(corpus, id, vec)
    val probes = n.join(probeIds, Seq(id), "left_semi")
    probes.as("a").join(n.as("b"), col(s"a.$id") =!= col(s"b.$id"))
      .select(col(s"a.$id").as("id_p"), col(s"b.$id").as("id_c"),
        expr(dot).as("ip"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id_p")).orderBy(col("ip").desc, col("id_c"))))
      .filter(col("rk") <= k)
      .select(col("id_p"), col("rk"), col("id_c"), col("ip"))
      .orderBy(col("id_p"), col("rk"))
  }

  /** Exact top-k neighbors for every probe id. */
  def bruteTopK(corpus: DataFrame, id: String, vec: String,
      probeIds: DataFrame, k: Int = 5): DataFrame = {
    val n = normalized(corpus, id, vec)
    val probes = n.join(probeIds, Seq(id), "left_semi")
    rerank(probes.as("a").join(n.as("b"), col(s"a.$id") =!= col(s"b.$id")), id, k)
  }

  /** Hard-negative mining (r7): per probe, the top-k most-similar
    * candidates carrying a DIFFERENT label — the contrastive-training
    * staple (metric learning / embedding fine-tuning mines exactly
    * these "similar but wrong" examples; easy negatives teach
    * nothing). Same shape as [[bruteTopK]] with the label-mismatch
    * predicate in the join; swap the brute pair source for
    * lshTopK/ivf candidates on a larger corpus — the mining predicate
    * composes with any candidate generator. */
  def hardNegatives(corpus: DataFrame, id: String, vec: String, label: String,
      probeIds: DataFrame, k: Int = 5): DataFrame = {
    val n = normalized(corpus, id, vec, passthrough = Seq(label))
    val probes = n.join(probeIds, Seq(id), "left_semi")
    rerank(probes.as("a").join(n.as("b"),
      col(s"a.$id") =!= col(s"b.$id") && col(s"a.$label") =!= col(s"b.$label")), id, k)
  }

  /** FILTERED vector search (r9): exact cosine top-k restricted to a
    * metadata-allowed candidate set — the "WHERE clause on a vector
    * query" every retrieval stack needs (RAG over one tenant/source/
    * language slice). The filter is applied as a PRE-filter: the
    * candidate side is semi-joined to `allowedIds` BEFORE any
    * distance is computed, so (a) the result always carries k hits
    * when k exist in the slice — post-filtering a global top-k can
    * return fewer or zero (the classic filtered-ANN recall bug) —
    * and (b) the distance pass scans |allowed| vectors, not the
    * corpus. At 100 TB the semi-join is a keyed shuffle on the id
    * column only (the vectors never move until the slice is cut);
    * at small SF AQE broadcasts the id list. The brute scoring here
    * is the composition point: swap in lshTopK/ivf candidates over
    * the filtered slice for the indexed path. */
  def filteredTopK(corpus: DataFrame, id: String, vec: String,
      probeIds: DataFrame, allowedIds: DataFrame, k: Int = 5): DataFrame = {
    val n = normalized(corpus, id, vec)
    val probes = n.join(probeIds, Seq(id), "left_semi")
    val cands = n.join(allowedIds, Seq(id), "left_semi")
    rerank(probes.as("a").join(cands.as("b"), col(s"a.$id") =!= col(s"b.$id")), id, k)
  }

  /** Maximal-Marginal-Relevance top-k (Carbonell & Goldstein,
    * SIGIR'98) — diversity-aware reranking: after the exact top-
    * `poolSize` pool per probe, picks are greedy by
    * `λ·cos(c, probe) − (1−λ)·max_{s∈selected} cos(c, s)`, so each
    * step keeps relevance while penalizing redundancy with what is
    * already selected (the dedup-at-selection-time staple for RAG
    * retrieval and diverse few-shot/training-example sampling).
    *
    * Scale shape: the corpus is touched ONCE (the pool build = the
    * bruteTopK scan; swap in lshTopK/ivfTopK candidates for a larger
    * corpus — the MMR loop only sees the pool). The k−1 greedy rounds
    * run on the PERSISTED pool (probes × poolSize rows, probe-keyed):
    * per round one anti-join (drop already-selected), one probe-keyed
    * join against the ≤(t−1)-row-per-probe selected set, and one
    * map-side-combinable argmax — never a corpus shuffle, never a
    * driver-side loop over rows. Determinism: cosines are the shared
    * left-to-right `graft_dot` folds, the max over selected is
    * order-independent, the MMR expression is fixed-order IEEE, and
    * argmax ties break on candidate id — bit-identical in DuckDB.
    * Step 1 has an empty selected set: its score is `λ·cos` (the
    * standard convention), which makes pick 1 the plain top-1. */
  def mmrTopK(corpus: DataFrame, id: String, vec: String, probeIds: DataFrame,
      poolSize: Int = 20, k: Int = 5, lambda: Double = 0.5)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val n = normalized(corpus, id, vec)
    val probes = n.join(probeIds, Seq(id), "left_semi")
    val pool = probes.as("a").join(n.as("b"), col(s"a.$id") =!= col(s"b.$id"))
      .select(col(s"a.$id").as("id_p"), col(s"b.$id").as("id_c"),
        expr(s"$dot / (a.nrm * b.nrm)").as("cos"), col("b.v").as("v"), col("b.nrm").as("nrm"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id_p")).orderBy(col("cos").desc, col("id_c"))))
      .filter(col("rk") <= poolSize)
      .transform(scope.persist)
    val lam = lit(lambda)
    var selected = pool.filter(col("rk") === 1)
      .select(col("id_p"), lit(1).as("step"), col("id_c"),
        (lam * col("cos")).as("mmr"), col("cos"), col("v"), col("nrm"))
      .localCheckpoint(true)
    for (t <- 2 to k) {
      val rem = pool.join(selected.select(col("id_p"), col("id_c")), Seq("id_p", "id_c"), "left_anti")
      val ms = rem.as("r").join(selected.as("s"), col("r.id_p") === col("s.id_p"))
        .select(col("r.id_p").as("id_p"), col("r.id_c").as("id_c"),
          (expr("graft_dot(r.v, s.v)") / (col("r.nrm") * col("s.nrm"))).as("sim"))
        .groupBy(col("id_p"), col("id_c"))
        .agg(max(col("sim")).as("msim"))
      val pick = ms.join(pool, Seq("id_p", "id_c"))
        .select(col("id_p"), col("id_c"),
          (lam * col("cos") - (lit(1.0) - lam) * col("msim")).as("mmr"),
          col("cos"), col("v"), col("nrm"))
        .withColumn("rk2", row_number().over(
          Window.partitionBy(col("id_p")).orderBy(col("mmr").desc, col("id_c"))))
        .filter(col("rk2") === 1)
        .select(col("id_p"), lit(t).as("step"), col("id_c"), col("mmr"),
          col("cos"), col("v"), col("nrm"))
      // selected stays ≤ probes·k rows; eager checkpoint keeps the
      // t-times-self-referencing plan from nesting
      selected = selected.union(pick).localCheckpoint(true)
    }
    selected.select(col("id_p"), col("step"), col("id_c"),
        round(col("cos"), 6).as("cos"), round(col("mmr"), 6).as("mmr"))
      .orderBy(col("id_p"), col("step"))
  }

  /** Multi-table random-hyperplane LSH top-k: candidates = union of
    * same-bucket rows over `Similarity.NumTables` sign-code tables. */
  def lshTopK(corpus: DataFrame, id: String, vec: String,
      probeIds: DataFrame, k: Int = 5)(implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    rerank(lshProbePairs(corpus, id, vec, probeIds), id, k)
  }

  /** The LSH candidates of each probe — every other row sharing one of
    * its buckets in the `Similarity.NumTables` sign-code tables — as
    * (pid, cid) pairs joined to both normalized rows `a` and `b`. */
  private def lshProbePairs(corpus: DataFrame, id: String, vec: String,
      probeIds: DataFrame)(implicit scope: graft.CacheScope): DataFrame = {
    val n = normalized(corpus, id, vec)
      .transform(scope.persist)
    val tables = (0 until Similarity.NumTables).map(t =>
      struct(lit(t).as("t"), expr(Similarity.bucketExprSparkFor(t)).as("bk")))
    val tb = n.withColumn("tbl", explode(array(tables: _*)))
      .select(col(id), col("tbl.t").as("t"), col("tbl.bk").as("bk"))
      .transform(scope.persist)
    val tbProbes = tb.join(probeIds, Seq(id), "left_semi")
    val cand = tbProbes.as("ca").join(tb.as("cb"),
        col("ca.t") === col("cb.t") && col("ca.bk") === col("cb.bk") &&
        col(s"ca.$id") =!= col(s"cb.$id"))
      .select(col(s"ca.$id").as("pid"), col(s"cb.$id").as("cid"))
      .distinct()
    cand
      .join(n.as("a"), col(s"a.$id") === col("pid"))
      .join(n.as("b"), col(s"b.$id") === col("cid"))
  }

  /** Multi-probe LSH top-k (r11 cont.; Lv et al., "Multi-Probe LSH:
    * Efficient Indexing for High-Dimensional Similarity Search",
    * VLDB 2007): instead of [[lshTopK]]'s `NumTables` independent
    * tables — each one a full corpus→bucket assignment — ONE table is
    * probed at the query's own bucket PLUS the `flipBits` buckets at
    * Hamming distance 1 (a near-miss on one hyperplane is the most
    * likely place a true neighbor hides; flipping one sign bit
    * reaches it). Same recall lever as more tables, paid on the tiny
    * PROBE side (probes × (1 + flipBits) lookup rows) instead of the
    * corpus side: the corpus is assigned and shuffled ONCE, and the
    * index holds ONE bucket id per vector instead of `NumTables` —
    * at 100 TB of vectors that is the difference between one keyed
    * shuffle and four, and a 4× smaller index. `flipBits = 0`
    * degenerates to single-table single-probe LSH (the recall floor
    * the fixture compares against). Shares the deterministic plane
    * matrix (table 0), so the DuckDB oracle derives the same codes;
    * exact cosine re-rank, id tiebreaks — the [[bruteTopK]]
    * determinism contract. */
  def multiProbeTopK(corpus: DataFrame, id: String, vec: String,
      probeIds: DataFrame, k: Int = 5,
      flipBits: Int = Similarity.PlanesPerTable)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val n = normalized(corpus, id, vec)
      .transform(scope.persist)
    val bk = n.withColumn("bk", expr(Similarity.bucketExprSparkFor(0)))
      .select(col(id), col("bk"))
      .transform(scope.persist)
    val probes = bk.join(probeIds, Seq(id), "left_semi")
      .withColumn("pbk", explode(array(
        col("bk") +: (0 until flipBits).map(b => expr(s"bk ^ ${1 << b}")): _*)))
      .select(col(id).as("pid"), col("pbk"))
    val cand = probes.join(bk.select(col(id).as("cid"), col("bk").as("cbk")),
        col("pbk") === col("cbk") && col("pid") =!= col("cid"))
      .select(col("pid"), col("cid"))
      .distinct()
    val pairs = cand
      .join(n.as("a"), col(s"a.$id") === col("pid"))
      .join(n.as("b"), col(s"b.$id") === col("cid"))
    rerank(pairs, id, k)
  }

  /** Corpus-wide k-NN graph over the LSH buckets — [[lshTopK]] with
    * EVERY vector as a probe, plus the MUTUAL flag (reverse edge in
    * the graph too): the precursor structure for SemDeDup-style
    * clustering and graph ANN. One corpus→(table, bucket) shuffle,
    * candidate volume Σ|bucket|², per-source window frame bounded by
    * the candidate count; the mutual flag is one pairs-scale
    * self-join on the reversed key — the corpus is never reshuffled.
    * Output `(src, rk, dst, cos, mutual)`, ordered.
    *
    * SCALE GUARDS (r7; the r6 verdict's "constant-factor discount on
    * all-pairs" finding): with a FIXED plane count the per-table
    * bucket population grows as n/2^planes, so the bucket self-join
    * is Θ(n²/2^planes) — quadratic in disguise. Two defenses, both
    * required on a real corpus:
    *  - `maxBucketSize > 0` drops (table, bucket) groups larger than
    *    the cap before the self-join (broadcast drop-list anti-join —
    *    the [[graft.dedup.DedupApi.minhashPairs]] `maxBucketSize` /
    *    Graph `MaxOrderSize` discipline, third repetition). A vector
    *    in a dropped bucket keeps its edges from the other
    *    `NumTables − 1` tables; only rows oversized in EVERY table
    *    lose out — exactly the degenerate near-duplicate mass a k-NN
    *    graph over raw buckets should not be fed anyway (dedup
    *    first, or use [[knnGraphScaled]]).
    *  - `planesPerTable` widens the code so expected bucket size
    *    n/2^planes stays at a TARGET constant: see [[planesFor]] and
    *    [[knnGraphScaled]], which picks planes ≈ log₂(n/target) from
    *    a corpus count — that makes candidate volume Θ(n·target),
    *    linear in n, the genuinely sub-quadratic plan.
    * The gated `ann_knn_graph` query passes the cap (mirrored
    * verbatim in its oracle); `EngineSpec` pins the planted-megabucket
    * behavior. */
  def knnGraph(corpus: DataFrame, id: String, vec: String, k: Int = 3,
      maxBucketSize: Int = 0,
      planesPerTable: Int = Similarity.PlanesPerTable)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val n = normalized(corpus, id, vec)
      .transform(scope.persist)
    val tables = (0 until Similarity.NumTables).map(t =>
      struct(lit(t).as("t"), expr(Similarity.bucketExprSparkFor(t, planesPerTable)).as("bk")))
    val tbAll = n.withColumn("tbl", explode(array(tables: _*)))
      .select(col(id), col("tbl.t").as("t"), col("tbl.bk").as("bk"))
      .transform(scope.persist)
    val tb =
      if (maxBucketSize <= 0) tbAll
      else {
        // broadcast the DROP list: oversized buckets are the rare
        // pathology by design, buckets <= cap are nearly all of them
        val oversized = tbAll.groupBy(col("t"), col("bk"))
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") > maxBucketSize)
          .select(col("t").as("f_t"), col("bk").as("f_bk"))
        tbAll.join(broadcast(oversized),
            col("t") === col("f_t") && col("bk") === col("f_bk"), "left_anti")
          .transform(scope.persist)
      }
    val cand = tb.as("ca").join(tb.as("cb"),
        col("ca.t") === col("cb.t") && col("ca.bk") === col("cb.bk") &&
        col(s"ca.$id") =!= col(s"cb.$id"))
      .select(col(s"ca.$id").as("src"), col(s"cb.$id").as("dst"))
      .distinct()
    val topk = cand
      .join(n.as("a"), col(s"a.$id") === col("src"))
      .join(n.as("b"), col(s"b.$id") === col("dst"))
      .select(col("src"), col("dst"), expr(s"$dot / (a.nrm * b.nrm)").as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("c").desc, col("dst"))))
      .filter(col("rk") <= k)
      .transform(scope.persist)
    val rev = topk.select(col("src").as("r_src"), col("dst").as("r_dst"))
    topk.join(rev, col("dst") === col("r_src") && col("src") === col("r_dst"), "left")
      .select(col("src"), col("rk"), col("dst"), round(col("c"), 6).as("cos"),
        col("r_src").isNotNull.as("mutual"))
      .orderBy(col("src"), col("rk"))
  }

  /** Planes per table so the EXPECTED bucket population lands at
    * `targetBucket`: ⌈log₂(n / targetBucket)⌉, floored at the
    * default [[Similarity.PlanesPerTable]]. With this width the
    * bucket self-join's candidate volume is Θ(n · targetBucket) —
    * LINEAR in corpus size — instead of the fixed-width
    * Θ(n² / 2^planes). */
  def planesFor(n: Long, targetBucket: Int = 256): Int =
    math.max(Similarity.PlanesPerTable,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
        math.log(2.0)).toInt)

  /** [[knnGraph]] sized for the data: ONE corpus count picks the
    * plane width via [[planesFor]] (expected bucket ≈ `targetBucket`)
    * and the bucket cap is enforced at 8× target, so even a
    * degenerate vector cluster (all-identical embeddings hash to one
    * bucket in EVERY table) bounds its pair volume at 64·target²
    * per table instead of |cluster|². This is the form to run on a
    * real corpus; the fixed-width [[knnGraph]] stays as the
    * oracle-parity gate surface. */
  def knnGraphScaled(corpus: DataFrame, id: String, vec: String, k: Int = 3,
      targetBucket: Int = 256)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val n = corpus.count()
    knnGraph(corpus, id, vec, k,
      maxBucketSize = targetBucket * 8,
      planesPerTable = planesFor(n, targetBucket))
  }

  /** Simplified silhouette (centroid-based — Hruschka et al.'s
    * standard large-data variant of Rousseeuw 1987): per cluster, the
    * mean of `s = (b − a) / max(a, b)` where `a` is the Euclidean
    * distance to the OWN centroid and `b` the distance to the nearest
    * OTHER centroid — the clustering-quality audit run after any
    * k-means/IVF build. 100 TB shape: centroids from ONE
    * map-combinable `graft_vecsum_dec` aggregate (k rows, collected
    * into a single broadcast row), scoring MAP-ONLY against the
    * broadcast centroid array (distance = √(x·x − 2·x·c + c·c), all
    * shared left-to-right folds), then one label-keyed combinable
    * aggregate of 12-dp-rounded DECIMAL terms — the corpus is never
    * joined or re-shuffled. */
  def silhouette(corpus: DataFrame, id: String, vec: String, label: String)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    graft.functions.Natives.ensure(corpus.sparkSession)
    val n = normalized(corpus, id, vec, passthrough = Seq(label))
      .transform(scope.persist)
    val cents = centroidMeans(n, Seq(label), "v").select(col(label).as("cl"), col("cm"))
      .select(struct(col("cl"), col("cm"), expr("graft_dot(cm, cm)").as("cc")).as("ct"))
      .agg(collect_list(col("ct")).as("cents"))
    val s = n.crossJoin(broadcast(cents))
      .select(col(label),
        // greatest(·, 0) before the sqrt: x·x − 2·x·c + c·c is ≥ 0 in
        // exact arithmetic but can land a few ulps NEGATIVE when x sits
        // on its centroid — sqrt would return NaN and poison the mean
        expr(s"""transform(cents, ct -> named_struct(
            'cl', ct.cl,
            'd', sqrt(greatest(graft_dot(v, v) - 2 * graft_dot(v, ct.cm) + ct.cc,
                               CAST(0 AS DOUBLE)))))""").as("ds"))
      .select(col(label),
        expr(s"element_at(filter(ds, x -> x.cl = $label), 1).d").as("a"),
        expr(s"array_min(transform(filter(ds, x -> x.cl <> $label), x -> x.d))").as("b"))
      .select(col(label),
        expr("CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b) ELSE CAST(0 AS DOUBLE) END").as("s"))
    s.groupBy(col(label))
      .agg(count(lit(1)).as("n"),
        sum(round(col("s"), 12).cast(DecimalType(28, 12))).cast(DoubleType).as("ssum"))
      .select(col(label), col("n"), round(col("ssum") / col("n"), 6).as("mean_sil"))
      .orderBy(col(label))
  }

  /** Radius (range) search: ALL same-bucket candidates within cosine
    * ≥ `tau` of each probe — the "find everything similar enough"
    * twin of [[lshTopK]] (top-k bounds the answer size; range search
    * bounds the SIMILARITY, the contract retrieval filters and
    * near-dup audits actually want). Candidate generation is the
    * identical 4-table hyperplane-bucket join — recall is bucket-
    * bounded by construction and the oracle mirrors the same buckets,
    * so the gate pins the full pipeline, not a lucky subset. Output
    * is every qualifying (probe, candidate, cos), ordered; size is
    * data-dependent (that is the point), bucket caps bound the
    * candidate volume at scale. */
  def lshRange(corpus: DataFrame, id: String, vec: String,
      probeIds: DataFrame, tau: Double)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    lshProbePairs(corpus, id, vec, probeIds)
      .select(col("pid").as("id_p"), col("cid").as("id_c"),
        expr(s"$dot / (a.nrm * b.nrm)").as("c"))
      .filter(col("c") >= tau)
      .select(col("id_p"), col("id_c"), round(col("c"), 6).as("cos"))
      .orderBy(col("id_p"), col("cos").desc, col("id_c"))
  }

  /** Deterministic Lloyd k-means cell assignment for IVF: fixed
    * iteration count, `id % kCells` init over a deterministic
    * training sample (`id % trainMod == 0` — the standard
    * train-quantizer-on-a-sample IVF recipe), decimal-exact centroid
    * means, cosine argmax assignment with cell-id tie-break. The
    * final iteration assigns the whole corpus. Every step is
    * merge-order-free (decimal centroid sums; dot products are
    * left-to-right folds over index-ordered centroid arrays), so the
    * whole index build is reproducible and DuckDB-oracle-verifiable
    * (the oracle unrolls the same iterations as CTEs).
    *
    * Scale shape per iteration: one NATIVE vector-sum centroid
    * aggregate over the sample ([[graft.functions.VecSumDec]] — one
    * dim-length buffer per partition per cell; the corpus is never
    * posexploded to corpus×dim rows), whose ≤ kCells rows are
    * collected and fed back as ONE literal array of centroids, then
    * a map-only `array_max` argmax over it — the corpus is never
    * shuffled or joined for assignment. */
  def kmeansCells(corpus: DataFrame, id: String, vec: String,
      kCells: Int = 8, iters: Int = 2, trainMod: Int = 1)(implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    require(iters >= 1 && kCells >= 1 && trainMod >= 1)
    graft.functions.Natives.ensure(corpus.sparkSession)
    val n = normalized(corpus, id, vec)
      .transform(scope.persist)
    val train = if (trainMod == 1) n else n.filter(pmod(col(id), lit(trainMod)) === 0)
    // the assignment rides the training frame as a COLUMN: each
    // iteration is one tiny centroid aggregate (map-side partial,
    // ≤ kCells rows collected to the driver) plus a map-only argmax
    // over the centroid literal — the corpus is never exchanged or
    // joined for assignment. (The r5-first-cut shape re-joined train
    // to an (id, cell) frame and hash-aggregated an argmax per
    // iteration: two corpus-scale exchanges per round that AQE ran as
    // separate jobs — pure overhead at bench scale and a corpus
    // shuffle per round at 100 TB.)
    var tr = train.withColumn("cell", pmod(col(id), lit(kCells)).cast("bigint"))
    var out: DataFrame = null
    for (it <- 1 to iters) {
      // per-position decimal sum + count from ONE aggregate ≡ the
      // per-(cell, i) decimal mean of the posexplode formulation,
      // bit-for-bit — including null/ragged vectors, since the count
      // is per POSITION, not per row
      val c = centroidMeans(tr, Seq("cell"), "v").withColumn("cn", expr("sqrt(graft_dot(cm, cm))"))
      // pmod keeps a cell in [0, kCells); a NULL id adds the NULL cell
      val cents = rowsLit(Small.rows(c, kCells + 1, "kmeansCells centroids"), c.schema)
      // map-only argmax: array_max uses the same struct ordering as
      // the max() aggregate — best cosine, smallest cell on ties
      val cellExpr = expr(
        """-array_max(transform(cents, ct ->
             named_struct('c', graft_dot(v, ct.cm) / (nrm * ct.cn),
                          'negc', -ct.cell))).negc""").as("cell")
      if (it == iters) out = n.withColumn("cents", cents).select(col(id), cellExpr)
      else tr = tr.withColumn("cents", cents).select(col(id), col("v"), col("nrm"), cellExpr)
    }
    out
  }

  /** Collected rows as ONE literal array of structs of `schema`'s row
    * type — what a Lloyd assignment's argmax/argmin fold reads in
    * place of a collect_list gather and a broadcast cross join. */
  private[graft] def rowsLit(rows: Array[Row], schema: StructType): Column = {
    // typedLit arrays may hold NULLs: widen the cast target to match
    val elem = StructType(schema.map(f => f.dataType match {
      case ArrayType(t, _) => f.copy(dataType = ArrayType(t)); case _ => f }))
    array(rows.map(r => struct(schema.indices.map(i => schema(i).dataType match {
      case ArrayType(DoubleType, _) => typedLit(r.getSeq[java.lang.Double](i))
      case _ => lit(r.get(i))
    }): _*)): _*).cast(ArrayType(elem))
  }

  /** Decimal-exact centroid means: ONE native vector-sum aggregate
    * ([[graft.functions.VecSumDec]]) per `keys` group, `as` = the
    * per-position sum over the per-position count. */
  private[graft] def centroidMeans(df: DataFrame, keys: Seq[String], vec: String, as: String = "cm"): DataFrame =
    df.groupBy(keys.map(col): _*).agg(call_function("graft_vecsum_dec", col(vec)).as("sv"))
      .select(keys.map(col) :+ expr("zip_with(sv.sum, sv.cnt, (x, c) -> CAST(x AS DOUBLE) / c)").as(as): _*)

  // ------------------------------------------------- product quantization
  /** Sub-vector rows for product quantization: one (id, s, vs) row per
    * subspace, vs = the s-th `subDim`-wide slice of the UNIT-normalized
    * double vector. Normalizing first makes squared L2 monotone with
    * cosine (`|a−b|² = 2 − 2·cos` on unit vectors), so PQ's L2
    * codebooks rank consistently with the rest of the cosine-based
    * suite (and recall vs [[bruteTopK]] is meaningful). */
  private def subVectors(corpus: DataFrame, id: String, vec: String,
      m: Int, subDim: Int): DataFrame =
    subspaceRows(
      corpus.select(col(id), expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("v0"))
        .select(col(id), expr("transform(v0, x -> x / sqrt(graft_dot(v0, v0)))").as("rv")),
      Seq(id), m, subDim)

  /** Explode a double-array column `rv` into one (…keep, s, vs) row
    * per `subDim`-wide subspace slice — shared by the raw and residual
    * PQ planes. */
  private def subspaceRows(df: DataFrame, keep: Seq[String], m: Int, subDim: Int): DataFrame =
    df.select(keep.map(col) :+ explode(array((0 until m).map(s =>
        struct(lit(s).as("s"), expr(s"slice(rv, ${s * subDim + 1}, $subDim)").as("vs"))): _*)).as("e"): _*)
      .select(keep.map(col) :+ col("e.s").as("s") :+ col("e.vs").as("vs"): _*)

  /** Map-only argmin over the codebook entries `cbs` of a row's
    * subspace: array_min uses the same struct ordering as the min()
    * aggregate — smallest squared L2 (monotone form `|c|² − 2·x·c`;
    * the |x|² term is constant per row), smallest code on ties. */
  private def codeArgmin(cbs: String): Column = expr(
    s"""array_min(transform($cbs, cb ->
         named_struct('score', cb.cn2 - CAST(2.0 AS DOUBLE) * graft_dot(vs, cb.cm),
                      'code', cb.code))).code""").as("code")

  /** [[codeArgmin]] over the entries of the row's subspace, with the
    * codebook — a local frame of ≤ m·kCodes rows, so collecting it
    * runs no job — riding as ONE literal array: map-only, the
    * sub-vector rows are never joined or exchanged for assignment. */
  private def assignCodes(sub: DataFrame, id: String, codebook: DataFrame): DataFrame =
    sub.withColumn("cbs", rowsLit(codebook.collect(), codebook.schema))
      .select(col(id), col("s"), col("vs"), codeArgmin("filter(cbs, cb -> cb.s = s)"))

  /** Product-quantization codebooks (Jégou, Douze & Schmid, TPAMI
    * 2011 "Product Quantization for Nearest Neighbor Search"): the
    * vector space splits into `m` orthogonal subspaces and each
    * learns an independent `kCodes`-entry codebook by the engine's
    * deterministic Lloyd recipe (id%k init on the id%trainMod sample,
    * decimal-exact centroid means via the native
    * [[graft.functions.VecSumDec]], L2 argmin assignment) — ALL
    * subspaces train in the same jobs (s is a column, not a loop), so
    * an iteration is one aggregate, whose ≤ m·kCodes rows are
    * collected, plus a map-only argmin over them as a literal,
    * regardless of m. Returns (s, code, cm, cn2) as a local frame. */
  def pqCodebooks(corpus: DataFrame, id: String, vec: String,
      m: Int = 8, subDim: Int = 8, kCodes: Int = 16, iters: Int = 2, trainMod: Int = 4)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    require(m >= 1 && subDim >= 1, s"bad pq geometry: m=$m subDim=$subDim")
    pqCodebooksFromSub(subVectors(corpus, id, vec, m, subDim), id, m, kCodes, iters, trainMod)
  }

  /** [[pqCodebooks]] over prebuilt (id, s, vs) sub-vector rows — the
    * entry the residual variant shares, so raw and residual codebooks
    * train through literally the same loop; `sub` has `m` subspaces. */
  private def pqCodebooksFromSub(sub: DataFrame, id: String,
      m: Int, kCodes: Int, iters: Int, trainMod: Int)(
      implicit scope: graft.CacheScope): DataFrame = {
    require(kCodes >= 1 && iters >= 1 && trainMod >= 1)
    graft.functions.Natives.ensure(sub.sparkSession)
    val train = sub
      .filter(pmod(col(id), lit(trainMod)) === 0)
      .transform(scope.persist)
    // like kmeansCells: the code rides the training rows as a column —
    // each iteration is one tiny (s, code) aggregate, collected, plus a
    // map-only argmin over the literal codebook entries of the row's
    // subspace; the sub-vector rows are never joined or exchanged
    // inside the loop
    var tr = train.select(col(id), col("s"), col("vs"),
      pmod(col(id), lit(kCodes)).cast("int").as("code"))
    var codebook: DataFrame = null
    for (it <- 1 to iters) {
      val c = centroidMeans(tr, Seq("s", "code"), "vs").withColumn("cn2", expr("graft_dot(cm, cm)"))
      // s is in [0, m), pmod keeps a code in [0, kCodes) and the
      // argmin only picks a collected one: at most m·kCodes entries
      codebook = Small(c, m * kCodes, "pq codebook")
      if (it < iters) tr = assignCodes(train, id, codebook)
    }
    codebook
  }

  /** PQ-ANN top-k by asymmetric distance (ADC): the corpus is stored
    * as m one-byte-scale codes per vector (the 8–64× memory
    * compression that makes billion-vector indexes fit executor
    * memory), probes compute one m×kCodes distance table against the
    * broadcast codebook, and the scan is a (s, code)-keyed broadcast
    * join + a decimal partial-sum per (probe, vector) — NO
    * full-vector dot against the corpus anywhere. The ADC score omits
    * the constant |q|² term (rank-preserving); partial sums
    * accumulate in DECIMAL so the merge order can never flip a rank
    * (the oracle sums the identical casts). Exact re-ranking of the
    * PQ top-k (the standard refinement) is [[AnnApi.bruteTopK]] over
    * the survivors — the gated query pins the PURE PQ ranking so the
    * quantization math itself is what the oracle checks. */
  /** The per-probe subspace distance table: one (id_p, s, code,
    * partial) row per probe × codebook entry, `partial = |c|² − 2·q·c`
    * — shared by [[pqTopK]] and [[ivfPqTopK]] so the ADC score has
    * exactly one definition. */
  private def probeDistTable(sub: DataFrame, id: String,
      probeIds: DataFrame, codebook: DataFrame): DataFrame =
    sub.join(probeIds, Seq(id), "left_semi")
      .join(broadcast(codebook), Seq("s"))
      .select(col(id).as("id_p"), col("s"), col("code"),
        (col("cn2") - lit(2.0) * expr("graft_dot(vs, cm)")).as("partial"))

  /** The ADC tail shared by [[pqTopK]] and [[ivfPqTopK]]: decimal
    * partial-sum per (probe, candidate) — merge order can never flip
    * a rank — then top-`k` per probe by (adc asc, id_c). `scored` is
    * (id_p, id_c, partial) rows, m per (probe, candidate). */
  private def adcTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("id_p"), col("id_c"))
      .agg(sum(col("partial").cast(DecimalType(28, 12))).cast("double").as("adc"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id_p")).orderBy(col("adc").asc, col("id_c"))))
      .filter(col("rk") <= k)
      .select(col("id_p"), col("rk"), col("id_c"), round(col("adc"), 6).as("adc"))
      .orderBy(col("id_p"), col("rk"))

  def pqTopK(corpus: DataFrame, id: String, vec: String, probeIds: DataFrame,
      k: Int = 5, m: Int = 8, subDim: Int = 8, kCodes: Int = 16,
      iters: Int = 2, trainMod: Int = 4)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val codebook = pqCodebooks(corpus, id, vec, m, subDim, kCodes, iters, trainMod)
    val sub = subVectors(corpus, id, vec, m, subDim)
      .transform(scope.persist)
    val codes = assignCodes(sub, id, codebook)
    val padt = probeDistTable(sub, id, probeIds, codebook)
    adcTopK(
      codes.join(broadcast(padt), Seq("s", "code"))
        .filter(col("id_p") =!= col(id))
        .select(col("id_p"), col(id).as("id_c"), col("partial")),
      k)
  }

  /** IVF-style top-k: coarse cells from `cell` (a cluster label),
    * probes search their `nProbeCells` nearest cell centroids
    * (decimal-exact centroid build), exact re-rank inside.
    *
    * Scale shape: centroids come from ONE native vector-sum aggregate
    * ([[graft.functions.VecSumDec]] — a dim-length buffer per
    * partition per cell, no corpus×dim posexplode), probe→centroid
    * dots are decimal `zip_with` folds against the broadcast centroid
    * arrays (order-free ≡ the per-dimension join+sum), and only the
    * probed cells' rows enter the re-rank join. */
  /** (pid, probe_cell) rows: each probe's `nProbeCells` nearest cell
    * centroids by cosine — decimal-exact centroid build from the
    * current assignment, broadcast centroid arrays, native dots. The
    * cell-pruning half shared by [[ivfTopK]] and [[ivfPqTopK]]. */
  private def probeTopCells(n: DataFrame, id: String, cell: String,
      probeIds: DataFrame, nProbeCells: Int): DataFrame = {
    // centroid MEANS are decimal-exact (merge-order-free across
    // partitions); norms and probe dots over the resulting index-
    // ordered arrays are left-to-right double folds — per-row, fixed
    // order, so deterministic without decimal (≡ oracle list_reduce)
    val centArr = centroidMeans(n, Seq(cell), "v").withColumn("cn", expr("sqrt(graft_dot(cm, cm))"))
    n.join(probeIds, Seq(id), "left_semi")
      .select(col(id).as("id_p"), col("v"), col("nrm"))
      .crossJoin(broadcast(centArr.select(col(cell).as("cl"), col("cm"), col("cn"))))
      .select(col("id_p"), col("cl"), col("nrm"), col("cn"), expr(
        "graft_dot(v, cm)").as("dt"))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("id_p"))
          .orderBy((col("dt") / (col("nrm") * col("cn"))).desc, col("cl"))))
      .filter(col("crk") <= nProbeCells)
      .select(col("id_p").as("pid"), col("cl").as("probe_cell"))
  }

  def ivfTopK(corpus: DataFrame, id: String, vec: String, cell: String,
      probeIds: DataFrame, k: Int = 5, nProbeCells: Int = 2)(implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    graft.functions.Natives.ensure(corpus.sparkSession)
    val n = normalized(corpus, id, vec, passthrough = Seq(cell))
      .transform(scope.persist)
    val topCells = probeTopCells(n, id, cell, probeIds, nProbeCells)
    val pairs = topCells
      .join(n.as("a"), col(s"a.$id") === col("pid"))
      .join(n.as("b"), col(s"b.$cell") === col("probe_cell") && col(s"b.$id") =!= col(s"a.$id"))
    rerank(pairs, id, k)
  }

  /** The IVF half of [[ivfPqTopK]] and [[ivfPqResidualTopK]]: the
    * normalized corpus carrying its k-means `cell`, each probe's
    * `nProbeCells` nearest cells (pid, probe_cell), and the candidates
    * (pid, pcell, id_c) — every other row in those cells, so the
    * corpus is restricted to the probed cells BEFORE any ADC work. */
  private def ivfCandidates(corpus: DataFrame, id: String, vec: String, probeIds: DataFrame,
      nProbeCells: Int, kCells: Int, kmIters: Int, trainMod: Int)(
      implicit scope: graft.CacheScope): (DataFrame, DataFrame, DataFrame) = {
    val cells = kmeansCells(corpus, id, vec, kCells, kmIters, trainMod)
      .transform(scope.persist)
    val n = normalized(corpus.join(cells, Seq(id)), id, vec, passthrough = Seq("cell"))
      .transform(scope.persist)
    val topCells = probeTopCells(n, id, "cell", probeIds, nProbeCells)
    val cand = topCells
      .join(cells.select(col(id).as("id_c"), col("cell")),
        col("cell") === col("probe_cell"))
      .filter(col("id_c") =!= col("pid"))
      .select(col("pid"), col("probe_cell").as("pcell"), col("id_c"))
    (n, topCells, cand)
  }

  /** IVF+PQ — the standard billion-vector index composition (Jégou et
    * al.'s IVFADC, here over raw-vector codebooks rather than
    * residuals — the residual refinement changes the codebook input,
    * not the plan shape): the k-means coarse quantizer prunes the
    * corpus to each probe's `nProbeCells` cells, and the PQ ADC scan
    * scores ONLY those cells' codes — memory stays m codes/vector,
    * compute drops from corpus-scale to probed-cell-scale. Every
    * ingredient reuses its standalone-gated machinery
    * ([[kmeansCells]], [[pqCodebooks]], the ADC decimal partial-sum),
    * so the composed oracle is the composed CTEs. */
  def ivfPqTopK(corpus: DataFrame, id: String, vec: String, probeIds: DataFrame,
      k: Int = 5, nProbeCells: Int = 2, kCells: Int = 8, kmIters: Int = 2,
      m: Int = 8, subDim: Int = 8, kCodes: Int = 16,
      pqIters: Int = 2, trainMod: Int = 4)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val (_, _, cand) = ivfCandidates(corpus, id, vec, probeIds, nProbeCells, kCells, kmIters, trainMod)
    val codebook = pqCodebooks(corpus, id, vec, m, subDim, kCodes, pqIters, trainMod)
    val sub = subVectors(corpus, id, vec, m, subDim)
      .transform(scope.persist)
    val codes = assignCodes(sub, id, codebook)
    val padt = probeDistTable(sub, id, probeIds, codebook)
    adcTopK(
      cand
        .join(codes.select(col(id).as("id_c"), col("s"), col("code")), Seq("id_c"))
        .as("L")
        .join(broadcast(padt.as("R")),
          col("R.id_p") === col("L.pid") && col("R.s") === col("L.s") &&
            col("R.code") === col("L.code"))
        .select(col("L.pid").as("id_p"), col("L.id_c").as("id_c"), col("R.partial").as("partial")),
      k)
  }

  /** Residual IVFADC — the full Jégou et al. recipe: PQ codebooks
    * learn the RESIDUAL `u − centroid(cell)` of each unit vector
    * against its coarse cell, which is what makes the codebook budget
    * spent on local structure instead of re-encoding cell position
    * (the refinement [[ivfPqTopK]]'s scaladoc promises; same plan
    * shape, different codebook input). Consequences threaded through:
    * ONE global codebook over residuals from all cells (standard),
    * candidate codes are consistent because a candidate's stored code
    * is its residual vs its OWN cell = the probed cell it is found
    * in, and the probe computes one distance table PER PROBED CELL
    * (its residual differs per cell) — the table is
    * nProbeCells·m·kCodes rows, still broadcast-scale. */
  def ivfPqResidualTopK(corpus: DataFrame, id: String, vec: String, probeIds: DataFrame,
      k: Int = 5, nProbeCells: Int = 2, kCells: Int = 8, kmIters: Int = 2,
      m: Int = 8, subDim: Int = 8, kCodes: Int = 16,
      pqIters: Int = 2, trainMod: Int = 4)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    graft.functions.Natives.ensure(corpus.sparkSession)
    val (n, topCells, cand) = ivfCandidates(corpus, id, vec, probeIds, nProbeCells, kCells, kmIters, trainMod)
    val unit = n.select(col(id), col("cell"), expr("transform(v, x -> x / nrm)").as("u"))
    // decimal-exact unit-vector centroid per cell (kCells rows)
    val cent = centroidMeans(unit, Seq("cell"), "u", as = "cu").transform(scope.persist)
    val rsub = subspaceRows(
        unit.join(broadcast(cent), Seq("cell"))
          .select(col(id), expr("zip_with(u, cu, (a, b) -> a - b)").as("rv")),
        Seq(id), m, subDim)
      .transform(scope.persist)
    val codebook = pqCodebooksFromSub(rsub, id, m, kCodes, pqIters, trainMod)
    val codes = assignCodes(rsub, id, codebook)
    // one distance table per (probe, probed cell): the probe's residual
    // against THAT cell's centroid
    val probeU = unit.join(probeIds, Seq(id), "left_semi")
      .select(col(id).as("pid0"), col("u"))
    val pres = subspaceRows(
        topCells.join(probeU, col("pid") === col("pid0"))
          .join(broadcast(cent), col("cell") === col("probe_cell"))
          .select(col("pid"), col("probe_cell"),
            expr("zip_with(u, cu, (a, b) -> a - b)").as("rv")),
        Seq("pid", "probe_cell"), m, subDim)
    val padt = pres.join(broadcast(codebook), Seq("s"))
      .select(col("pid").as("id_p"), col("probe_cell").as("pcell"), col("s"), col("code"),
        (col("cn2") - lit(2.0) * expr("graft_dot(vs, cm)")).as("partial"))
    adcTopK(
      cand
        .join(codes.select(col(id).as("id_c"), col("s"), col("code")), Seq("id_c"))
        .as("L")
        .join(broadcast(padt.as("R")),
          col("R.id_p") === col("L.pid") && col("R.pcell") === col("L.pcell") &&
            col("R.s") === col("L.s") && col("R.code") === col("L.code"))
        .select(col("L.pid").as("id_p"), col("L.id_c").as("id_c"), col("R.partial").as("partial")),
      k)
  }

  /** Scalar-quantization (SQ8) ANN: every dimension of the
    * unit-normalized corpus is quantized to one byte against a
    * per-dimension [min, max] calibration range — the 8× compression
    * path when PQ's codebook training is overkill (SQ preserves per-
    * dimension structure; PQ compresses harder but needs Lloyd).
    *
    * Scale shape: calibration is ONE native element-wise min/max
    * aggregate ([[graft.functions.VecMinMax]] — a dim-length buffer
    * per partition, no corpus×dim posexplode) broadcast back as a
    * single row; encode and decode are per-row `transform` lambdas
    * (map-only, no shuffle); scoring is the asymmetric-distance dot of
    * the EXACT probe vector against the reconstructed candidate (the
    * SQ analog of PQ's ADC), deterministic via the native
    * left-to-right `graft_dot` fold. The corpus is never shuffled.
    *
    * The gated query pins the quantizer + reconstruction + ranking
    * hash-exact against a posexplode DuckDB oracle; recall vs
    * [[bruteTopK]] is asserted in `PqSpec`. */
  def sq8TopK(corpus: DataFrame, id: String, vec: String, probeIds: DataFrame,
      k: Int = 5)(implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    graft.functions.Natives.ensure(corpus.sparkSession)
    val pnv = normalized(corpus, id, vec)
      .select(col(id), expr("transform(v, x -> x / nrm)").as("v"))
      .transform(scope.persist)
    val mm = pnv.agg(call_function("graft_vecminmax", col("v")).as("mm"))
      .select(col("mm.mins").as("mns"), col("mm.maxs").as("mxs"))
    // the compressed index: one 0..255 code per dimension
    val codes = pnv.crossJoin(broadcast(mm))
      .select(col(id), expr(
        """transform(v, (x, i) ->
             CASE WHEN element_at(mxs, i + 1) = element_at(mns, i + 1) THEN CAST(0 AS BIGINT)
             ELSE least(CAST(floor((x - element_at(mns, i + 1))
               / (element_at(mxs, i + 1) - element_at(mns, i + 1)) * 256.0) AS BIGINT),
               CAST(255 AS BIGINT)) END)""").as("codes"))
    // bin-center reconstruction, decoded on the fly (map-only)
    val recon = codes.crossJoin(broadcast(mm))
      .select(col(id), expr(
        """transform(codes, (c, i) ->
             element_at(mns, i + 1) + (CAST(c AS DOUBLE) + 0.5)
               * (element_at(mxs, i + 1) - element_at(mns, i + 1)) / 256.0)""").as("rv"))
    val probes = pnv.join(probeIds, Seq(id), "left_semi")
    probes.as("a").join(recon.as("b"), col(s"a.$id") =!= col(s"b.$id"))
      .select(col(s"a.$id").as("id_p"), col(s"b.$id").as("id_c"),
        expr("graft_dot(a.v, b.rv)").as("s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id_p")).orderBy(col("s").desc, col("id_c"))))
      .filter(col("rk") <= k)
      .select(col("id_p"), col("rk"), col("id_c"), round(col("s"), 6).as("score"))
      .orderBy(col("id_p"), col("rk"))
  }

  /** Top principal component of an embedding corpus by power iteration
    * on the EXACT covariance matrix. The corpus contributes through
    * ONE scan — the native decimal moment aggregates
    * ([[graft.functions.VecSumDec]] / [[graft.functions.OuterSumDec]])
    * reduce it to a d(d+1)/2 triangle that is metadata-scale by
    * construction (d = embedding width, not corpus size), so the
    * driver-side iteration is O(d²·iters) on a few KB — the same
    * "aggregate to metadata, then finish locally" shape as
    * [[kmeansCells]]' centroid updates. Deterministic: exact decimal
    * sums (merge-order-free), a fixed all-ones start vector, a fixed
    * iteration count, and a deterministic sign convention (first
    * nonzero coordinate positive).
    *
    * Returns (eigenvector, eigenvalue). Power iteration converges to
    * the dominant eigenpair at rate (λ₂/λ₁)^iters; embeddings with a
    * spread spectrum converge in well under the default 100 rounds. */
  def principalComponent(corpus: DataFrame, vec: String,
      iters: Int = 100): (Array[Double], Double) = {
    val (cov, _, _) = covarianceMoments(corpus, vec)
    powerIterate(cov, iters)
  }

  /** One corpus scan → (covariance matrix, per-dim mean, n), all
    * driver-side doubles derived from the exact decimal moments
    * (metadata scale: one d-vector + d(d+1)/2 triangle rows). */
  private def covarianceMoments(corpus: DataFrame, vec: String): (Array[Array[Double]], Array[Double], Double) = {
    val spark = corpus.sparkSession
    graft.functions.Natives.ensure(spark)
    val row = corpus
      .select(expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("v"))
      .agg(call_function("graft_vecsum_dec", col("v")).as("sv"),
        call_function("graft_outer_sum_dec", col("v")).as("so"))
      .select(col("sv.sum").as("sx"), col("so"))
      .head()
    val sx = row.getSeq[java.math.BigDecimal](0).map(d => if (d == null) 0.0 else d.doubleValue).toArray
    val tri = row.getSeq[org.apache.spark.sql.Row](1)
    val d = sx.length
    require(d > 0, "principalComponent: empty corpus")
    val cov = Array.ofDim[Double](d, d)
    var nRows = 0.0
    tri.foreach { r =>
      val (i, j) = (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1)
      val sxy = if (r.isNullAt(2)) 0.0 else r.getDecimal(2).doubleValue
      val n = r.getLong(3).toDouble
      nRows = n
      val c = (sxy - sx(i) * sx(j) / n) / n
      cov(i)(j) = c
      cov(j)(i) = c
    }
    (cov, sx.map(_ / nRows), nRows)
  }

  /** Fixed-count power iteration with the deterministic start vector
    * and first-nonzero-positive sign convention (see
    * [[principalComponent]]). Every operation is a fixed-order IEEE
    * expression, so an engine replaying the same matrix and count
    * reproduces the eigenvector bit-for-bit. */
  private def powerIterate(cov: Array[Array[Double]], iters: Int): (Array[Double], Double) = {
    val d = cov.length
    var v = Array.fill(d)(1.0 / math.sqrt(d))
    var lambda = 0.0
    var it = 0
    while (it < iters) {
      val w = Array.tabulate(d)(i => {
        var s = 0.0; var j = 0
        while (j < d) { s += cov(i)(j) * v(j); j += 1 }
        s
      })
      val nrm = math.sqrt(w.map(x => x * x).sum)
      if (nrm == 0.0) it = iters // degenerate: zero matrix, keep start vector
      else {
        lambda = nrm
        v = w.map(_ / nrm)
        it += 1
      }
    }
    val lead = v.indexWhere(_ != 0.0)
    if (lead >= 0 && v(lead) < 0) v = v.map(-_)
    (v, lambda)
  }

  /** PCA projection: every vector's coordinate along the dominant
    * principal component, centered — `proj = (x − mean) · e`. The
    * whitening/visualization/outlier-audit primitive next to
    * [[principalComponent]]. Two corpus scans total: ONE decimal-
    * moment aggregate (covariance + mean driver-side, metadata
    * scale), the power iteration on the driver (O(d²·iters) on a few
    * KB), then e and mean broadcast back AS LITERALS into a map-only
    * projection pass — the corpus is never shuffled and never
    * re-aggregated. Deterministic end to end: the eigenvector is a
    * fixed-order IEEE computation from exact decimal moments, and the
    * projection is the shared left-to-right `graft_dot` fold, so a
    * DuckDB replay of the same iterations agrees bit-for-bit. */
  def pcaProject(corpus: DataFrame, id: String, vec: String,
      iters: Int = 100): DataFrame = {
    val (cov, mean, _) = covarianceMoments(corpus, vec)
    val (e, _) = powerIterate(cov, iters)
    graft.functions.Natives.ensure(corpus.sparkSession)
    val meanA = array(mean.map(lit): _*)
    val eA = array(e.map(lit): _*)
    corpus.select(col(id), expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("vv"))
      .select(col(id),
        call_function("graft_dot", zip_with(col("vv"), meanA, (x, m) => x - m), eA).as("proj"))
  }

  /** Reciprocal-rank fusion (Cormack–Clarke–Büttcher SIGIR 2009) of
    * a lexical and a vector ranked list — the hybrid-retrieval
    * combiner every production search stack ships (Elasticsearch 8 /
    * OpenSearch / Vespa hybrid mode): fused(d) = Σ over the lists
    * containing d of 1/(kRrf + rank_d), kRrf = 60 per the paper.
    * Rank-based fusion needs no score calibration between the two
    * retrievers — exactly why it won over weighted-score mixes.
    *
    * Inputs are `(id_p, doc_id, rk)` ranked lists. Shape: the fusion
    * is a UNION + one shrinking (probe, doc)-grain aggregate —
    * map-combinable, never a join, and generalizes to N lists at the
    * same one-aggregate cost. Each 1/(kRrf+rk) is one correctly-
    * rounded IEEE division of exact integers and the two-term sum is
    * commutative, so the fused score is bit-identical under any
    * partitioning/merge order. Ties broken by doc_id. */
  /** BM25 top-k retrieval over a text corpus (r11): per probe doc,
    * rank candidates by the Okapi BM25 score of the probe's DISTINCT
    * tokens against the candidate ([[graft.operators.Insights.q73]]'s
    * exact 12-dp-decimal per-term discipline, multi-query) — the
    * lexical retrieval arm (exact; nothing approximate to audit) that
    * pairs with the vector side in hybrid fusion ([[rrfFuse]]).
    * Output `(id_p, id_c, rk, s)` with `s` the EXACT decimal score
    * (rank on it, surface `CAST(s AS DOUBLE)` — ties broken by
    * candidate id, so equal-scored candidates order deterministically).
    *
    * Scale shape: the corpus explodes once to (doc, tok) and is
    * immediately semi-joined to the probes' token vocabulary — the
    * inverted-index access path (only postings of query terms
    * survive, the classic DAAT traversal): tf is a keyed aggregate of
    * that filtered stream, df a vocab-grain aggregate of tf, and the
    * probe vocabulary/df/corpus-stats all ride back as broadcasts.
    * The corpus is never joined to itself and never re-scanned. */
  def bm25TopK(docs: DataFrame, id: String, textCol: String,
      probeIds: DataFrame, depth: Int)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    import graft.Portable
    val t = docs.select(col(id).as("doc_id"),
      split(Portable.normText(col(textCol)), " ").as("toks"))
    val tokd = scope.persist(t.select(col("doc_id"),
      size(col("toks")).cast("long").as("dl"), explode(col("toks")).as("tok")))
    val st = t.select(size(col("toks")).cast("long").as("dl"))
      .agg(count(lit(1)).cast("long").as("nd"),
        (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    val qv = tokd.join(probeIds.select(col(probeIds.columns.head).as("doc_id")),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("id_p"), col("tok")).distinct()
    val qtoks = qv.select(col("tok")).distinct()
    val tf = tokd.join(broadcast(qtoks), Seq("tok"), "left_semi")
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val dft = tf.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("df"))
    val term = tf.join(broadcast(qv), Seq("tok"))
      .filter(col("doc_id") =!= col("id_p"))
      .join(broadcast(dft), Seq("tok"))
      .crossJoin(broadcast(st))
      .selectExpr("id_p", "doc_id",
        s"CAST(${graft.operators.Insights.bm25Frag} AS DECIMAL(28,12)) AS ts")
    term.groupBy(col("id_p"), col("doc_id")).agg(sum(col("ts")).as("s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id_p")).orderBy(col("s").desc, col("doc_id"))))
      .filter(col("rk") <= depth)
      .select(col("id_p"), col("doc_id").as("id_c"), col("rk"), col("s"))
  }

  def rrfFuse(lex: DataFrame, vec: DataFrame, kRrf: Int = 60,
      k: Int = 10): DataFrame = {
    val u = lex.selectExpr("id_p", "doc_id",
        s"CAST(1 AS DOUBLE) / ($kRrf + rk) AS term",
        "CAST(rk AS BIGINT) AS lex_rk", "CAST(NULL AS BIGINT) AS vec_rk")
      .unionAll(vec.selectExpr("id_p", "doc_id",
        s"CAST(1 AS DOUBLE) / ($kRrf + rk) AS term",
        "CAST(NULL AS BIGINT) AS lex_rk", "CAST(rk AS BIGINT) AS vec_rk"))
    u.groupBy(col("id_p"), col("doc_id"))
      .agg(sum(col("term")).as("rrf"), min(col("lex_rk")).as("lex_rk"),
        min(col("vec_rk")).as("vec_rk"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id_p")).orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("id_p"), col("rk"), col("doc_id"), col("rrf"),
        col("lex_rk"), col("vec_rk"))
      .orderBy(col("id_p"), col("rk"))
  }

  /** 12-dp position discounts 1/log₂(i+1), i = 1..k — surfaced as
    * LITERALS in both engines (the libm log never runs inside a
    * gated plan), so the discount table IS the metric's definition,
    * the standard practice for a pinned offline-eval harness. */
  def ndcgDiscounts(k: Int): IndexedSeq[java.math.BigDecimal] =
    (1 to k).map { i =>
      java.math.BigDecimal.valueOf(1.0 / (math.log(i + 1.0) / math.log(2.0)))
        .setScale(12, java.math.RoundingMode.HALF_UP)
    }

  /** Shared CASE fragment mapping a rank column to its literal
    * discount — identical text in the Spark plan and the oracle. */
  def ndcgCaseSql(rkCol: String, k: Int): String =
    ndcgDiscounts(k).zipWithIndex.map { case (d, i) =>
      s"WHEN ${i + 1} THEN CAST(${d.toPlainString} AS DECIMAL(14,12))"
    }.mkString(s"CASE $rkCol ", " ", " ELSE CAST(0 AS DECIMAL(14,12)) END")

  /** Ideal DCG@k for graded gains k, k−1, …, 1 — exact decimal sum
    * of the literal discounts, so a perfect ranking's nDCG is
    * EXACTLY 1.0 in both engines. */
  def ndcgIdcg(k: Int): java.math.BigDecimal =
    ndcgDiscounts(k).zipWithIndex.map { case (d, i) =>
      d.multiply(java.math.BigDecimal.valueOf((k - i).toLong))
    }.reduce(_.add(_))

  /** nDCG@k of an approximate ranked list against the exact ranking
    * (graded relevance: the exact top-k at rank r carries gain
    * k+1−r, everything else 0) — the ranking-quality readout that
    * complements recall@k: recall says WHETHER the true neighbors
    * surfaced, nDCG says whether they surfaced in the right ORDER
    * (Järvelin–Kekäläinen 2002). Inputs `(id_p, rk, id_c)`.
    *
    * Determinism: gains are exact integers, discounts 12-dp decimal
    * literals, so each DCG term and the per-probe sum are EXACT
    * decimal arithmetic — the only IEEE op is the final division by
    * the ideal-DCG literal. Shape: one probe-sample-sized broadcast
    * left join + one probe-grain aggregate; corpus-scale cost lives
    * entirely in the two ranked lists being audited. */
  /** Composed retrieval-quality report: recall@5 AND nDCG@10 of the
    * LSH index against the exact ranking, both read off ONE persisted
    * pair of depth-10 rankings — the train-once/read-many
    * composition (`pipeline_ml_readouts` / `pipeline_graph_centrality`
    * pattern): the two corpus-scale candidate scans run once, the
    * recall@5 frames are FILTERS of the depth-10 lists (a prefix of
    * a deterministic ranking is the shallower ranking), and each
    * readout is probe-sample-sized algebra. Output keyed
    * `(readout, id_p, n_hits, value)`. */
  def retrievalEval(corpus: DataFrame, id: String, vec: String,
      probeIds: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val brute = scope.persist(bruteTopK(corpus, id, vec, probeIds, 10))
    val approx = scope.persist(lshTopK(corpus, id, vec, probeIds, 10))
    val l5 = approx.filter(col("rk") <= 5)
      .select(col("id_p").as("lp"), col("id_c").as("lc"))
    val rec = brute.filter(col("rk") <= 5)
      .join(broadcast(l5), col("id_p") === col("lp") && col("id_c") === col("lc"), "left")
      .groupBy(col("id_p")).agg(count(col("lc")).cast("long").as("n_hits"))
      .selectExpr("id_p", "n_hits", "CAST(n_hits AS DOUBLE) / 5.0 AS value")
    val nd = ndcgReadout(approx, brute, 10)
      .select(col("id_p"), col("n_hits"), col("ndcg").as("value"))
    nd.select(lit("ndcg10").as("readout"), col("id_p"), col("n_hits"), col("value"))
      .unionAll(rec.select(lit("recall5").as("readout"), col("id_p"),
        col("n_hits"), col("value")))
      .orderBy(col("readout"), col("id_p"))
  }

  def ndcgReadout(approx: DataFrame, exact: DataFrame, k: Int = 10): DataFrame = {
    val idcg = ndcgIdcg(k).toPlainString
    val ex = exact.select(col("id_p").as("ep"), col("id_c").as("ec"),
      col("rk").as("brk"))
    approx.join(broadcast(ex),
        col("id_p") === col("ep") && col("id_c") === col("ec"), "left")
      .selectExpr("id_p", "rk",
        s"CAST(coalesce(${k + 1} - brk, 0) AS BIGINT) AS rel")
      .selectExpr("id_p", "rel",
        s"CAST(rel * ${ndcgCaseSql("rk", k)} AS DECIMAL(28,12)) AS term")
      .groupBy(col("id_p"))
      .agg(sum(when(col("rel") > 0, 1L).otherwise(0L)).cast("long").as("n_hits"),
        sum(col("term")).as("dcg"))
      .selectExpr("id_p", "n_hits", "CAST(dcg AS DOUBLE) AS dcg",
        s"CAST(dcg AS DOUBLE) / CAST($idcg AS DOUBLE) AS ndcg")
      .orderBy(col("id_p"))
  }
}
