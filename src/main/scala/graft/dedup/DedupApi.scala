package graft.dedup

import graft.Portable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** User-facing parameterized dedup API (the library surface a
  * pipeline imports; the `Dedup` QueryDefs are thin instantiations).
  * All pipelines are relational plans: signature build is map-side,
  * the only shuffle keys are the bucket/block keys, candidate pairs
  * form exclusively inside buckets with `idA < idB`.
  */
object DedupApi {
  import Portable._

  /** Exact dedup: one surviving (min-id) row id per normalized-text
    * hash. `keep` joins back to the input for the surviving rows. */
  def exactGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(normText(col(text))).as("h"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"))

  def exactKeep(df: DataFrame, id: String, text: String): DataFrame =
    df.join(exactGroups(df, id, text).select(col("keep_id").as(id)), Seq(id), "left_semi")

  /** Word-shingle sets per row (distinct k-shingles of the
    * whitespace-normalized text); rows with < k tokens drop out.
    * Sorted ascending so the verify joins can run the native
    * merge-walk intersect ([[graft.functions.SortedInterSizeExpr]])
    * instead of per-pair hash-set builds. */
  def shingles(df: DataFrame, id: String, text: String, k: Int = 3): DataFrame =
    df.select(col(id), split(normText(col(text)), " ").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col(id), array_sort(wordShingles(col("toks"), k)).as("sh"))

  /** HASHED word-shingle sets per row (h60 of the distinct k-shingles,
    * ascending) via the native one-pass `graft_word_shingles` — the r5
    * representation of the MinHash path: the per-shingle interpreted
    * concat/md5/conv lambda disappears, downstream shuffles carry
    * 8-byte longs, the verify merge-walk compares longs, and the
    * MinHash values are IDENTICAL (the affine family always hashed
    * through h60 first). Exact against the string oracle because both
    * engines md5 the same distinct strings — a collision merges the
    * same two shingles on both sides (the `text_dup_ngram_fraction`
    * argument). Rows with < k tokens drop out (empty fingerprint
    * set). */
  def shingleHashes60(df: DataFrame, id: String, text: String, k: Int = 3): DataFrame = {
    graft.functions.Natives.ensure(df.sparkSession)
    df.select(col(id),
        graft.functions.WordShingles.hashes(normText(col(text)), k).as("sh"))
      .filter(size(col("sh")) > 0)
  }

  /** MinHash signature COLUMNS (id, m0..m{n−1}) — the shared build
    * behind [[minhashBands]], exposed (r8) so audits like
    * [[minhashFidelity]] can read the raw coordinates. Native
    * one-pass signature build when the standard hash family is
    * requested (16 running minima in one array walk instead of 16
    * array_min(transform(...)) scans); non-default families keep the
    * composed form. The two-step select stops CollapseProject from
    * inlining the sigs call 16 times. Accepts BOTH shingle
    * representations: raw strings ([[shingles]] — hash here) or h60
    * longs ([[shingleHashes60]] — only the mod-P remains). */
  def signatureCols(sh: DataFrame, id: String,
      numHashes: Int = NumHashes): DataFrame = {
    val hashed = sh.schema("sh").dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val hs =
      if (hashed) sh.select(col(id), expr(s"transform(sh, h -> h % ${Portable.P}L)").as("hs"))
      else sh.select(col(id), shingleHashes(col("sh")).as("hs"))
    if (numHashes == NumHashes) {
      graft.functions.Natives.ensure(sh.sparkSession)
      hs.select(col(id), graft.functions.MinhashSigs.sigs(col("hs")).as("ms"))
        .select(col(id) +: (0 until numHashes).map(j =>
          element_at(col("ms"), j + 1).as(s"m$j")): _*)
    } else
      hs.select(col(id) +: (0 until numHashes).map(j =>
        minhashOfHashes(col("hs"), j).as(s"m$j")): _*)
  }

  /** Exploded LSH band keys: numHashes minhash signatures split into
    * `bands` bands. One row per (id, band). */
  def minhashBands(sh: DataFrame, id: String,
      numHashes: Int = NumHashes, bands: Int = Bands): DataFrame = {
    val rows = numHashes / bands
    val sig = signatureCols(sh, id, numHashes)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        concat_ws("_", (0 until rows).map(r => col(s"m${b * rows + r}")): _*).as("band_key"))
    }
    sig.select(col(id), explode(array(bandStructs: _*)).as("band"))
      .select(col(id), col("band.band_idx").as("band_idx"), col("band.band_key").as("band_key"))
  }

  /** MinHash+LSH near-dup pairs with exact Jaccard verification.
    * Shingle sets and band keys are persisted (memory-and-disk): both
    * feed multiple joins, and recomputing them means re-hashing the
    * corpus 3×. At 100 TB the same role is played by checkpointing
    * the signature table to the lake between stages. Persist lifetime
    * is governed by the implicit [[graft.CacheScope]] (as in every
    * persisting method here): wrap composed calls in
    * `CacheScope.withScope` to release intermediates, or rely on
    * session-level `clearCache` (the harness default).
    *
    * `maxBucketSize > 0` drops band buckets larger than the cap before
    * the self-join — the guard against quadratic pair explosion on
    * pathological buckets (boilerplate-heavy corpora): a bucket of m
    * docs contributes m²/2 candidates, so one megabucket can dominate
    * the whole job. Dropping a bucket loses its candidates unless the
    * pair also co-occurs in a surviving bucket of one of the other
    * `bands-1` bands — likely for ordinary near-dups, not guaranteed
    * for pairs whose shared boilerplate lands them in oversized
    * buckets in every band.
    *
    * `roundJaccard = false` surfaces the RAW verification Jaccard
    * instead of the 6-dp display rounding — callers that COMPARE the
    * value against further thresholds (the sweep) must see the exact
    * number the `>= threshold` filter itself used, or pairs at e.g.
    * 0.5999996 count as surviving 0.6 in the readout while the dedup
    * drops them (r8 ADVICE). */
  def minhashPairs(df: DataFrame, id: String, text: String,
      threshold: Double = 0.6, k: Int = 3,
      numHashes: Int = NumHashes, bands: Int = Bands,
      maxBucketSize: Int = 0, roundJaccard: Boolean = true)(implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val sh = shingleHashes60(df, id, text, k).transform(scope.persist)
    val bndAll = minhashBands(sh, id, numHashes, bands).transform(scope.persist)
    val bnd =
      if (maxBucketSize <= 0) bndAll
      else {
        // broadcast the drop list, not the keep list: oversized buckets
        // are rare by design, while buckets <= cap are nearly all of them
        val oversized = bndAll.groupBy(col("band_idx"), col("band_key"))
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") > maxBucketSize)
          .select(col("band_idx").as("f_idx"), col("band_key").as("f_key"))
        bndAll.join(broadcast(oversized),
            col("band_idx") === col("f_idx") && col("band_key") === col("f_key"), "left_anti")
          .transform(scope.persist)
      }
    val cand = bnd.as("a").join(bnd.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("doc_a"), col(s"b.$id").as("doc_b"))
      .distinct()
    graft.functions.Natives.ensure(df.sparkSession)
    cand
      .join(sh.hint("shuffle_hash").as("s1"), col("doc_a") === col(s"s1.$id"))
      .join(sh.hint("shuffle_hash").as("s2"), col("doc_b") === col(s"s2.$id"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.SortedInter.interSize(col("s1.sh"), col("s2.sh")).as("inter"),
        size(col("s1.sh")).as("la"), size(col("s2.sh")).as("lb"))
      .withColumn("jac", col("inter").cast(DoubleType) / (col("la") + col("lb") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        (if (roundJaccard) round(col("jac"), 6) else col("jac")).as("jaccard"))
  }

  /** Paragraph-id packing headroom: paragraphs per doc the composite
    * (doc, para) long key reserves. doc_id · 2^20 stays BIGINT-safe
    * for doc ids below 2^43 ≈ 8.8e12 — comfortably above a 100 TB
    * corpus's document count. */
  val MaxParasPerDoc: Long = 1L << 20

  /** Paragraph-grain MinHash near-dup pairs (r10) — the grain CCNet
    * actually dedups at (doc-level near-dup misses the repeated
    * paragraph inside otherwise-distinct pages; `text_dedup_spans`
    * excises at SENTENCE grain, this finds the fuzzy-repeated
    * paragraph blocks). Splits each doc on blank lines, keys each
    * paragraph as `doc_id · 2^20 + pos`, and runs the UNCHANGED
    * banded [[minhashPairs]] machinery (same signature family, same
    * [[Dedup.LshBucketCap]]-style bucket capping) at that grain;
    * output decodes back to (doc_a, para_a, doc_b, para_b, jaccard).
    *
    * 100 TB shape: identical to the doc-grain dedup — the unit count
    * grows by the mean paragraphs/doc (a small constant), every pair
    * scan stays banded + capped, and the composite key keeps all
    * shuffles on 8-byte longs. */
  def paragraphMinhashPairs(df: DataFrame, id: String, text: String,
      sepRegex: String = "\\n{2,}", threshold: Double = 0.6,
      maxBucketSize: Int = 0)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val paras = df
      .select(col(id).cast(LongType).as("__doc"),
        posexplode(split(col(text), sepRegex)).as(Seq("pos", "para")))
      .filter(normText(col("para")) =!= "" && col("pos") < MaxParasPerDoc)
      .select((col("__doc") * MaxParasPerDoc + col("pos")).as("pid"), col("para"))
    minhashPairs(paras, "pid", "para", threshold = threshold,
        maxBucketSize = maxBucketSize)
      .selectExpr(s"doc_a div ${MaxParasPerDoc}L AS doc_a", s"doc_a % ${MaxParasPerDoc}L AS para_a",
        s"doc_b div ${MaxParasPerDoc}L AS doc_b", s"doc_b % ${MaxParasPerDoc}L AS para_b",
        "jaccard")
  }

  /** MinHash fidelity audit (r8): per banded candidate pair, the
    * SIGNATURE-estimated Jaccard (matching coordinates / numHashes)
    * next to the EXACT shingle Jaccard — the calibration readout that
    * justifies the (bands, rows) choice: the S-curve collision model
    * assumes E[matches]/n = J, and this measures the realized error
    * on the corpus's own candidate population. Audit-sized by
    * construction (banded candidates only, same capped universe as
    * the LSH dedup — in production run it on a candidate sample). */
  def minhashFidelity(df: DataFrame, id: String, text: String,
      maxBucketSize: Int = 0)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val pairs = minhashPairs(df, id, text, threshold = 0.0,
      maxBucketSize = maxBucketSize)
    val sig = signatureCols(shingleHashes60(df, id, text), id)
      .transform(scope.persist)
    val sa = sig.select(col(id).as("doc_a") +:
      (0 until NumHashes).map(j => col(s"m$j").as(s"a_m$j")): _*)
    val sb = sig.select(col(id).as("doc_b") +:
      (0 until NumHashes).map(j => col(s"m$j").as(s"b_m$j")): _*)
    val matchSum = (0 until NumHashes)
      .map(j => s"(CASE WHEN a_m$j = b_m$j THEN 1 ELSE 0 END)").mkString(" + ")
    pairs.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .selectExpr("doc_a", "doc_b",
        s"CAST($matchSum AS BIGINT) AS n_match",
        s"CAST($matchSum AS DOUBLE) / $NumHashes AS est_j", "jaccard")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Character-n-gram Jaccard near-dup pairs via prefix filtering
    * (Chaudhuri et al. SSJoin ICDE'06; Bayardo, Ma & Srikant
    * "Scaling Up All Pairs Similarity Search", WWW'07), inside the
    * caller's `block` column. Grams are globally ordered rarest-first
    * (document frequency, then gram); each doc keys only its first
    * |g| - ceil(t·|g|) + 1 grams. Lossless: for J(A,B) ≥ t the
    * smallest-ordered shared gram c has at most |A| - ceil(t·|A|)
    * non-shared grams of A before it (A's preceding grams are all in
    * A\B, and |A∩B| ≥ t·|A∪B| ≥ ceil(t·|A|)), so c sits in BOTH
    * prefixes and the pair collides on it. Two further lossless
    * prunes (epsilon-slack on every float comparison so rounding can
    * never drop an exact-boundary pair): the length filter
    * (min/max gram count ≥ t) and PPJoin's positional filter (Xiao,
    * Wang, Lin & Yu, WWW'08) — a collision at prefix positions
    * (pa, pb) survives only if 1 + min(|A|-pa, |B|-pb), the best
    * possible overlap from the common suffix, reaches the required
    * overlap ceil(t/(1+t)·(|A|+|B|)); for a true pair its
    * smallest-ordered shared gram always passes (everything shared
    * sits at or after it on both sides). On a shared-vocabulary
    * corpus this prunes the large population of pairs that share one
    * mid-prefix gram and nothing else.
    *
    * A length-BUCKET second blocking component (key = (block, gram,
    * floor(log_{1/t} |g|)), probe side fanned to adjacent buckets) was
    * evaluated and rejected: on the gate corpus only ~36% of
    * same-block pairs are length-compatible at t=0.7, but the
    * candidate join is already the cheapest stage (~1.4 s of ~5.5 s at
    * sf0.1 — the length + positional predicates reject hash collisions
    * before any array work), while the bucket key would triple the
    * probe side's prefix volume. Revisit only if a corpus shows the
    * candidate join dominating with heavy length variance.
    *
    * A sort-free prefix build (hash-aggregate each doc's (gdf, gram)
    * structs, per-row `array_sort` + slice, replacing the
    * `row_number` window) was also evaluated and rejected: 4.6 s vs
    * 3.7 s median in a 5-rep A/B at sf0.1 — the window's radix-sorted
    * UnsafeExternalSorter beats collect_list buffering plus per-doc
    * sorts, and it spills gracefully where aggregation buffers
    * pressure memory.
    *
    * The gram table `g` is the single persist here; its lifetime is
    * the caller's [[graft.CacheScope]] (release eagerly with
    * `CacheScope.withScope`; the harness clears per-query). Verify
    * intersections run the native merge walk
    * ([[graft.functions.SortedInterSizeExpr]]) over the sorted gram
    * arrays — no per-pair hash sets. */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String, block: String,
      n: Int = 5, threshold: Double = 0.7)(implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    require(threshold > 0 && threshold < 1, s"threshold must be in (0,1), got $threshold")
    // native single-pass gram build (graft.functions.NgramsExpr):
    // the composed array_distinct/transform/sequence/substring form
    // was the scan's heaviest map-side stage (~2 s of the sf0.1 run)
    graft.functions.Natives.ensure(df.sparkSession)
    // r15 NOTE (verdict item #2, measured and NOT adopted): both
    // prescribed reshapes were A/B-benched same-session at sf0.1 AND
    // at the 10× ScaleGen dir and both lost —
    //  1. fanout of the text scan before the gram build: min-of-3
    //     5.99 → 7.04 s at sf0.1 (the r14 blanket-fan-out regression
    //     reproduced even with the agg shape fixed);
    //  2. explicit repartition(block, gram) before the gdf aggregate
    //     (the "two-level agg" shape — shard-local hash maps, one
    //     exchange shared by agg + prefix join): ±noise at sf0.1
    //     (5.99 vs 6.16 min-of-5), +14% at 10× (74.1 → 84.5 min-of-3)
    //     — the partial aggregation it bypasses actually REDUCES the
    //     exchanged bytes here, so shipping full gram rows loses.
    // The partial-agg memory blowup the verdict worried about only
    // materializes when the upstream is fanned; unfanned, the map-side
    // partial agg is one task with one bounded map. Kept: the original
    // shape.
    val g = df.select(col(id), col(block), normText(col(text)).as("s"))
      .filter(length(col("s")) >= n)
      .select(col(id), col(block), graft.functions.Ngrams.ngrams(col("s"), n).as("gr"))
      .withColumn("la", size(col("gr")))
      .transform(scope.persist)
    val grams = g.select(col(id), col(block), col("la"), explode(col("gr")).as("gram"))
    val gdf = grams.groupBy(col(block), col("gram")).agg(count(lit(1)).as("gdf"))
    val pre = grams.join(gdf, Seq(block, "gram"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(id))
          .orderBy(col("gdf"), col("gram"))))
      .filter(col("rn") <= col("la") - ceil(col("la") * threshold) + 1)
      .select(col(id), col(block), col("la"), col("gram"), col("rn"))
    val requiredOverlap =
      ceil((col("a.la") + col("b.la")) * (threshold / (1 + threshold)) - 1e-6)
    val cand = pre.as("a").join(pre.as("b"),
        col(s"a.$block") === col(s"b.$block") && col("a.gram") === col("b.gram") &&
        col(s"a.$id") < col(s"b.$id") &&
        col("a.la") >= col("b.la") * threshold - 1e-6 &&
        col("b.la") >= col("a.la") * threshold - 1e-6 &&
        lit(1) + least(col("a.la") - col("a.rn"), col("b.la") - col("b.rn")) >= requiredOverlap)
      .select(col(s"a.$id").as("doc_a"), col(s"b.$id").as("doc_b"))
      .distinct()
    // shuffle-hash verify joins: the gram-array side is hash-built per
    // partition instead of sort-merged — sorting wide array rows was
    // 6x the cost of the whole verify at sf0.1
    graft.functions.Natives.ensure(df.sparkSession)
    cand
      .join(g.select(col(id), col("gr")).hint("shuffle_hash").as("s1"), col("doc_a") === col(s"s1.$id"))
      .join(g.select(col(id), col("gr")).hint("shuffle_hash").as("s2"), col("doc_b") === col(s"s2.$id"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.SortedInter.interSize(col("s1.gr"), col("s2.gr")).as("inter"),
        size(col("s1.gr")).as("la"), size(col("s2.gr")).as("lb2"))
      .withColumn("jac", col("inter").cast(DoubleType) / (col("la") + col("lb2") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jaccard"))
  }

  // ---------------------------------------------- containment pairs
  /** Asymmetric CONTAINMENT near-dup pairs: `C = |A∩B| / min(|A|,|B|)`
    * over word-shingle sets — the quote/excerpt/near-superset signal
    * Jaccard structurally misses (a doc fully contained in one 10×
    * its size has J ≤ 0.1 but C = 1.0). That asymmetry also rules out
    * MinHash-LSH candidates here: band-collision probability IS
    * Jaccard, so banding would systematically drop exactly the pairs
    * this operator exists to find. Candidates instead come from
    * SHARED-SHINGLE buckets with a document-frequency cap
    * (`maxShingleDocs`, the substring scan's `maxFpDocs` discipline):
    * a contained doc shares EVERY shingle with its container, so any
    * sub-cap shingle of the contained side produces the candidate;
    * only docs composed entirely of boilerplate shingles can be
    * missed (the documented trade, mirrored in the oracle). Verify is
    * the native merge-walk intersect over the persisted sorted-hash
    * arrays — the ngram/minhash verify plan. Per-bucket fan-out is
    * ≤ C(maxShingleDocs, 2); candidate volume is df-bounded, never
    * corpus². */
  def containmentPairs(df: DataFrame, id: String, text: String,
      threshold: Double = 0.8, k: Int = 3, maxShingleDocs: Int = 30)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    val sh = shingleHashes60(df, id, text, k).transform(scope.persist)
    val ex = sh.select(col(id), explode(col("sh")).as("h"))
    // broadcast the drop list: oversized shingles are rare by design
    val oversized = ex.groupBy(col("h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxShingleDocs)
      .select(col("h").as("f_h"))
    val kept = ex.join(broadcast(oversized), col("h") === col("f_h"), "left_anti")
      .transform(scope.persist)
    val cand = kept.as("a").join(kept.as("b"),
        col("a.h") === col("b.h") && col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("doc_a"), col(s"b.$id").as("doc_b"))
      .distinct()
    graft.functions.Natives.ensure(df.sparkSession)
    cand
      .join(sh.hint("shuffle_hash").as("s1"), col("doc_a") === col(s"s1.$id"))
      .join(sh.hint("shuffle_hash").as("s2"), col("doc_b") === col(s"s2.$id"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.SortedInter.interSize(col("s1.sh"), col("s2.sh")).as("inter"),
        least(size(col("s1.sh")), size(col("s2.sh"))).as("lm"))
      .withColumn("containment", col("inter").cast("double") / col("lm"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter").cast("long").as("inter"),
        round(col("containment"), 6).as("containment"))
  }

  // ------------------------------------------ repeated-substring dedup
  /** Winnowed substring fingerprints (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03 — the MOSS algorithm): every k-char window of the
    * normalized text is hashed (the portable 60-bit md5 prefix, same
    * value both engines), and each run of `w` consecutive window
    * hashes contributes its MINIMUM to the document's fingerprint
    * set. GUARANTEE: two documents sharing any substring of length
    * ≥ k + w − 1 share the window of k-grams inside it, hence its
    * minimum — a shared fingerprint — regardless of the offsets at
    * which the substring occurs (offset-independence is what a fixed
    * stride grid cannot give). This is the cross-document REPEATED
    * SPAN detector of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL'22), in its fingerprint-sampled
    * form: exact-substring contamination (licenses, templates,
    * syndicated paragraphs) that survives whole-document dedup.
    *
    * Fingerprint density is ~2/(w+1) per character (expected distinct
    * window minima), so the emitted volume is a fixed fraction of
    * corpus bytes — linear at any scale. Docs shorter than k + w − 1
    * carry no full window and drop out. */
  def winnowFingerprints(df: DataFrame, id: String, text: String,
      k: Int = WinnowK, w: Int = WinnowW,
      passthrough: Seq[String] = Nil): DataFrame = {
    require(k >= 2 && w >= 1, s"winnow needs k >= 2, w >= 1, got k=$k w=$w")
    // native one-pass winnow (graft.functions.WinnowExpr): the composed
    // transform/slice/array_min form pays interpreted-lambda md5 with a
    // hex round-trip per position and O(len·w) slice scans — and its
    // gram-hash array must be let-bound as a lambda variable or
    // CollapseProject inlines it per window (O(len²) md5, ~100×). The
    // equivalence property spec pins the native output to that form.
    graft.functions.Natives.ensure(df.sparkSession)
    val keep = col(id) +: passthrough.map(col)
    df.select(keep :+ normText(col(text)).as("s"): _*)
      .filter(length(col("s")) >= k + w - 1) // shorter docs have no full winnow window
      .select(keep :+ explode(graft.functions.Winnow.fingerprints(col("s"), k, w)).as("fp"): _*)
  }

  val WinnowK = 20
  val WinnowW = 16

  /** Cross-document repeated-substring pairs: documents sharing ≥ 1
    * winnowed fingerprint, with the count of distinct shared
    * fingerprints (a monotone proxy for total shared span length).
    * The join key is the fingerprint value — corpus shuffles once by
    * fp, pairs form only inside fp buckets. `maxFpDocs > 0` drops
    * fingerprints present in more than that many documents before the
    * self-join (the boilerplate megabucket guard, same contract as
    * [[minhashPairs]]'s `maxBucketSize`): a license header shared by
    * 10⁶ docs is better handled as a heavy-hitter report than as
    * 10¹² pairs. Fingerprints are 60-bit hashes, not verified
    * substrings: a cross-doc hash collision (~n²·2^-60) can
    * contribute a false shared fingerprint — the same exactness
    * class as every h60-keyed pipeline here, and the DuckDB oracle
    * computes identical hashes so the gate is still bit-exact. */
  def substringPairs(df: DataFrame, id: String, text: String,
      k: Int = WinnowK, w: Int = WinnowW, maxFpDocs: Int = 0)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val fpsAll = winnowFingerprints(df, id, text, k, w).transform(scope.persist)
    val fps =
      if (maxFpDocs <= 0) fpsAll
      else {
        val hot = fpsAll.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxFpDocs).select(col("fp").as("__hotfp"))
        fpsAll.join(broadcast(hot), col("fp") === col("__hotfp"), "left_anti")
      }
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col(s"a.$id") < col(s"b.$id"))
      .groupBy(col(s"a.$id").as("doc_a"), col(s"b.$id").as("doc_b"))
      .agg(countDistinct(col("a.fp")).as("n_shared_fps"))
  }

  /** Connected components over a near-dup pair graph: every node gets
    * the minimum doc id of its component (the canonical "cluster then
    * keep one" dedup endgame). Alternating large-star / small-star
    * contraction (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    * "Connected Components in MapReduce and Beyond", SoCC'14): each
    * round rewires every node toward its neighborhood minimum, so the
    * edge set contracts to disjoint stars centered at component minima
    * in O(log n) rounds — unlike plain min-label propagation, whose
    * round count is the graph DIAMETER (a 10⁶-long chain of near-dups
    * needs 10⁶ propagation rounds but only ~20 star rounds). Each
    * round is one groupBy + join per star op, state is the edge set
    * itself (monotonically contracting), never a driver-side
    * union-find. Rounds are `localCheckpoint`ed: without lineage
    * truncation the nested plan grows exponentially and planning
    * itself OOMs (on a cluster, point `spark.checkpoint` at reliable
    * storage instead). Convergence is checked by exact edge-set
    * equality; if `maxIters` is exceeded this THROWS rather than
    * return silently wrong labels. */
  def nearDupClusters(allIds: DataFrame, id: String, pairs: DataFrame,
      maxIters: Int = 30): DataFrame = {
    // canonical undirected edge set (a < b), no self-loops
    var edges = pairs
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)

    // large-star: every node u connects each STRICTLY LARGER neighbor
    // to the min of its closed neighborhood — long tails hook onto
    // small labels without ever increasing a node's attachment.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b")) // m <= u < v
        .filter(col("a") =!= col("b")).distinct()
    }

    // small-star: edges oriented large→small; every node connects its
    // smaller neighbors (and itself) to their collective minimum —
    // flattens multi-level trees into stars.
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(col("b").as("u"), col("a").as("v")) // v < u
      val mins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val viaNbr = oriented.join(mins, Seq("u")).select(col("m"), col("v").as("x"))
      val self = mins.select(col("m"), col("u").as("x"))
      viaNbr.union(self)
        .filter(col("x") =!= col("m"))
        .select(col("m").as("a"), col("x").as("b")) // m < x
        .distinct()
    }

    var converged = edges.isEmpty
    var i = 0
    var prevCount = if (converged) 0L else edges.count()
    while (!converged && i < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextCount = next.count()
      // exact set equality: same distinct cardinality + empty one-sided
      // difference (a hash/sum comparison could converge wrongly)
      converged = nextCount == prevCount &&
        next.except(edges).limit(1).count() == 0
      edges = next
      prevCount = nextCount
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"nearDupClusters did not converge within $maxIters rounds; raise maxIters")
    // at the fixpoint the edges are disjoint stars (a = component min)
    val labeled = edges.select(col("b").as("node"), col("a").as("cluster"))
      .union(edges.select(col("a").as("node"), col("a").as("cluster")))
      .groupBy(col("node")).agg(min(col("cluster")).as("cluster"))
    allIds.select(col(id).as("node"))
      .join(labeled, Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster"), col("node")).as("cluster"))
  }

  /** Cluster-size histogram over a (node, cluster) assignment (the
    * [[nearDupClusters]] output shape): per distinct cluster size,
    * the cluster count, total doc mass, removable-duplicate count
    * Σ (size − 1), and the doc share — the "what does near-dedup
    * actually save" readout. Two shrinking-key aggregates
    * (cluster-grain, then size-grain); the share is one IEEE division
    * over exact counts. Exposed for `dedup_cluster_stats` and its
    * planted fixture in `Round9Spec`. */
  def clusterSizeStats(asg: DataFrame): DataFrame = {
    val cs = asg.groupBy(col("cluster")).agg(count(lit(1)).cast(LongType).as("sz"))
      .localCheckpoint(true) // cluster-grain; feeds histogram AND total
    val nn = cs.agg(sum(col("sz")).cast(LongType).as("n_docs"))
    cs.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).cast(LongType).as("n_clusters"),
        sum(col("sz")).cast(LongType).as("n_docs"),
        sum(col("sz") - 1).cast(LongType).as("n_removable"))
      .crossJoin(broadcast(nn.select(col("n_docs").as("nt"))))
      .selectExpr("cluster_size", "n_clusters", "n_docs", "n_removable",
        "CAST(n_docs AS DOUBLE) / nt AS doc_share")
      .orderBy(col("cluster_size"))
  }

  /** Append a 60-bit SimHash signature column (per-bit majority of
    * distinct token hashes, Charikar 2002). Pure per-row expression
    * work — usable identically in batch plans and streaming stages.
    * 60 bits = the full portable md5-prefix hash width; a wider
    * fingerprint is what makes banded candidate generation
    * sub-quadratic (with 32 bits the blocks are too narrow for
    * selective keys — see simhashPairs). */
  def withSimhash(df: DataFrame, text: String, out: String = "simhash"): DataFrame = {
    val h60SparkSql = "CAST(conv(substring(md5(t),1,15),16,10) AS BIGINT)"
    // native one-pass majority fold (graft.functions.SimhashExpr): the
    // composed aggregate/filter form re-scanned the hash array once
    // per bit (60 passes/doc) and dominated the signature stage
    graft.functions.Natives.ensure(df.sparkSession)
    df.withColumn("__toks", split(normText(col(text)), " "))
      .withColumn("__hs", expr(s"transform(array_distinct(__toks), t -> $h60SparkSql)"))
      .withColumn(out, graft.functions.Simhash.simhash(col("__hs"), SimhashBits))
      .drop("__toks", "__hs")
  }

  /** (id, simhash) signature table — see [[withSimhash]]. */
  def simhashSignatures(df: DataFrame, id: String, text: String): DataFrame =
    withSimhash(df.select(col(id), col(text)), text).select(col(id), col("simhash"))

  /** Block decomposition of the 60-bit fingerprint for banded pair
    * generation (Manku, Jain & Das Sarma, WWW 2007 "Detecting
    * Near-Duplicates for Web Crawling"): 9 blocks (6×7 + 3×6 bits).
    * A pair within Hamming distance 6 differs in ≤ 6 blocks, so ≥ 3
    * of the 9 blocks match exactly (pigeonhole 9−6=3) — it collides in
    * at least one of the C(9,3)=84 three-block combo tables. Combo
    * keys are 19–21 bits wide, so random collisions per combo are
    * 2^-(19..21): candidate volume ≈ 84·n²/2^20 of all distinct-sig
    * pairs — ~25× more selective than the earlier C(8,2) two-block
    * scheme (28·n²/2^15.5), which went quadratic-ish at 10⁹ distinct
    * signatures. 3× more key rows per signature (84 vs 28), but key
    * rows grow linearly with n while candidates grow with n²/2^bits —
    * at scale the key explosion is the cheap side of that trade. */
  val SimhashBits = 60
  private val BlockWidths  = Vector(7, 7, 7, 7, 7, 7, 6, 6, 6)
  private val BlockOffsets = BlockWidths.scanLeft(0)(_ + _).init
  private val BlockCombos: Seq[(Int, Int, Int)] =
    for { i <- 0 until 9; j <- (i + 1) until 9; k <- (j + 1) until 9 } yield (i, j, k)

  /** One (combo-id, key) struct per combo table for a simhash column —
    * the banding key expressions shared verbatim by the batch pair scan
    * ([[simhashPairs]]) and the streaming near-dup candidate join
    * ([[graft.streaming.Streams]]), so the two planes can never
    * disagree on blocking. */
  def simhashComboKeys(simhashCol: String): Column = {
    def block(b: Int) =
      s"(shiftright($simhashCol, ${BlockOffsets(b)}) & ${(1 << BlockWidths(b)) - 1})"
    val structs = BlockCombos.zipWithIndex.map { case ((i, j, k), c) =>
      val key = s"${block(i)} * ${1L << (BlockWidths(j) + BlockWidths(k))}" +
        s" + ${block(j)} * ${1L << BlockWidths(k)} + ${block(k)}"
      expr(s"named_struct('c', $c, 'k', $key)")
    }
    array(structs: _*)
  }

  /** DuckDB twin of [[simhashComboKeys]]: the 84 `{'c': …, 'k': …}`
    * struct literals over a BIGINT simhash column, emitted from the
    * SAME block-geometry constants — oracle banding can never drift
    * from the engine's. Lossless at hamming ≤ 6 by the identical
    * 9-block 3-match pigeonhole, so the banded oracles in [[Dedup]]
    * ([[Dedup.simhashPairs]], [[Dedup.incremental]]) stay exact
    * while turning the reference scan near-linear (r13 verdict: the
    * quadratic oracles were the only thing blocking the 10× proof
    * of these keys — DuckDB took >23 min at 50k docs on the n²/2
    * scan the engine itself never runs). */
  private[graft] def simhashComboKeysDuck(simhashCol: String): String = {
    def block(b: Int) =
      s"(($simhashCol >> ${BlockOffsets(b)}) & ${(1 << BlockWidths(b)) - 1})"
    BlockCombos.zipWithIndex.map { case ((i, j, k), c) =>
      s"{'c': $c, 'k': ${block(i)} * ${1L << (BlockWidths(j) + BlockWidths(k))} + " +
        s"${block(j)} * ${1L << BlockWidths(k)} + ${block(k)}}"
    }.mkString(", ")
  }

  /** SimHash pairs within Hamming distance. `banded=true` (the scale
    * path, and exact for maxHamming ≤ 6 by the pigeonhole argument
    * above) follows Manku et al.'s full recipe: fingerprints are
    * deduplicated first, the combo tables band and verify *distinct*
    * signatures only, and the surviving signature pairs expand to id
    * pairs through the signature→id mapping; identical-signature
    * groups contribute their intra-group pairs (hamming 0) directly.
    * On duplicate-dense corpora this removes the 84× repeated
    * collisions that identical fingerprints would otherwise generate
    * in every combo table. `banded=false` is the quadratic reference
    * scan; banding is only valid for maxHamming ≤ 6 (the 9-block
    * 3-match pigeonhole bound), so larger distances fall back to the
    * exact quadratic scan regardless of `banded`. All paths return
    * identical rows. */
  def simhashPairs(df: DataFrame, id: String, text: String,
      maxHamming: Int = 6, banded: Boolean = true)(implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val useBanded = banded && maxHamming <= 6
    if (banded && !useBanded)
      System.err.println(s"[graft] simhashPairs: maxHamming=$maxHamming exceeds the " +
        "9-block 3-match pigeonhole bound (6); falling back to the EXACT QUADRATIC scan — " +
        "do not run this shape on a large corpus")
    val sim = simhashSignatures(df, id, text)
      .transform(scope.persist)
    if (!useBanded)
      sim.as("a").join(sim.as("b"), col(s"a.$id") < col(s"b.$id"))
        .select(col(s"a.$id").as("doc_a"), col(s"b.$id").as("doc_b"),
          expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
        .filter(col("hamming") <= maxHamming)
    else {
      val sigs = sim.select(col("simhash")).distinct()
        .transform(scope.persist)
      val keys = sigs.select(col("simhash"), explode(simhashComboKeys("simhash")).as("ck"))
        .select(col("simhash"), col("ck.c").as("c"), col("ck.k").as("k"))
      // verify BEFORE the pair dedup: bit_count is per-row cheap in the
      // join's output pipeline, so the distinct's shuffle carries only
      // true near-dup signature pairs instead of the full ~84·n²/2^20
      // candidate volume (the r4 shape deduped first and verified after)
      val sigPairs = keys.as("a").join(keys.as("b"),
          col("a.c") === col("b.c") && col("a.k") === col("b.k") &&
          col("a.simhash") < col("b.simhash"))
        .select(col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"),
          expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
      // identical-signature groups ride the SAME two expansion joins as
      // (sig, sig, hamming 0) self-rows — the id-order filter emits each
      // intra-group pair exactly once — instead of the r4 shape's
      // separate sim⋈sim self-join + union (one fewer join stage; the
      // self-rows add only |distinct sigs| rows to the expansion input)
      val allPairs = sigPairs.union(
        sigs.select(col("simhash").as("sig_a"), col("simhash").as("sig_b"),
          lit(0).as("hamming")))
      allPairs
        .join(sim.hint("shuffle_hash").as("s1"), col("sig_a") === col("s1.simhash"))
        .join(sim.hint("shuffle_hash").as("s2"), col("sig_b") === col("s2.simhash"))
        .filter(col("sig_a") =!= col("sig_b") || col(s"s1.$id") < col(s"s2.$id"))
        .select(least(col(s"s1.$id"), col(s"s2.$id")).as("doc_a"),
          greatest(col(s"s1.$id"), col(s"s2.$id")).as("doc_b"), col("hamming"))
    }
  }

  /** Incremental near-dedup: flag an incoming batch against an
    * existing corpus WITHOUT re-pairing the corpus against itself —
    * the daily-ingest shape at 100 TB. The existing side's
    * distinct-signature combo keys are what a production deployment
    * stores as its persistent near-dup index (batch-build cost paid
    * once); each ingest then costs batch-keys × collision-rate, never
    * |index|². Banding is the same exact C(9,3) pigeonhole as
    * [[simhashPairs]] (lossless at hamming ≤ 6), but the asymmetric
    * new×existing join needs no signature ordering, pair canonical-
    * ization, or hamming-0 self-row handling: every (new, existing)
    * combination — identical signatures included — is a cross pair by
    * construction. Within-batch pairs are [[simhashPairs]] over the
    * batch alone (batch-sized, not corpus-sized). Returns
    * (doc_existing, doc_new, hamming). */
  def simhashPairsIncremental(existing: DataFrame, incoming: DataFrame,
      id: String, text: String, maxHamming: Int = 6)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    require(maxHamming <= 6,
      s"simhashPairsIncremental: banding is exact only for maxHamming <= 6, got $maxHamming")
    def keysOf(sim: DataFrame): DataFrame =
      sim.select(col("simhash")).distinct()
        .select(col("simhash"), explode(simhashComboKeys("simhash")).as("ck"))
        .select(col("simhash"), col("ck.c").as("c"), col("ck.k").as("k"))
    val simOld = simhashSignatures(existing, id, text).transform(scope.persist)
    val simNew = simhashSignatures(incoming, id, text).transform(scope.persist)
    val sigPairs = keysOf(simNew).as("a").join(keysOf(simOld).as("b"),
        col("a.c") === col("b.c") && col("a.k") === col("b.k"))
      .select(col("a.simhash").as("sig_new"), col("b.simhash").as("sig_old"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    sigPairs
      .join(simNew.hint("shuffle_hash").as("n"), col("sig_new") === col("n.simhash"))
      .join(simOld.hint("shuffle_hash").as("o"), col("sig_old") === col("o.simhash"))
      .select(col(s"o.$id").as("doc_existing"), col(s"n.$id").as("doc_new"), col("hamming"))
  }

  private[graft] def normVecs(df: DataFrame, id: String, vec: String): DataFrame = {
    graft.functions.Natives.ensure(df.sparkSession)
    df.select(col(id), expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
  }

  /** Exact cosine near-dup pairs over a float-array embedding column
    * (deterministic left-to-right double fold). All-pairs — the
    * small-n reference scan; [[cosinePairsLsh]] is the scale path. */
  def cosinePairs(df: DataFrame, id: String, vec: String, threshold: Double): DataFrame = {
    val n = normVecs(df, id, vec)
    n.as("a").join(n.as("b"), col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"),
        expr("graft_dot(a.v, b.v) / (a.nrm * b.nrm)").as("c"))
      .filter(col("c") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("c"), 6).as("cos"))
  }

  /** Cosine near-dup pairs with hyperplane-LSH candidate blocking
    * (Charikar 2002): candidates form only inside same-bucket cells of
    * the [[graft.similarity.Similarity]] multi-table sign-code index
    * (the one ann_lsh uses), then an exact cosine re-verify applies
    * the threshold. Sub-quadratic — the only shuffle keys are
    * (table, bucket) — but recall is probabilistic: a qualifying pair
    * colliding in none of the tables is missed, which is why the
    * oracle (and any downstream contract) must mirror the same
    * deterministic blocking rather than the all-pairs scan. */
  /** SemDeDup (Abbas et al. 2023): embedding-space near-dup pairs
    * found CLUSTER-LOCALLY — k-means cells from
    * [[graft.similarity.AnnApi.kmeansCells]] partition the corpus and
    * the exact cosine pair scan runs only inside each cell, so the
    * quadratic term drops from |corpus|² to Σ|cell|² and the only
    * pair-scan shuffle key is the cell id (centroid builds are the
    * native decimal vector-sum — no posexplode, corpus never
    * reshuffled for assignment). As with [[cosinePairsLsh]], the
    * blocking IS the semantics: a qualifying pair split across cells
    * is out of scope by design (the SemDeDup trade — recall vs the
    * all-pairs scan is asserted in `DedupPropertySpec`, exactness is
    * the oracle's job), so the oracle replays the identical
    * deterministic Lloyd iterations and the same cell-local scan. */
  def semanticPairs(df: DataFrame, id: String, vec: String, threshold: Double,
      kCells: Int = 8, iters: Int = 2, trainMod: Int = 1)(implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val cells = graft.similarity.AnnApi.kmeansCells(df, id, vec, kCells, iters, trainMod)
    val nc = normVecs(df, id, vec)
      .join(cells, Seq(id))
      .transform(scope.persist)
    nc.as("a").join(nc.as("b"),
        col("a.cell") === col("b.cell") && col(s"a.$id") < col(s"b.$id"))
      .select(col("a.cell").as("cell"), col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"),
        expr("graft_dot(a.v, b.v) / (a.nrm * b.nrm)").as("c"))
      .filter(col("c") >= threshold)
      .select(col("cell"), col("id_a"), col("id_b"), round(col("c"), 6).as("cos"))
  }

  /** `maxBucketSize > 0` drops (table, bucket) groups above the cap
    * before the self-join (r7, the knnGraph/minhashPairs guard,
    * fourth repetition): the hyperplane tables have a FIXED 2^planes
    * bucket count, so without the cap the candidate volume is
    * Σ|bucket|² ≈ n²/2^planes — quadratic in disguise once the corpus
    * outgrows the geometry. A pair in a dropped bucket survives iff
    * another of its `NumTables` tables keeps it under cap; the
    * documented production path for embedding dedup remains
    * [[semanticPairs]] (cell-local, data-scaled geometry). */
  def cosinePairsLsh(df: DataFrame, id: String, vec: String, threshold: Double,
      maxBucketSize: Int = 0)(implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    import graft.similarity.Similarity
    val n = normVecs(df, id, vec)
      .transform(scope.persist)
    val tbAll = n.select(col(id), explode(array((0 until Similarity.NumTables).map(t =>
        struct(lit(t).as("t"), expr(Similarity.bucketExprSparkFor(t)).as("bk"))): _*)).as("tb"))
      .select(col(id), col("tb.t").as("t"), col("tb.bk").as("bk"))
    val tb =
      if (maxBucketSize <= 0) tbAll
      else {
        val tbp = tbAll.transform(scope.persist)
        val oversized = tbp.groupBy(col("t"), col("bk"))
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") > maxBucketSize)
          .select(col("t").as("f_t"), col("bk").as("f_bk"))
        tbp.join(broadcast(oversized),
          col("t") === col("f_t") && col("bk") === col("f_bk"), "left_anti")
      }
    val cand = tb.as("a").join(tb.as("b"),
        col("a.t") === col("b.t") && col("a.bk") === col("b.bk") && col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .distinct()
    cand
      .join(n.hint("shuffle_hash").as("x"), col("id_a") === col(s"x.$id"))
      .join(n.hint("shuffle_hash").as("y"), col("id_b") === col(s"y.$id"))
      .select(col("id_a"), col("id_b"),
        expr("graft_dot(x.v, y.v) / (x.nrm * y.nrm)").as("c"))
      .filter(col("c") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("c"), 6).as("cos"))
  }
}
