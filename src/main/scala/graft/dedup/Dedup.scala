package graft.dedup

import graft.{Portable, QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication suite (SURVEY.md §2.3): exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine near-dup. Thin driver-gate
  * instantiations of the parameterized [[DedupApi]] — see there for
  * the scale design. Oracle SQL is generated from the same constants
  * ([[graft.Portable]]), so both sides agree by construction.
  */
object Dedup {
  import Portable._

  // ----------------------------------------------------------- exact
  val exact = QueryDef(
    "dedup_exact",
    Some(s"""SELECT md5(${normTextSql("text")}) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY h ORDER BY keep_id"""),
    (s, d) => DedupApi.exactGroups(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("keep_id")))

  // ------------------------------------------------ oracle CTE blocks
  /** Hashed shingle lists (r5): `sh` carries h60 longs, mirroring
    * [[DedupApi.shingleHashes60]] — MinHash values are identical (the
    * affine family always hashed through h60 first) and intersection
    * counting over hashes equals the string form by the shared-md5
    * argument. */
  /** [[shSqlCte]] over an arbitrary (id, text) relation — r10, so the
    * paragraph-grain gate can replay the identical machinery over its
    * planted paragraph CTE. */
  private def shSqlCteOver(rel: String, idCol: String, textCol: String): String =
    s"""norm AS (SELECT $idCol AS doc_id, string_split(${normTextSql(textCol)}, ' ') AS toks FROM $rel),
       shx AS (SELECT doc_id, list_transform(${wordShinglesSql("toks")}, s -> ${h60Sql("s")}) AS sh
         FROM norm WHERE len(toks) >= 3)"""

  private def shSqlCte: String = shSqlCteOver("documents", "doc_id", "text")

  private def bandsSqlCteOver(rel: String, idCol: String, textCol: String): String = {
    val ms = (0 until NumHashes).map(j => s"${minhashOfHashesSql("sh", j)} AS m$j").mkString(", ")
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"m${b * RowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, $b AS band_idx, concat_ws('_', $key) AS band_key FROM sig"
    }.mkString(" UNION ALL ")
    s"""${shSqlCteOver(rel, idCol, textCol)},
       sig AS (SELECT doc_id, $ms FROM shx),
       bands AS ($bandSelects)"""
  }

  private def bandsSqlCte: String = bandsSqlCteOver("documents", "doc_id", "text")

  // ------------------------------------------------------ signatures
  val minhashSignatures = QueryDef(
    "dedup_minhash_signatures",
    Some(s"""WITH $bandsSqlCte
      SELECT doc_id, band_idx, band_key FROM bands ORDER BY doc_id, band_idx"""),
    (s, d) => DedupApi.minhashBands(
        DedupApi.shingleHashes60(Tables.documents(s, d), "doc_id", "text"), "doc_id")
      .orderBy(col("doc_id"), col("band_idx")), bench = false)

  // ------------------------------------------------------------- lsh
  /** Megabucket guard, on by default in the gated query: a band bucket
    * of m docs contributes m²/2 candidates, so one boilerplate bucket
    * can dominate the whole job at scale. cap=15 measured (SURVEY §4):
    * halves the pathological runtime, keeps 84% of pairs there; on
    * ordinary corpora buckets stay under the cap and output is
    * unchanged. The oracle applies the identical cap. */
  val LshBucketCap = 15

  /** `kept` = bands minus over-cap buckets, and `cand` = the banded
    * candidate pairs (doc_a < doc_b sharing a kept bucket) — the one
    * definition every capped oracle shares, so the cap semantics can
    * never silently diverge between them. */
  private def cappedCandSqlCte: String =
    s"""ovs AS (SELECT band_idx, band_key FROM bands
        GROUP BY band_idx, band_key HAVING count(*) > $LshBucketCap),
      kept AS (SELECT b.* FROM bands b WHERE NOT EXISTS (
        SELECT 1 FROM ovs o WHERE o.band_idx = b.band_idx AND o.band_key = b.band_key)),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM kept a JOIN kept b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id)"""

  /** `pairs(doc_a, doc_b, inter, la, lb)`: each candidate's shingle
    * intersection size and both set sizes. */
  private def candOverlapSqlCte: String =
    """pairs AS (SELECT c.doc_a, c.doc_b,
          len(list_filter(s1.sh, x -> list_contains(s2.sh, x))) AS inter,
          len(s1.sh) AS la, len(s2.sh) AS lb
        FROM cand c JOIN shx s1 ON s1.doc_id = c.doc_a JOIN shx s2 ON s2.doc_id = c.doc_b)"""

  /** Oracle of the near-dup cluster assignment the cluster gates
    * compose (`DedupApi.nearDupClusters` over the capped banded pairs
    * verified at J ≥ 0.6): a recursive `reach(node, label)` whose
    * per-node min label is the cluster. Opens the query's
    * `WITH RECURSIVE`. */
  private def nearDupReachSql: String =
    s"""WITH RECURSIVE $bandsSqlCte,
      $cappedCandSqlCte,
      pairs AS (SELECT c.doc_a, c.doc_b FROM cand c
        JOIN shx s1 ON s1.doc_id = c.doc_a JOIN shx s2 ON s2.doc_id = c.doc_b
        WHERE CAST(len(list_filter(s1.sh, x -> list_contains(s2.sh, x))) AS DOUBLE)
          / (len(s1.sh) + len(s2.sh) - len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))) >= 0.6),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach AS (
        SELECT doc_id AS node, doc_id AS label FROM documents
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON r.node = e.src)"""

  /** The Spark side of [[nearDupReachSql]]: (node, cluster) for every
    * document. */
  private def nearDupAssignment(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val pairs = DedupApi.minhashPairs(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.6, maxBucketSize = LshBucketCap)
    DedupApi.nearDupClusters(Tables.documents(s, d), "doc_id", pairs)
      .select(col("node"), col("cluster"))
  }

  val minhashLsh = QueryDef(
    "dedup_minhash_lsh",
    Some(s"""WITH $bandsSqlCte,
      $cappedCandSqlCte,
      $candOverlapSqlCte
      SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / (la + lb - inter), 6) AS jaccard
      FROM pairs WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.6
      ORDER BY doc_a, doc_b"""),
    (s, d) => DedupApi.minhashPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.6, maxBucketSize = LshBucketCap)
      .orderBy(col("doc_a"), col("doc_b")))

  // ------------------------------------------------ minhash fidelity
  /** dedup_minhash_fidelity (r8): per banded candidate pair, the
    * signature-estimated Jaccard next to the exact one — see
    * [[DedupApi.minhashFidelity]]. Shares the capped band CTEs with
    * the lsh gate, so the audited candidate universe is exactly the
    * dedup's. est_j = matches/16 is exact binary; the exact Jaccard
    * is the lsh gate's identical round6 form. */
  val minhashFidelityQ = QueryDef(
    "dedup_minhash_fidelity",
    Some {
      val matchSum = (0 until Portable.NumHashes)
        .map(j => s"(CASE WHEN sa.m$j = sb.m$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $bandsSqlCte,
      $cappedCandSqlCte,
      $candOverlapSqlCte,
      mm AS (SELECT p.doc_a, p.doc_b, CAST($matchSum AS BIGINT) AS n_match, inter, la, lb
        FROM pairs p JOIN sig sa ON sa.doc_id = p.doc_a JOIN sig sb ON sb.doc_id = p.doc_b)
      SELECT doc_a, doc_b, n_match,
        CAST(n_match AS DOUBLE) / ${Portable.NumHashes} AS est_j,
        round(CAST(inter AS DOUBLE) / (la + lb - inter), 6) AS jaccard
      FROM mm ORDER BY doc_a, doc_b"""
    },
    (s, d) => {
      DedupApi.minhashFidelity(Tables.documents(s, d), "doc_id", "text",
          maxBucketSize = LshBucketCap)
    })

  // ------------------------------------------------ threshold sweep
  /** dedup_threshold_sweep (r8): candidate-pair survival across the
    * Jaccard threshold grid {0.5 … 0.9} off ONE capped banded pair
    * scan — the dedup-TUNING readout (every near-dup deployment picks
    * its threshold from exactly this curve: too low merges distinct
    * docs, too high leaks near-dups; the curve shows the knee). The
    * pair population and its exact Jaccards are the lsh gate's; the
    * sweep is one conditional aggregate over the 5-row grid — the
    * corpus is never rescanned per threshold. Shares are single IEEE
    * divisions over exact counts, unrounded. Survival compares the
    * RAW verification Jaccard (`roundJaccard = false`) against the
    * grid — the exact value the production `>= threshold` filter
    * uses, so the tuning curve matches the dedup's own semantics
    * (6-dp display rounding would count a 0.5999996 pair as
    * surviving t = 0.6 that the dedup drops; r8 ADVICE). */
  val thresholdSweep = QueryDef(
    "dedup_threshold_sweep",
    Some(s"""WITH $bandsSqlCte,
      $cappedCandSqlCte,
      pairs AS (SELECT CAST(len(list_filter(s1.sh, x -> list_contains(s2.sh, x))) AS DOUBLE)
          / (len(s1.sh) + len(s2.sh) - len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))) AS j
        FROM cand c JOIN shx s1 ON s1.doc_id = c.doc_a JOIN shx s2 ON s2.doc_id = c.doc_b),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM pairs),
      grid AS (SELECT CAST(i AS DOUBLE) / 10 AS threshold FROM (SELECT unnest(range(5, 10)) AS i)),
      sw AS (SELECT g.threshold, CAST(sum(CASE WHEN p.j >= g.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
        FROM grid g, pairs p GROUP BY g.threshold)
      SELECT sw.threshold, sw.n_pairs, tot.n_cand,
        CAST(sw.n_pairs AS DOUBLE) / tot.n_cand AS survival
      FROM sw, tot ORDER BY sw.threshold"""),
    (s, d) => {
      val pairs = graft.CacheScope.untracked.persist(DedupApi.minhashPairs(Tables.documents(s, d),
        "doc_id", "text", threshold = 0.0, maxBucketSize = LshBucketCap,
        roundJaccard = false)
        .select(col("jaccard").as("j")))
      val tot = pairs.agg(count(lit(1)).cast(LongType).as("n_cand"))
      val grid = s.range(5, 10).selectExpr("CAST(id AS DOUBLE) / 10 AS threshold")
      val sw = pairs.crossJoin(broadcast(grid))
        .groupBy(col("threshold"))
        .agg(sum(when(col("j") >= col("threshold"), 1L).otherwise(0L))
          .cast(LongType).as("n_pairs"))
      sw.crossJoin(broadcast(tot))
        .selectExpr("threshold", "n_pairs", "n_cand",
          "CAST(n_pairs AS DOUBLE) / n_cand AS survival")
        .orderBy(col("threshold"))
    })

  // --------------------------------------------------------- simhash
  private[graft] def simhashSqlCteOver(src: String): String =
    s"""tok AS (SELECT doc_id, list_distinct(string_split(${normTextSql("text")}, ' ')) AS t FROM $src),
       hsx AS (SELECT doc_id, list_transform(t, s -> ${h60Sql("s")}) AS hs FROM tok),
       sim AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, ${DedupApi.SimhashBits}), i ->
           CASE WHEN 2 * len(list_filter(hs, h -> ((h >> i) & 1) = 1)) > len(hs)
                THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
         FROM hsx)"""

  private val simhashSqlCte: String = simhashSqlCteOver("documents")

  val simhash = QueryDef(
    "dedup_simhash",
    Some(s"""WITH $simhashSqlCte
      SELECT doc_id, simhash FROM sim ORDER BY doc_id"""),
    (s, d) => DedupApi.simhashSignatures(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id")))

  /** DuckDB CTE pair replaying the engine's C(9,3) combo banding over
    * the distinct signatures of `sigsRel` — the banded (near-linear)
    * oracle shape (r14; lossless at hamming ≤ 6, so results are
    * bit-identical to the old quadratic scan — verified equal at
    * sf0.01 AND sf0.1 before the swap). */
  private def comboKeysCte(name: String, sigsRel: String): String =
    s"""${name}0 AS (SELECT simhash, unnest([${DedupApi.simhashComboKeysDuck("simhash")}]) AS u FROM $sigsRel),
      $name AS (SELECT simhash, u.c AS c, u.k AS k FROM ${name}0)"""

  /** Banded plan (three-block combo tables, exact for hamming ≤ 6 — see
    * [[DedupApi.simhashPairs]]); the oracle mirrors the SAME banding
    * ([[DedupApi.simhashComboKeysDuck]] — shared constants) over
    * distinct signatures, then expands through the signature→id map
    * with hamming-0 self-rows, exactly like the engine. Banding is
    * lossless at this distance, so the result set equals the
    * quadratic scan's — but the oracle is now near-linear too
    * (r13 verdict item #1: the old n²/2 reference scan was the only
    * blocker for this key's 10× proof). */
  val simhashPairs = QueryDef(
    "dedup_simhash_pairs",
    Some(s"""WITH $simhashSqlCte,
      sigs AS (SELECT DISTINCT simhash FROM sim),
      ${comboKeysCte("keys", "sigs")},
      sp AS (SELECT DISTINCT a.simhash AS sig_a, b.simhash AS sig_b
        FROM keys a JOIN keys b ON a.c = b.c AND a.k = b.k AND a.simhash < b.simhash
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
      spd AS (SELECT sig_a, sig_b FROM sp
        UNION ALL SELECT simhash, simhash FROM sigs)
      SELECT least(s1.doc_id, s2.doc_id) AS doc_a,
        greatest(s1.doc_id, s2.doc_id) AS doc_b,
        bit_count(xor(s1.simhash, s2.simhash)) AS hamming
      FROM spd p JOIN sim s1 ON s1.simhash = p.sig_a JOIN sim s2 ON s2.simhash = p.sig_b
      WHERE p.sig_a <> p.sig_b OR s1.doc_id < s2.doc_id
      ORDER BY doc_a, doc_b"""),
    (s, d) => DedupApi.simhashPairs(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 6, banded = true)
      .orderBy(col("doc_a"), col("doc_b")))

  /** Incremental ingest dedup: even doc_ids stand in for the existing
    * corpus, odd for today's batch (production passes two real
    * DataFrames). The oracle mirrors the engine's asymmetric C(9,3)
    * banding (new-side keys × existing-side keys, no pair ordering —
    * identical signatures are cross pairs by construction), lossless
    * at hamming ≤ 6, so it equals the old quadratic cross scan while
    * staying near-linear at scale (r14, same swap-proof discipline as
    * [[simhashPairs]]). */
  val incremental = QueryDef(
    "dedup_incremental",
    Some(s"""WITH $simhashSqlCte,
      se AS (SELECT * FROM sim WHERE doc_id % 2 = 0),
      sn AS (SELECT * FROM sim WHERE doc_id % 2 = 1),
      sigse AS (SELECT DISTINCT simhash FROM se),
      sigsn AS (SELECT DISTINCT simhash FROM sn),
      ${comboKeysCte("keyse", "sigse")},
      ${comboKeysCte("keysn", "sigsn")},
      sp AS (SELECT DISTINCT a.simhash AS sig_new, b.simhash AS sig_old
        FROM keysn a JOIN keyse b ON a.c = b.c AND a.k = b.k
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 6)
      SELECT o.doc_id AS doc_existing, n.doc_id AS doc_new,
        bit_count(xor(o.simhash, n.simhash)) AS hamming
      FROM sp JOIN sn n ON n.simhash = sp.sig_new JOIN se o ON o.simhash = sp.sig_old
      ORDER BY doc_existing, doc_new"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      DedupApi.simhashPairsIncremental(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", maxHamming = 6)
        .orderBy(col("doc_existing"), col("doc_new"))
    })

  // ------------------------------------------------ containment pairs
  /** Containment cap shared by engine and oracle (the LshBucketCap
    * discipline: one definition, mirrored). */
  val ContainmentShingleCap = 30

  /** Asymmetric containment pairs (see [[DedupApi.containmentPairs]]):
    * the quote/excerpt signal Jaccard misses — and the reason this
    * query's candidates CANNOT ride MinHash banding (collision
    * probability IS Jaccard). Oracle mirrors the df-capped
    * shared-shingle blocking, which is part of the semantics. */
  val containment = QueryDef(
    "dedup_containment",
    Some(s"""WITH $shSqlCte,
      ex AS (SELECT doc_id, unnest(sh) AS h FROM shx),
      ovs AS (SELECT h FROM ex GROUP BY h HAVING count(*) > $ContainmentShingleCap),
      kept AS (SELECT e.doc_id, e.h FROM ex e WHERE h NOT IN (SELECT h FROM ovs)),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id),
      v AS (SELECT c.doc_a, c.doc_b,
          len(list_filter(s1.sh, x -> list_contains(s2.sh, x))) AS inter,
          least(len(s1.sh), len(s2.sh)) AS lm
        FROM cand c JOIN shx s1 ON s1.doc_id = c.doc_a JOIN shx s2 ON s2.doc_id = c.doc_b)
      SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
        round(CAST(inter AS DOUBLE) / lm, 6) AS containment
      FROM v WHERE CAST(inter AS DOUBLE) / lm >= 0.8
      ORDER BY doc_a, doc_b"""),
    (s, d) => DedupApi.containmentPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.8, maxShingleDocs = ContainmentShingleCap)
      .orderBy(col("doc_a"), col("doc_b")))

  // --------------------------------------------- n-gram Jaccard dedup
  /** Character-5-gram Jaccard near-dup at the standard 0.7
    * near-duplicate threshold, prefix-filtered within `source`
    * blocks (see [[DedupApi.ngramJaccardPairs]] — lower thresholds
    * weaken prefix filtering by construction: prefix length is
    * (1-t)|g|+1). */
  val ngramJaccard = QueryDef(
    "dedup_ngram_jaccard",
    // r14 oracle shape, two quadratic walls removed while staying
    // exactly equal to the old all-pairs-within-source scan (verified
    // equal at sf0.01 AND sf0.1, and against the engine's 10× dump):
    //  1. docs collapse to DISTINCT (source, normalized-text) classes
    //     first (the Manku distinct-signature discipline the banded
    //     simhash oracle already uses) — identical texts share gram
    //     sets, so class pairs expand losslessly to id pairs
    //     (within-class pairs are jaccard-1.0 by construction), and a
    //     replicated corpus costs the oracle distinct-text work, not
    //     corpus² work;
    //  2. class-pair candidates ride the same (gdf, gram)-ordered
    //     prefix filter + length + positional bounds the engine uses
    //     (lossless for J ≥ t — Bayardo/ppjoin; see
    //     [[DedupApi.ngramJaccardPairs]]), verified via native
    //     list_intersect over sorted distinct gram lists.
    Some(s"""WITH nrm AS (SELECT doc_id, source, ${normTextSql("text")} AS s FROM documents),
      cls AS (SELECT source, s, min(doc_id) AS rep, list(doc_id) AS ids, count(*) AS m
        FROM nrm WHERE length(s) >= 5 GROUP BY source, s),
      gl AS (SELECT rep, source, ids, m,
        list_sort(list_distinct(list_transform(range(1, length(s) - 3), i -> substr(s, i, 5)))) AS gr
        FROM cls),
      gll AS (SELECT rep, source, ids, m, gr, len(gr) AS la FROM gl),
      ex AS (SELECT rep, source, la, unnest(gr) AS gram FROM gll),
      gdf AS (SELECT source, gram, count(*) AS gdf FROM ex GROUP BY source, gram),
      pre AS (SELECT e.rep, e.source, e.la, e.gram,
          row_number() OVER (PARTITION BY e.rep ORDER BY d.gdf, e.gram) AS rn
        FROM ex e JOIN gdf d ON d.source = e.source AND d.gram = e.gram),
      pr AS (SELECT * FROM pre WHERE rn <= la - ceil(la * 0.7) + 1),
      cand AS (SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b
        FROM pr a JOIN pr b ON a.source = b.source AND a.gram = b.gram AND a.rep < b.rep
        WHERE a.la >= b.la * 0.7 - 1e-6 AND b.la >= a.la * 0.7 - 1e-6
          AND 1 + least(a.la - a.rn, b.la - b.rn) >= ceil((a.la + b.la) * (0.7 / 1.7) - 1e-6)),
      vr AS (SELECT c.rep_a, c.rep_b, g1.ids AS ids_a, g2.ids AS ids_b,
          CAST(len(list_intersect(g1.gr, g2.gr)) AS DOUBLE)
            / (g1.la + g2.la - len(list_intersect(g1.gr, g2.gr))) AS j
        FROM cand c JOIN gll g1 ON g1.rep = c.rep_a JOIN gll g2 ON g2.rep = c.rep_b),
      cross_pairs AS (SELECT least(xa, xb) AS doc_a, greatest(xa, xb) AS doc_b, round(j, 6) AS jaccard
        FROM (SELECT unnest(ids_a) AS xa, ids_b, j FROM vr WHERE j >= 0.7) t0,
          unnest(ids_b) AS u(xb)),
      within_pairs AS (SELECT xa AS doc_a, xb AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
        FROM (SELECT unnest(ids) AS xa, ids FROM gll WHERE m > 1) t1,
          unnest(ids) AS u(xb) WHERE xa < xb)
      SELECT doc_a, doc_b, jaccard FROM cross_pairs
      UNION ALL SELECT doc_a, doc_b, jaccard FROM within_pairs
      ORDER BY doc_a, doc_b"""),
    (s, d) => DedupApi.ngramJaccardPairs(Tables.documents(s, d),
        "doc_id", "text", "source", n = 5, threshold = 0.7)
      .orderBy(col("doc_a"), col("doc_b")))

  // --------------------------------------- repeated-substring dedup
  /** Winnowed repeated-substring pairs (MOSS fingerprinting — see
    * [[DedupApi.substringPairs]]): documents sharing any substring of
    * ≥ k+w−1 = 35 normalized chars share a fingerprint at ANY offsets.
    * The oracle replicates the winnow (same h60 gram hashes, same
    * window minima) and the quadratic fp join — banding is lossless,
    * so both sides produce the identical pair set. */
  val substring = QueryDef(
    "dedup_substring",
    Some {
      val (k, w) = (DedupApi.WinnowK, DedupApi.WinnowW)
      s"""WITH n AS (SELECT doc_id, ${normTextSql("text")} AS s FROM documents),
        g AS (SELECT doc_id,
          list_transform(range(1, length(s) - ${k - 1} + 1), i -> ${h60Sql(s"substr(s, i, $k)")}) AS hs
          FROM n WHERE length(s) >= ${k + w - 1}),
        f AS (SELECT doc_id, unnest(list_distinct(
          list_transform(range(1, len(hs) - ${w - 1} + 1), i -> list_min(list_slice(hs, i, i + ${w - 1}))))) AS fp
          FROM g)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          count(DISTINCT a.fp) AS n_shared_fps
        FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b"""
    },
    (s, d) => DedupApi.substringPairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_a"), col("doc_b")))

  // ------------------------------------------- embedding near-dup
  /** Exact all-pairs baseline — the semantics is the full n²/2 scan
    * (the scale path is [[embedCosineLsh]]/[[semantic]]). r14 oracle
    * speed fix: the dot rides DuckDB's native `list_dot_product`
    * (sequential double accumulation — bit-identical to the old
    * `list_reduce` fold, verified equal at sf0.01 AND sf0.1) and is
    * computed ONCE per pair in a sub-select instead of twice
    * (SELECT + WHERE) with a per-pair `range()` list build — the two
    * changes took the 10× reference run from >23 min to seconds. */
  val embedCosine = QueryDef(
    "dedup_embed_cosine",
    Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS c
        FROM n a JOIN n b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b, round(c, 6) AS cos FROM p WHERE c >= 0.4 ORDER BY id_a, id_b"""),
    (s, d) => DedupApi.cosinePairs(Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.4)
      .orderBy(col("id_a"), col("id_b")), bench = false)

  /** Sub-quadratic cosine near-dup: hyperplane-LSH blocked candidates
    * + exact re-verify (see [[DedupApi.cosinePairsLsh]]). The oracle
    * mirrors the identical deterministic blocking — INCLUDING the
    * per-(table, bucket) population cap (r7: the fixed 16-bucket
    * geometry makes the uncapped self-join Σ\|bucket\|² ≈ n²/16;
    * the cap is part of the gated semantics, generous at gate scale)
    * — LSH recall is probabilistic, so the contract is the blocked
    * construction, not the all-pairs scan ([[embedCosine]] stays as
    * the exact baseline; `dedup_semantic` is the production path). */
  val embedCosineLsh = QueryDef(
    "dedup_embed_cosine_lsh",
    Some {
      import graft.similarity.Similarity
      val bkCols = (0 until Similarity.NumTables)
        .map(t => s"${Similarity.bucketExprSql(t)} AS bk_$t").mkString(", ")
      val tb = (0 until Similarity.NumTables)
        .map(t => s"SELECT vec_id, $t AS t, bk_$t AS bk FROM bk")
        .mkString(" UNION ALL ")
      s"""WITH vx AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      nx AS (SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm FROM vx),
      bk AS (SELECT vec_id, $bkCols FROM (SELECT vec_id, v FROM nx) t0),
      tb0 AS ($tb),
      bsz AS (SELECT t, bk, count(*) AS bn FROM tb0 GROUP BY t, bk),
      tb AS (SELECT tb0.* FROM tb0 JOIN bsz ON tb0.t = bsz.t AND tb0.bk = bsz.bk
        WHERE bsz.bn <= ${Similarity.KnnGraphMaxBucket}),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM tb a JOIN tb b ON a.t = b.t AND a.bk = b.bk AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, round(c, 6) AS cos FROM (
        SELECT cd.id_a, cd.id_b,
          list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
            / (a.nrm * b.nrm) AS c
        FROM cand cd JOIN nx a ON a.vec_id = cd.id_a JOIN nx b ON b.vec_id = cd.id_b) t
      WHERE c >= 0.4 ORDER BY id_a, id_b"""
    },
    (s, d) => DedupApi.cosinePairsLsh(Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.4,
        maxBucketSize = graft.similarity.Similarity.KnnGraphMaxBucket)
      .orderBy(col("id_a"), col("id_b")))

  // ------------------------------------------------ semantic dedup
  /** Oracle head of the semantic gates: the verified k-means CTEs and
    * `nc(vec_id, v, nrm, cell)`, each vector with its cell. */
  private def semanticCellsSql: String = {
    import graft.similarity.Similarity
    val (ctes, ka) = Similarity.kmeansSqlCtes(
      Similarity.KmeansCells, Similarity.KmeansIters, Similarity.KmeansTrainMod)
    s"""${Similarity.normSqlCte}, $ctes,
      nc AS (SELECT n.vec_id, n.v, n.nrm, k.cell FROM nx n JOIN $ka k ON k.vec_id = n.vec_id)"""
  }
  /** The dot product of two `nc` rows `a`, `b`. */
  private val dotAbSql =
    "list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)"

  /** SemDeDup (Abbas et al. 2023): cosine near-dup pairs found only
    * INSIDE k-means cells (see [[DedupApi.semanticPairs]]) — the
    * embedding-dedup recipe that scales, because the pair scan is
    * cluster-local (Σ|cell|², never |corpus|²). Same Lloyd recipe and
    * constants as the gated `vec_kmeans`, so the oracle composes the
    * already-verified k-means CTEs with one cell-local pair CTE;
    * threshold matches `dedup_embed_cosine` so the within-cell subset
    * relation is auditable across the two gates. */
  val semantic = QueryDef(
    "dedup_semantic",
    Some(s"""WITH $semanticCellsSql
      SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
        round($dotAbSql / (a.nrm * b.nrm), 6) AS cos
      FROM nc a JOIN nc b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE $dotAbSql / (a.nrm * b.nrm) >= 0.4
      ORDER BY id_a, id_b"""),
    (s, d) => {
      import graft.similarity.Similarity
      DedupApi.semanticPairs(Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.4,
          Similarity.KmeansCells, Similarity.KmeansIters, Similarity.KmeansTrainMod)
        .orderBy(col("id_a"), col("id_b"))
    })

  // ------------------------------------- composed: semantic dedup endgame
  /** The full SemDeDup pipeline: cell-local cosine pairs
    * ([[semantic]]) → connected components (large/small-star) →
    * keep-one-per-cluster — every vector labeled with its duplicate
    * cluster and whether the keep-min policy retains it. The oracle
    * composes the already-verified k-means + pair CTEs with the
    * recursive-CTE component labeling of `dedup_clusters`. */
  val semanticDedupPipeline = QueryDef(
    "pipeline_semantic_dedup",
    Some(s"""WITH RECURSIVE $semanticCellsSql,
      pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM nc a JOIN nc b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE $dotAbSql / (a.nrm * b.nrm) >= 0.4),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        UNION ALL SELECT id_b, id_a FROM pr),
      reach AS (
        SELECT vec_id AS node, vec_id AS label FROM embeddings
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON r.node = e.src)
      SELECT node AS vec_id, min(label) AS cluster,
        (min(label) = node) AS kept
      FROM reach GROUP BY node ORDER BY vec_id"""),
    (s, d) => {
      import graft.similarity.Similarity
      val pairs = DedupApi.semanticPairs(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.4,
          Similarity.KmeansCells, Similarity.KmeansIters, Similarity.KmeansTrainMod)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      DedupApi.nearDupClusters(
          Tables.embeddings(s, d).select(col("vec_id")), "vec_id", pairs)
        .select(col("node").as("vec_id"), col("cluster"),
          (col("cluster") === col("node")).as("kept"))
        .orderBy(col("vec_id"))
    }, bench = false)

  // --------------------------------------------------- clustering
  /** Near-dup clustering: connected components over the MinHash+LSH
    * pair graph, every doc labeled with its component's min doc id —
    * the "cluster then keep one" dedup endgame. Oracle recomputes the
    * components with a recursive CTE (label reachability + min). */
  /** Pair graph uses the same megabucket cap as the gated LSH query
    * (identical scale hygiene), mirrored in the recursive-CTE
    * oracle. */
  val clusters = QueryDef(
    "dedup_clusters",
    Some(s"""$nearDupReachSql
      SELECT node AS doc_id, min(label) AS cluster FROM reach
      GROUP BY node ORDER BY doc_id"""),
    (s, d) => nearDupAssignment(s, d)
      .select(col("node").as("doc_id"), col("cluster"))
      .orderBy(col("doc_id")))

  // ------------------------------------------------- cluster stats
  /** dedup_cluster_stats (r8): the near-dup cluster SIZE distribution
    * — the "what does near-dedup actually save" readout a data team
    * reads before running the expensive keep pass (dup mass =
    * Σ (size−1) over clusters; a heavy tail here means boilerplate,
    * a flat one means organic duplication). Composes the gated
    * `dedup_clusters` assignment unchanged (banded LSH +
    * large/small-star, bucket-capped), then two cluster-grain
    * aggregates: per-cluster sizes → per-size histogram with doc
    * mass and the removable-duplicate count. Shares are single IEEE
    * divisions over exact counts. */
  val clusterStats = QueryDef(
    "dedup_cluster_stats",
    Some(s"""$nearDupReachSql,
      asg AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
      cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz FROM asg GROUP BY cluster),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM asg)
      SELECT cs.sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(sum(cs.sz) AS BIGINT) AS n_docs,
        CAST(sum(cs.sz - 1) AS BIGINT) AS n_removable,
        CAST(sum(cs.sz) AS DOUBLE) / nn.n_docs AS doc_share
      FROM cs, nn GROUP BY cs.sz, nn.n_docs ORDER BY cluster_size"""),
    (s, d) => {
      val asg = nearDupAssignment(s, d)
      DedupApi.clusterSizeStats(asg)
    })

  // ------------------------------------------- per-source dedup stats
  /** dedup_source_stats: near-dup impact BY SOURCE — which ingest
    * feeds actually carry the duplication (the attribution readout a
    * data team reads before renegotiating/reweighting a source; a
    * crawler feed at 40% dup rate and a curated feed at 2% should not
    * be treated alike). Composes the gated `dedup_clusters` assignment
    * unchanged, picks each cluster's canonical keeper (min doc_id —
    * the `dedup_clusters` label convention, exact-integer total
    * order), and attributes every non-keeper doc to ITS OWN source:
    * per source the doc count, removable count, and 6-dp dup rate.
    *
    * 100 TB shape: the cluster machinery is the capped banded scan +
    * large/small-star rounds already gated; on top of it ONE
    * cluster-keyed min aggregate, one node-keyed join back to the
    * (doc_id, source) projection, and a source-grain count aggregate
    * — all keyed shuffles on ids, nothing quadratic. */
  val sourceStats = QueryDef(
    "dedup_source_stats",
    Some(s"""$nearDupReachSql,
      asg AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
      kp AS (SELECT cluster, min(node) AS keep FROM asg GROUP BY cluster),
      at AS (SELECT d.source, CASE WHEN a.node <> kp.keep THEN 1 ELSE 0 END AS rm
        FROM asg a JOIN kp ON a.cluster = kp.cluster
        JOIN documents d ON a.node = d.doc_id),
      st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(rm) AS BIGINT) AS n_removable
        FROM at GROUP BY source)
      SELECT source, n_docs, n_removable,
        ${graft.Portable.round6RatioDuck("n_removable", "n_docs")} AS dup_rate
      FROM st ORDER BY source"""),
    (s, d) => {
      val asg = nearDupAssignment(s, d)
      sourceDedupStats(asg,
        Tables.documents(s, d).select(col("doc_id"), col("source")))
    })

  /** Per-source removable attribution over a (node, cluster)
    * assignment and a (doc_id, source) projection — [[sourceStats]]. */
  def sourceDedupStats(asg: DataFrame, docSource: DataFrame): DataFrame = {
    val kp = asg.groupBy(col("cluster")).agg(min(col("node")).as("keep"))
    asg.join(kp, Seq("cluster"))
      .join(docSource, col("node") === col("doc_id"))
      .select(col("source"),
        when(col("node") =!= col("keep"), 1L).otherwise(0L).as("rm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"), sum(col("rm")).cast("long").as("n_removable"))
      .selectExpr("source", "n_docs", "n_removable",
        s"${graft.Portable.round6RatioSpark("n_removable", "n_docs")} AS dup_rate")
      .orderBy(col("source"))
  }

  // ------------------------------------------ paragraph-grain near-dup
  /** Fixed template for the paragraph gate's planted near-dup
    * population (29 tokens; the trailing variant token differs per
    * class, so cross-class paragraphs share 26 of 27 shingles —
    * J ≈ 0.93, a genuine NEAR-dup, while same-class paragraphs are
    * exact). Population pinned to doc_id < 12 — FIXED-SIZE at every
    * scale factor, so the [[LshBucketCap]] megabucket guard behaves
    * identically at sf0.01 and sf0.1 (a %-of-corpus population would
    * cross the cap as the corpus grows and silently empty the gate). */
  private val ParaTemplate = "shared boilerplate paragraph one two three four " +
    "five six seven eight nine ten eleven twelve thirteen fourteen fifteen " +
    "sixteen seventeen eighteen nineteen twenty alpha beta gamma delta tail"

  /** dedup_paragraph_minhash: near-dup pairs at PARAGRAPH grain —
    * see [[DedupApi.paragraphMinhashPairs]]. The oracle replays the
    * identical banded machinery over the identically-planted
    * paragraph relation via [[bandsSqlCteOver]]. */
  val paragraphMinhash = QueryDef(
    "dedup_paragraph_minhash",
    Some {
      val m = DedupApi.MaxParasPerDoc
      s"""WITH p0 AS (SELECT doc_id, text ||
          (CASE WHEN doc_id < 12 THEN chr(10) || chr(10) || '$ParaTemplate ' || CAST(doc_id % 3 AS VARCHAR)
           ELSE '' END) AS t FROM documents),
        lx AS (SELECT doc_id, string_split_regex(t, '\\n{2,}') AS segs FROM p0),
        pr AS (SELECT doc_id * $m + (i - 1) AS pid, segs[i] AS para
          FROM lx, unnest(range(1, len(segs) + 1)) AS r(i)
          WHERE ${normTextSql("segs[i]")} <> ''),
        ${bandsSqlCteOver("pr", "pid", "para")},
        $cappedCandSqlCte,
        $candOverlapSqlCte
        SELECT doc_a // $m AS doc_a, doc_a % $m AS para_a,
          doc_b // $m AS doc_b, doc_b % $m AS para_b,
          round(CAST(inter AS DOUBLE) / (la + lb - inter), 6) AS jaccard
        FROM pairs WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.6
        ORDER BY doc_a, para_a, doc_b, para_b"""
    },
    (s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") < 12,
            concat(lit("\n\n" + ParaTemplate + " "), (col("doc_id") % 3).cast("string")))
            .otherwise("")).as("t"))
      DedupApi.paragraphMinhashPairs(planted, "doc_id", "t",
          threshold = 0.6, maxBucketSize = LshBucketCap)
        .orderBy(col("doc_a"), col("para_a"), col("doc_b"), col("para_b"))
    })

  // ----------------------------------------- keep-best cluster policy
  /** Near-dup clusters resolved by the PRODUCTION keep policy: each
    * cluster retains its highest-QUALITY member, not its min id — the
    * policy every real pipeline wants (min-id keeps whichever shard
    * happened to ingest first; keep-best retains the longest/cleanest
    * variant of the duplicated content). Quality is the integer-exact
    * unique-token permille `(uniq · 10⁶) div n_tokens` (the
    * corpus_budget_select scoring discipline — exact integer division,
    * so the (q DESC, doc_id) keep order is a total order both engines
    * agree on bit-for-bit; doubles would make argmax ties
    * engine-dependent).
    *
    * Scale shape: the pair graph and components are the gated
    * `dedup_clusters` machinery unchanged (banded LSH + large/small-
    * star, all bucket-capped); scoring is one map-only pass; the
    * winner per cluster is a map-side-combinable `max_by` aggregate
    * over (cluster)-keys joined back doc-keyed — no window sort over
    * the corpus, no new quadratic term. */
  val keepBest = QueryDef(
    "dedup_keep_best",
    Some(s"""$nearDupReachSql,
      comp AS (SELECT node AS doc_id, min(label) AS cluster FROM reach GROUP BY node),
      q AS (SELECT doc_id,
          (len(list_distinct(string_split(${normTextSql("text")}, ' '))) * 1000000)
            // len(string_split(${normTextSql("text")}, ' ')) AS q
        FROM documents),
      best AS (SELECT c.cluster, first(c.doc_id ORDER BY q.q DESC, c.doc_id) AS keep_id
        FROM comp c JOIN q ON q.doc_id = c.doc_id GROUP BY c.cluster)
      SELECT c.doc_id, c.cluster, q.q, (c.doc_id = b.keep_id) AS kept
      FROM comp c JOIN q ON q.doc_id = c.doc_id JOIN best b ON b.cluster = c.cluster
      ORDER BY c.doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val comp = nearDupAssignment(s, d).withColumnRenamed("node", "doc_id")
      val toks = split(normText(col("text")), " ")
      val qInt = docs
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"),
          expr("(size(array_distinct(toks)) * 1000000L) div size(toks)").as("q"))
      val withQ = comp.join(qInt, Seq("doc_id"))
      val best = withQ.groupBy(col("cluster"))
        .agg(expr("max_by(doc_id, struct(q, -doc_id))").as("keep_id"))
      withQ.join(best, Seq("cluster"))
        .select(col("doc_id"), col("cluster"), col("q"),
          (col("doc_id") === col("keep_id")).as("kept"))
        .orderBy(col("doc_id"))
    })

  // ------------------------------------- composed: exact-then-near dedup
  /** The production ordering the 20× scale probe motivates (SURVEY
    * §4): collapse exact duplicates FIRST (hash groupBy, sublinear),
    * then run the banded near-dup scan over the survivors — identical
    * fingerprints never reach the pair stage. Oracle composes the
    * same two stages. */
  val nearDedupPipeline = QueryDef(
    "pipeline_near_dedup",
    Some(s"""WITH k AS (SELECT md5(${normTextSql("text")}) AS h, min(doc_id) AS keep_id
        FROM documents GROUP BY h),
      kept AS (SELECT d.* FROM documents d JOIN k ON d.doc_id = k.keep_id),
      ${simhashSqlCteOver("kept")}
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM sim a JOIN sim b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
      ORDER BY doc_a, doc_b"""),
    (s, d) => DedupApi.simhashPairs(
        DedupApi.exactKeep(Tables.documents(s, d), "doc_id", "text"),
        "doc_id", "text", maxHamming = 6, banded = true)
      .orderBy(col("doc_a"), col("doc_b")))

  val defs: Seq[QueryDef] = Seq(exact, minhashSignatures, minhashLsh,
    simhash, simhashPairs, incremental, ngramJaccard, containment, substring,
    embedCosine, embedCosineLsh, semantic, semanticDedupPipeline, clusters,
    keepBest, nearDedupPipeline, minhashFidelityQ, thresholdSweep, clusterStats,
    sourceStats, paragraphMinhash)
}
