package graft.functions

import graft.{Portable, QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the documents corpus
  * (SURVEY.md §2.5 extension): deterministic dataset splitting,
  * token-budget sequence packing, and stratified sampling — the
  * plumbing between "deduped corpus" and "training shards". All are
  * hash-deterministic (no RNG state), so results are reproducible
  * across runs/cluster sizes and DuckDB-oracle-verifiable.
  */
object Pipeline {
  import Portable._

  /** Train/val/test split by content-stable hash of the doc id
    * (90/5/5). Hash-based splits are the standard reproducible
    * recipe: membership is a pure per-row function — no shuffle, no
    * global state, stable under corpus growth. */
  val splitStats = QueryDef(
    "corpus_split_stats",
    Some(s"""WITH s AS (SELECT lang,
        CASE WHEN ${h60Sql("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
             WHEN ${h60Sql("CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
             ELSE 'test' END AS split,
        len(string_split(${normTextSql("text")}, ' ')) AS toks
      FROM documents)
      SELECT split, lang, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS sum_tokens
      FROM s GROUP BY split, lang ORDER BY split, lang"""),
    (s, d) => {
      val bucket = pmod(h60(col("doc_id").cast("string")), lit(100))
      Tables.documents(s, d)
        .select(col("lang"),
          when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").as("split"),
          size(split(normText(col("text")), " ")).as("toks"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).cast("long").as("sum_tokens"))
        .orderBy(col("split"), col("lang"))
    })

  /** Packing parallelism is derived from corpus size, not hardcoded:
    * `ngrp = max(MinPackGroups, ceil(n_docs / PackGroupTargetDocs))`,
    * so the per-group cumulative-sum window never sees more than
    * ~[[PackGroupTargetDocs]] docs regardless of corpus size — at 10⁹
    * docs that is ~8M groups of ~128 docs each (bounded task state),
    * where a fixed group count would push corpus/64 rows through one
    * window task. The floor keeps tiny corpora on stable group ids. */
  val MinPackGroups = 64
  val PackGroupTargetDocs = 128

  /** Token-budget sequence packing: documents are packed into ~2000-
    * token shards by running token count. Packing is sequential by
    * nature, so it runs inside `ngrp` deterministic `doc_id % ngrp`
    * pack groups — each group is an independent cumulative sum whose
    * input is bounded by ~[[PackGroupTargetDocs]] docs (see above); the
    * group count itself grows linearly with the corpus, so parallelism
    * scales with the data, not with a literal. The one-row group-count
    * aggregate is broadcast into the plan (no driver action).
    *
    * The manifest carries BOTH the (grp, shard) packing coordinates
    * and a globally sequential `global_shard` id — the id a downstream
    * dataloader actually consumes. The global id is an exclusive scan
    * of per-group shard counts laid over the per-group ids: the offset
    * table is derived from the manifest itself (ngrp rows — metadata
    * scale, ~n_docs/128), its prefix-sum window runs over those ngrp
    * rows only, and it joins back by broadcast — the corpus is never
    * reshuffled for global ids. Output: shard manifest with doc/token
    * counts and both id spaces. */
  val packShards = QueryDef(
    "corpus_pack_shards",
    Some(s"""WITH p AS (SELECT greatest($MinPackGroups,
          CAST(ceil(count(*) / $PackGroupTargetDocs.0) AS BIGINT)) AS ngrp FROM documents),
      t AS (SELECT doc_id, doc_id % (SELECT ngrp FROM p) AS grp,
        len(string_split(${normTextSql("text")}, ' ')) AS toks FROM documents),
      c AS (SELECT doc_id, grp, toks,
        sum(toks) OVER (PARTITION BY grp ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM t),
      m AS (SELECT grp, CAST((cum - toks) // 2000 AS BIGINT) AS shard,
        count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS sum_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY grp, shard),
      o AS (SELECT grp, COALESCE(sum(cnt) OVER (ORDER BY grp
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
        FROM (SELECT grp, max(shard) + 1 AS cnt FROM m GROUP BY grp))
      SELECT m.grp, m.shard, CAST(o.base + m.shard AS BIGINT) AS global_shard,
        n_docs, sum_tokens, first_doc, last_doc
      FROM m JOIN o ON m.grp = o.grp ORDER BY m.grp, m.shard"""),
    (s, d) => {
      val w = Window.partitionBy(col("grp")).orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val docs = Tables.documents(s, d)
      val params = docs.agg(greatest(lit(MinPackGroups.toLong),
        ceil(count(lit(1)) / PackGroupTargetDocs.toDouble)).as("ngrp"))
      val manifest = docs
        .select(col("doc_id"), size(split(normText(col("text")), " ")).as("toks"))
        .crossJoin(broadcast(params))
        .select(col("doc_id"), pmod(col("doc_id"), col("ngrp")).as("grp"), col("toks"))
        .withColumn("cum", sum(col("toks")).over(w))
        .withColumn("shard", expr("(cum - toks) div 2000"))
        .groupBy(col("grp"), col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).cast("long").as("sum_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      // Exclusive scan over per-group shard counts → global offsets.
      // ngrp rows total: the single-partition window is metadata-scale
      // by construction, and the join back is an explicit broadcast.
      val wo = Window.orderBy(col("grp")).rowsBetween(Window.unboundedPreceding, -1)
      val offsets = manifest.groupBy(col("grp"))
        .agg((max(col("shard")) + 1).as("cnt"))
        .select(col("grp"), coalesce(sum(col("cnt")).over(wo), lit(0L)).as("base"))
      manifest.join(broadcast(offsets), Seq("grp"))
        .select(col("grp"), col("shard"),
          (col("base") + col("shard")).cast("long").as("global_shard"),
          col("n_docs"), col("sum_tokens"), col("first_doc"), col("last_doc"))
        .orderBy(col("grp"), col("shard"))
    })

  /** Fixed-length training-sequence tokens (GPT-style concat-and-chunk). */
  val SeqTokens = 2048

  /** Concat-and-chunk sequence assembly — the OTHER packing contract:
    * [[packShards]] keeps documents whole (shard sizes vary around
    * the budget); this operator concatenates each pack group's token
    * stream and cuts it every [[SeqTokens]] tokens, so documents CROSS
    * sequence boundaries — exactly what a causal-LM dataloader feeds
    * the model. The manifest reports, per sequence, the composition a
    * loader needs to audit fragmentation: docs overlapping, docs
    * starting, and token occupancy (`n_docs − n_starts` = spans
    * continued across a boundary; high values at small [[SeqTokens]]
    * mean heavy mid-document truncation).
    *
    * Scale shape: one shuffle on `grp` (packing is sequential by
    * nature; the per-group window sees ~[[PackGroupTargetDocs]] docs —
    * see [[packShards]]), then a pure per-row explode whose fan-out is
    * `toks/SeqTokens + 1 ≈ 1` extra row per doc, and the same
    * metadata-scale broadcast exclusive scan for globally sequential
    * sequence ids (group streams are gapless, so per-group ids are
    * dense 0..max and offsets compose exactly). The corpus is never
    * reshuffled for ids. */
  val packSequences = QueryDef(
    "corpus_pack_sequences",
    Some(s"""WITH p AS (SELECT greatest($MinPackGroups,
          CAST(ceil(count(*) / $PackGroupTargetDocs.0) AS BIGINT)) AS ngrp FROM documents),
      t AS (SELECT doc_id, doc_id % (SELECT ngrp FROM p) AS grp,
        len(string_split(${normTextSql("text")}, ' ')) AS toks FROM documents),
      c AS (SELECT doc_id, grp, toks,
        sum(toks) OVER (PARTITION BY grp ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - toks AS start
      FROM t),
      e AS (SELECT grp, doc_id, toks, start,
        unnest(range(CAST(start // $SeqTokens AS BIGINT),
                     CAST((start + toks - 1) // $SeqTokens + 1 AS BIGINT))) AS seq
      FROM c),
      m AS (SELECT grp, seq, count(*) AS n_docs,
        CAST(sum(CASE WHEN start // $SeqTokens = seq THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
        CAST(sum(least(start + toks, (seq + 1) * $SeqTokens)
               - greatest(start, seq * $SeqTokens)) AS BIGINT) AS n_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM e GROUP BY grp, seq),
      o AS (SELECT grp, COALESCE(sum(cnt) OVER (ORDER BY grp
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
        FROM (SELECT grp, max(seq) + 1 AS cnt FROM m GROUP BY grp))
      SELECT m.grp, m.seq, CAST(o.base + m.seq AS BIGINT) AS global_seq,
        n_docs, n_starts, n_tokens, first_doc, last_doc
      FROM m JOIN o ON m.grp = o.grp ORDER BY m.grp, m.seq"""),
    (s, d) => {
      val w = Window.partitionBy(col("grp")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val docs = Tables.documents(s, d)
      val params = docs.agg(greatest(lit(MinPackGroups.toLong),
        ceil(count(lit(1)) / PackGroupTargetDocs.toDouble)).as("ngrp"))
      val manifest = docs
        .select(col("doc_id"), size(split(normText(col("text")), " ")).cast("long").as("toks"))
        .crossJoin(broadcast(params))
        .select(col("doc_id"), pmod(col("doc_id"), col("ngrp")).as("grp"), col("toks"))
        .withColumn("start", sum(col("toks")).over(w) - col("toks"))
        .withColumn("seq", explode(sequence(
          expr(s"start div $SeqTokens"), expr(s"(start + toks - 1) div $SeqTokens"))))
        .groupBy(col("grp"), col("seq"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(expr(s"start div $SeqTokens") === col("seq"), 1L).otherwise(0L))
            .cast("long").as("n_starts"),
          sum(least(col("start") + col("toks"), (col("seq") + 1) * SeqTokens)
            - greatest(col("start"), col("seq") * SeqTokens)).cast("long").as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      // Exclusive scan over per-group sequence counts → global offsets
      // (ngrp rows — metadata scale; broadcast back, as in packShards).
      val wo = Window.orderBy(col("grp")).rowsBetween(Window.unboundedPreceding, -1)
      val offsets = manifest.groupBy(col("grp"))
        .agg((max(col("seq")) + 1).as("cnt"))
        .select(col("grp"), coalesce(sum(col("cnt")).over(wo), lit(0L)).as("base"))
      manifest.join(broadcast(offsets), Seq("grp"))
        .select(col("grp"), col("seq"),
          (col("base") + col("seq")).cast("long").as("global_seq"),
          col("n_docs"), col("n_starts"), col("n_tokens"),
          col("first_doc"), col("last_doc"))
        .orderBy(col("grp"), col("seq"))
    })

  // ------------------------------------------- FFD bin packing (r11)
  /** Hard-capacity context-window packing (gate literals): documents
    * stay WHOLE (the [[packSequences]] concat-and-chunk contract cuts
    * them; many SFT/packing recipes forbid that), every bin holds at
    * most [[FfdCapacity]] tokens, and the packing is greedy
    * first-fit inside salted harmonic length-classes — see
    * [[ffdAssignments]] for why that per-bucket first-fit has a
    * closed form both engines compute from shared literals. */
  val FfdCapacity = 64
  val FfdSalts = 8

  /** Whole-document bin packing with a HARD per-bin token capacity —
    * the third packing contract next to [[packShards]] (whole docs,
    * soft budget) and [[packSequences]] (hard capacity, docs cut):
    * whole docs, hard capacity — what an SFT/packing stage that must
    * not truncate mid-document runs.
    *
    * Bin packing is NP-hard and first-fit-decreasing is the standard
    * 11/9·OPT greedy, but FFD is sequential — a global doc ordering.
    * The distributed relaxation that keeps FFD's guarantee per bucket
    * AND has a deterministic closed form is HARMONIC CLASSING
    * (Lee–Lee 1985's interval trick): bucket units by
    * `class_k = capacity div len`, so every unit in class k has
    * len ∈ (C/(k+1), C/k]. Inside one class, ANY k units fit one bin
    * (k·(C/k) ≤ C, exact in integers) and ANY k+1 strictly overflow
    * (each (k+1)·len ≥ C+1), so first-fit over ANY arrival order
    * packs exactly k units per bin — greedy first-fit inside the
    * bucket IS "k per bin in hash order", a pure
    * `row_number() div k`. No global sort, no sequential state, and
    * the assignment is reproducible from shared literals in both
    * engines.
    *
    * Docs longer than the capacity split into `len div C` FULL
    * windows (fill ratio 1 by construction) plus a `len mod C`
    * remainder unit that re-enters packing with its own class — the
    * standard chunk-then-pack front door.
    *
    * 100 TB shape: one narrow scan computes lengths; units are a
    * same-scan union; the ONLY shuffle is the (class, salt) window
    * whose partitions are bounded by the salt count (gate: 8;
    * production: O(corpus/task-budget) — parallelism scales with
    * data, the bucket count is a knob, and each extra salt costs at
    * most one partial bin per class). Nothing is ever sorted
    * globally and nothing is quadratic. */
  def ffdAssignments(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", capacity: Int = 2048,
      salts: Int = FfdSalts): DataFrame =
    ffdAssignmentsOfLengths(
      docs.select(col(idCol).as("doc_id"),
        size(split(normText(col(textCol)), " ")).cast("long").as("n")),
      capacity, salts)

  /** [[ffdAssignments]] over a pre-computed (doc_id, n) length frame
    * (callers that already hold lengths avoid a second text scan).
    * Emits one row per packable unit: (doc_id, ulen, class_k, salt,
    * bin) — full windows of over-capacity docs are NOT emitted (they
    * are `n div capacity` per doc by construction; see the gate's
    * `class_k = 0` summary row). */
  def ffdAssignmentsOfLengths(dl: DataFrame, capacity: Int,
      salts: Int): DataFrame = {
    val units = dl.filter(col("n") <= capacity)
      .select(col("doc_id"), col("n").as("ulen"))
      .unionAll(dl.filter(col("n") > capacity && col("n") % capacity > 0)
        .select(col("doc_id"), (col("n") % capacity).as("ulen")))
    val h = h60(concat(lit("pack:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("class_k"), col("salt"))
      .orderBy(col("h"), col("doc_id"))
    units
      .select(col("doc_id"), col("ulen"),
        expr(s"$capacity div ulen").as("class_k"),
        pmod(h, lit(salts.toLong)).as("salt"), h.as("h"))
      .withColumn("bin", (row_number().over(w) - 1).cast("long"))
      .withColumn("bin", expr("bin div class_k"))
      .drop("h")
  }

  /** The pack oracle as CTE blocks over a `<rel>(doc_id, n)` relation
    * (the shared-CTE reuse pattern: composed gates chain the EXACT
    * fragments the standalone gate verifies), ending in `cl` + `fw`;
    * finish with [[ffdSelectDuck]]. */
  def ffdCtesDuck(rel: String, c: Int, salts: Int): String =
    s"""un AS (SELECT doc_id, n AS ulen FROM $rel WHERE n <= $c
          UNION ALL SELECT doc_id, n % $c FROM $rel WHERE n > $c AND n % $c > 0),
        hx AS (SELECT doc_id, ulen, CAST($c // ulen AS BIGINT) AS class_k,
            ${h60Sql(s"('pack:' || CAST(doc_id AS VARCHAR))")} AS h FROM un),
        rn AS (SELECT class_k, h % $salts AS salt, ulen,
            row_number() OVER (PARTITION BY class_k, h % $salts ORDER BY h, doc_id) AS rn FROM hx),
        fb AS (SELECT class_k, salt, (rn - 1) // class_k AS bin,
            count(*) AS nu, CAST(sum(ulen) AS BIGINT) AS fill
          FROM rn GROUP BY class_k, salt, (rn - 1) // class_k),
        cl AS (SELECT class_k, CAST(sum(nu) AS BIGINT) AS n_units,
            CAST(count(*) AS BIGINT) AS n_bins, CAST(sum(fill) AS BIGINT) AS n_tokens,
            min(fill) AS min_fill, max(fill) AS max_fill
          FROM fb GROUP BY class_k),
        fw AS (SELECT CAST(0 AS BIGINT) AS class_k, CAST(count(*) AS BIGINT) AS n_units,
            CAST(sum(n // $c) AS BIGINT) AS n_bins, CAST(sum(n // $c) * $c AS BIGINT) AS n_tokens,
            CAST($c AS BIGINT) AS min_fill, CAST($c AS BIGINT) AS max_fill
          FROM $rel WHERE n > $c HAVING count(*) > 0)"""

  def ffdSelectDuck(c: Int): String =
    s"""SELECT class_k, n_units, n_bins, n_tokens, min_fill, max_fill,
          ${Portable.round6RatioDuck("n_tokens", s"n_bins * $c")} AS fill_ratio
        FROM (SELECT * FROM cl UNION ALL SELECT * FROM fw) u ORDER BY class_k"""

  val packFfd = QueryDef(
    "corpus_pack_ffd",
    Some {
      val c = FfdCapacity
      s"""WITH dl AS (SELECT doc_id, CAST(len(string_split(${normTextSql("text")}, ' ')) AS BIGINT) AS n FROM documents),
        ${ffdCtesDuck("dl", c, FfdSalts)}
        ${ffdSelectDuck(c)}"""
    },
    (s, d) => {
      ffdStats(Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(normText(col("text")), " ")).cast("long").as("n")),
        FfdCapacity, FfdSalts)
    })

  /** The [[packFfd]] per-class fill report over ANY (doc_id, n) unit-
    * length frame: class rows (units/bins/tokens/min/max fill/6-dp
    * fill ratio) + the ratio-1 `class_k = 0` full-window row for
    * over-capacity units. Shared by the standalone gate and the
    * composed [[mixturePackStats]]. */
  def ffdStats(lengths: DataFrame, capacity: Int, salts: Int)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val c = capacity
    val dl = scope.persist(lengths)
    val fills = ffdAssignmentsOfLengths(dl, c, salts)
      .groupBy(col("class_k"), col("salt"), col("bin"))
      .agg(count(lit(1)).as("nu"), sum(col("ulen")).cast("long").as("fill"))
    val cl = fills.groupBy(col("class_k"))
      .agg(sum(col("nu")).cast("long").as("n_units"),
        count(lit(1)).cast("long").as("n_bins"),
        sum(col("fill")).cast("long").as("n_tokens"),
        min(col("fill")).cast("long").as("min_fill"),
        max(col("fill")).cast("long").as("max_fill"))
    val fw = dl.filter(col("n") > c)
      .agg(count(lit(1)).cast("long").as("n_units"),
        sum(expr(s"n div $c")).cast("long").as("n_bins"))
      .filter(col("n_units") > 0)
      .select(lit(0L).as("class_k"), col("n_units"), col("n_bins"),
        (col("n_bins") * c).cast("long").as("n_tokens"),
        lit(c.toLong).as("min_fill"), lit(c.toLong).as("max_fill"))
    cl.unionAll(fw)
      .selectExpr("class_k", "n_units", "n_bins", "n_tokens", "min_fill", "max_fill",
        s"${Portable.round6RatioSpark("n_tokens", s"n_bins * $c")} AS fill_ratio")
      .orderBy(col("class_k"))
  }

  /** Quality-ordered selection under a global token budget — "keep the
    * best docs until the budget is spent", the data-selection step
    * between scoring and training (the budget here is a derived 2/5 of
    * corpus tokens so the query is scale-invariant; production passes
    * an absolute target). Greedy prefix-under-budget needs a GLOBAL
    * cumulative sum over the quality order, which naively is one
    * unpartitioned window task holding the whole corpus. The scalable
    * form is a two-level scan: range-partition on (score DESC,
    * doc_id), cumulative-sum WITHIN each range partition (task-sized
    * state), and lay the partition-level totals' exclusive scan — a
    * #partitions-row aggregate, metadata scale — over them via
    * broadcast. `global_cum = partition_base + local_cum` is exact, so
    * the kept set is identical under any partition count (the guard
    * gate re-runs at 3 AND 8 threads). Scoring is the integer-exact
    * unique-token ratio with doc_id tie-break — a total order both
    * engines agree on.
    *
    * Scale shape: two shuffles of (id, lang, score, toks) — the range
    * sort and the pid-clustering for the local scan — both over
    * column-pruned metadata, never the text; plus two metadata-scale
    * broadcasts (budget row, partition offsets); no corpus-sized
    * window state anywhere. The ranked frame is persisted (scope
    * convention of [[ingestFull]]): besides reuse, the persist PINS
    * one physical range partitioning for both consumers (offsets and
    * keep filter) — `spark_partition_id` must mean the same partition
    * in both branches, and range-boundary sampling is not otherwise
    * guaranteed identical across recomputes. */
  val budgetSelect = QueryDef(
    "corpus_budget_select",
    Some(s"""WITH t AS (SELECT doc_id, lang,
        len(string_split(${normTextSql("text")}, ' ')) AS toks,
        CAST(len(list_distinct(string_split(${normTextSql("text")}, ' '))) AS DOUBLE)
          / len(string_split(${normTextSql("text")}, ' ')) AS score
      FROM documents),
      b AS (SELECT CAST(sum(toks) * 2 // 5 AS BIGINT) AS budget FROM t),
      c AS (SELECT doc_id, lang, toks, score,
        sum(toks) OVER (ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t)
      SELECT lang, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS sum_tokens,
        round(min(score), 6) AS min_score
      FROM c WHERE cum <= (SELECT budget FROM b)
      GROUP BY lang ORDER BY lang"""),
    (s, d) => {
      import org.apache.spark.sql.functions.spark_partition_id
      val toksCol = split(normText(col("text")), " ")
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), size(toksCol).cast("long").as("toks"),
          (size(array_distinct(toksCol)).cast("double") / size(toksCol)).as("score"))
      val budget = scored.agg(expr("CAST((sum(toks) * 2) div 5 AS BIGINT)").as("budget"))
      val ranked = graft.CacheScope.untracked.persist(scored
        .repartitionByRange(col("score").desc, col("doc_id"))
        .withColumn("pid", spark_partition_id())
        .withColumn("cum", sum(col("toks")).over(
          Window.partitionBy(col("pid")).orderBy(col("score").desc, col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      // partition totals → exclusive scan over pid order (#partitions
      // rows — metadata scale), broadcast back as each task's base
      val wo = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
      val offsets = ranked.groupBy(col("pid")).agg(max(col("cum")).as("psum"))
        .select(col("pid"), coalesce(sum(col("psum")).over(wo), lit(0L)).as("base"))
      ranked.join(broadcast(offsets), Seq("pid"))
        .crossJoin(broadcast(budget))
        .filter(col("base") + col("cum") <= col("budget"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).cast("long").as("sum_tokens"),
          round(min(col("score")), 6).as("min_score"))
        .orderBy(col("lang"))
    })

  /** Stratified sample: 50 docs per language, chosen by deterministic
    * hash order (md5 of the id — uniform over the corpus, stable
    * across runs). The per-stratum top-k runs through a window
    * rank; strata counts are small and fixed, and the custom
    * sort-free TopKPerGroup exec picks this pattern up when
    * registered. */
  val stratifiedSample = QueryDef(
    "corpus_stratified_sample",
    Some(s"""SELECT lang, rk, doc_id FROM (
        SELECT lang, doc_id,
          row_number() OVER (PARTITION BY lang
            ORDER BY ${h60Sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
        FROM documents) t
      WHERE rk <= 50 ORDER BY lang, rk"""),
    (s, d) => {
      val w = Window.partitionBy(col("lang")).orderBy(h60(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), row_number().over(w).as("rk"))
        .filter(col("rk") <= 50)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy(col("lang"), col("rk"))
    })

  // --------------------------------------------------------- chunking
  /** Fixed-window document chunking with overlap — the standard
    * precursor to context-window packing (RAG indexing, long-doc
    * training prep): each doc's whitespace tokens split into
    * [[ChunkTokens]]-token windows advancing by [[ChunkStride]]
    * (overlap = tokens − stride), last window truncated at the doc
    * end. Chunk count per doc is EXACT integer arithmetic
    * (`(max(0, n − C) + S − 1) div S + 1`) so both engines and any
    * partitioning agree with no float rounding.
    *
    * Scale shape: pure per-row fan-out (one `explode` of a computed
    * index range — ~n/S chunk rows per doc), zero shuffle (the ORDER
    * BY exists only for oracle determinism); chunks emit md5, not
    * text, so output volume stays bounded. Works at any corpus size
    * because nothing is global — no ids across docs, no windows
    * across partitions (global sequence ids are [[packShards]]'
    * job). */
  val ChunkTokens = 64
  val ChunkStride = 48

  val chunk = QueryDef(
    "corpus_chunk",
    Some {
      val (c, s) = (ChunkTokens, ChunkStride)
      s"""WITH t AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
        n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        x AS (SELECT doc_id, toks, n,
            unnest(range(0, (greatest(n - $c, 0) + ${s - 1}) // $s + 1)) AS i
          FROM n)
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
          CAST(i * $s + 1 AS BIGINT) AS start_tok,
          CAST(least($c, n - i * $s) AS BIGINT) AS n_tokens,
          md5(array_to_string(list_slice(toks, i * $s + 1, least(i * $s + $c, n)), ' ')) AS chunk_md5
        FROM x ORDER BY doc_id, chunk_id"""
    },
    (sp, d) => {
      val (c, s) = (ChunkTokens, ChunkStride)
      Tables.documents(sp, d)
        .select(col("doc_id"), split(normText(col("text")), " ").as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
        .select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(0), expr(s"(greatest(n - $c, 0) + ${s - 1}) div $s"))).as("i"))
        .select(col("doc_id"), col("i").cast("long").as("chunk_id"),
          (col("i") * s + 1).cast("long").as("start_tok"),
          least(lit(c), col("n") - col("i") * s).cast("long").as("n_tokens"),
          md5(concat_ws(" ", slice(col("toks"), col("i") * s + 1, lit(c)))).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))
    })

  /** Benchmark decontamination (the GPT-3 appendix-C / PaLM recipe):
    * flag training documents that share any word n-gram with a
    * held-out benchmark set, so eval data never leaks into training.
    * Here the "benchmark" is a FIXED-SIZE slice
    * (`doc_id % 29 == 0 AND doc_id < 500`, ≤ 18 docs at every scale
    * factor) standing in for an external eval table; production swaps
    * that filter for the real benchmark corpus. The bound matters for
    * the scale claim: the benchmark shingle set must stay tiny
    * relative to the corpus (real eval sets are MBs against 100 TB)
    * for the contamination join to BROADCAST — then the corpus is
    * never shuffled and the whole scan is one map-side pass + per-doc
    * aggregate. A benchmark that grew with the corpus would outgrow
    * the broadcast (that is a different operator: a pair scan). Emits
    * flagged docs with their distinct-overlap counts (the audit
    * artifact; `anti`-join the flagged ids to actually drop them). */
  val DecontaminationShingle = 8

  /** The benchmark-slice predicate and hashed shingle rows the whole
    * decontamination family (exact / bloom / fuzzy / ingest) shares —
    * ONE definition so the slice and representation can never
    * silently diverge between variants. */
  private def isBenchCol = pmod(col("doc_id"), lit(29)) === 0 && col("doc_id") < 500

  /** (doc_id, <out>) h60 shingle rows of the documents table via the
    * native `graft_word_shingles`; rows with < k tokens drop out. */
  private def corpusShingleRows(s: org.apache.spark.sql.SparkSession, d: String,
      out: String): org.apache.spark.sql.DataFrame = {
    Natives.ensure(s)
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.WordShingles.hashes(normText(col("text")), DecontaminationShingle).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("doc_id"), explode(col("shs")).as(out))
  }

  val decontaminate = QueryDef(
    "corpus_decontaminate",
    Some {
      val k = DecontaminationShingle
      s"""WITH norm AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
        shx AS (SELECT doc_id, unnest(list_transform(${wordShinglesSql("toks", k)},
            s -> ${h60Sql("s")})) AS h
          FROM norm WHERE len(toks) >= $k),
        bench AS (SELECT DISTINCT h FROM shx WHERE doc_id % 29 = 0 AND doc_id < 500)
        SELECT doc_id, count(DISTINCT h) AS n_hits FROM shx
        WHERE NOT (doc_id % 29 = 0 AND doc_id < 500) AND h IN (SELECT h FROM bench)
        GROUP BY doc_id ORDER BY doc_id"""
    },
    (s, d) => {
      // r5: shingles hash through the native graft_word_shingles — the
      // broadcast set and semi-join probes are 8-byte longs instead of
      // UTF-8 shingle strings (smaller broadcast, cheaper probe; exact
      // by the shared-md5 argument — see text_dup_ngram_fraction)
      val sh = corpusShingleRows(s, d, "h")
      val isBench = isBenchCol
      val bench = sh.filter(isBench).select(col("h")).distinct()
      sh.filter(!isBench)
        .join(broadcast(bench), Seq("h"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("h")).as("n_hits"))
        .orderBy(col("doc_id"))
    })

  /** Bloom-prefiltered decontamination — [[decontaminate]]'s answer by
    * a different physical route, for when the benchmark shingle set
    * outgrows a raw broadcast (real eval suites reach GBs of distinct
    * shingle strings against a 100 TB corpus):
    *
    *  1. build ONE Bloom blob over the benchmark shingles' h60 keys
    *     with the native `graft_bloom_agg` (executor-side, fixed-size
    *     partials — never driver-collected),
    *  2. broadcast the one-row blob and prefilter corpus shingles
    *     map-side with the codegen `graft_bloom_contains` — a Bloom at
    *     [[BloomBitsPerKey]] bits/key is 10–50× smaller than the UTF-8
    *     shingle set, and this is the ONLY pass over corpus volume,
    *  3. exact-verify the tiny surviving fraction against the real
    *     shingle set with a shuffled hash join (deliberately NOT
    *     broadcast — the premise is that the raw set doesn't fit).
    *
    * Blooms have no false negatives, so prefilter→verify is exactly
    * the exact join's answer (same oracle as [[decontaminate]]);
    * false positives cost only verify-input rows, never correctness.
    * Filter sizing is derived from the benchmark count at plan-build
    * time via a metadata-scale pre-pass (one count over the bench
    * slice — the same pattern as [[packShards]]' group-count
    * pre-pass, except the count gates a literal, so it runs as a tiny
    * separate job rather than a broadcast column). */
  val BloomBitsPerKey = 10
  val BloomHashes = 7 // ≈ ln 2 · bits/key — minimizes fpp at that budget

  val decontaminateBloom = QueryDef(
    "corpus_decontaminate_bloom",
    Some {
      val k = DecontaminationShingle
      s"""WITH norm AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
        shx AS (SELECT doc_id, unnest(list_transform(${wordShinglesSql("toks", k)},
            s -> ${h60Sql("s")})) AS hk
          FROM norm WHERE len(toks) >= $k),
        bench AS (SELECT DISTINCT hk FROM shx WHERE doc_id % 29 = 0 AND doc_id < 500)
        SELECT doc_id, count(DISTINCT hk) AS n_hits FROM shx
        WHERE NOT (doc_id % 29 = 0 AND doc_id < 500) AND hk IN (SELECT hk FROM bench)
        GROUP BY doc_id ORDER BY doc_id"""
    },
    (s, d) => {
      val sh = corpusShingleRows(s, d, "hk")
      decontaminateBloomHits(sh.filter(!isBenchCol), sh.filter(isBenchCol).select(col("hk")).distinct())
        .orderBy(col("doc_id"))
    })

  /** The [[decontaminateBloom]] core as a library API: flag corpus
    * (doc_id, hk) shingle-HASH rows overlapping `bench` (a distinct
    * (hk) hash set too large to broadcast raw — build both sides with
    * the native `graft_word_shingles`, the
    * [[graft.streaming.Streams.benchBloomTables]] convention),
    * returning per-doc distinct hit counts. The prefiltered survivor
    * set persists via the implicit scope — deliberately: besides
    * reuse, the persist is an optimizer barrier that PINS the
    * prefilter below the verify join (`PushDownLeftSemiAntiJoin`
    * otherwise rewrites prefilter-then-semi-join into
    * semi-join-then-prefilter, shuffling the FULL corpus shingle
    * stream into the verify join — the exact plan this operator
    * exists to avoid; `PlanGuardSpec` pins the repaired shape). */
  def decontaminateBloomHits(corpusSh: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): org.apache.spark.sql.DataFrame = {
    val spark = corpusSh.sparkSession
    Natives.ensure(spark)
    val benchP = bench.transform(scope.persist)
    // metadata-scale sizing pre-pass: one count over the bench side
    val nBench = math.max(64L, benchP.count())
    val mBits = ((nBench * BloomBitsPerKey + 63) / 64) * 64
    val blob = benchP
      .agg(expr(s"graft_bloom_agg(hk, ${mBits}L, $BloomHashes)").as("bloom"))
    val survivors = corpusSh
      .crossJoin(broadcast(blob))
      .filter(expr("graft_bloom_contains(bloom, hk)"))
      .drop("bloom")
      .transform(scope.persist)
    survivors
      .join(benchP.hint("shuffle_hash"), Seq("hk"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("hk")).as("n_hits"))
  }

  /** Fuzzy (containment) decontamination — the per-pair refinement of
    * [[decontaminate]]'s boolean flag (the PaLM / Llama-2 eval-overlap
    * recipe): a training doc is contaminated BY a specific benchmark
    * doc when it contains ≥ [[FuzzyContainmentThreshold]] of that
    * benchmark doc's distinct word 8-shingles — catching lightly
    * edited/reformatted leaks a single-shingle flag would score the
    * same as an incidental phrase collision. Emits
    * (doc_id, bench_id, containment) audit rows.
    *
    * Both sides shingle through the native one-pass
    * `graft_word_shingles` and count HASHES (exact against the string
    * oracle by the shared-md5 argument — see `text_dup_ngram_fraction`).
    * Scale shape: the benchmark shingle table broadcasts (same bound
    * as [[decontaminate]]); the corpus side is one map-side broadcast
    * join → a (doc, bench) partial-combine aggregate whose key volume
    * is bounded by actual overlap pairs, not corpus size. For GB-scale
    * benchmarks compose with the Bloom prefilter
    * ([[decontaminateBloomHits]]' shape) before the containment
    * count. */
  val FuzzyContainmentThreshold = 0.5

  val decontaminateFuzzy = QueryDef(
    "corpus_decontaminate_fuzzy",
    Some {
      val k = DecontaminationShingle
      s"""WITH norm AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
        sh AS (SELECT doc_id, unnest(list_transform(${wordShinglesSql("toks", k)},
            s -> ${h60Sql("s")})) AS h
          FROM norm WHERE len(toks) >= $k),
        bsh AS (SELECT doc_id AS bench_id, h FROM sh WHERE doc_id % 29 = 0 AND doc_id < 500),
        bsz AS (SELECT bench_id, count(*) AS n FROM bsh GROUP BY bench_id),
        hits AS (SELECT c.doc_id, b.bench_id, count(*) AS hits
          FROM sh c JOIN bsh b USING (h)
          WHERE NOT (c.doc_id % 29 = 0 AND c.doc_id < 500)
          GROUP BY c.doc_id, b.bench_id)
        SELECT doc_id, bench_id,
          round(CAST(hits AS DOUBLE) / n, 6) AS containment
        FROM hits JOIN bsz USING (bench_id)
        WHERE CAST(hits AS DOUBLE) / n >= $FuzzyContainmentThreshold
        ORDER BY doc_id, bench_id"""
    },
    (s, d) => {
      val sh = corpusShingleRows(s, d, "h")
      val isBench = isBenchCol
      val bsh = sh.filter(isBench).select(col("doc_id").as("bench_id"), col("h"))
      val bsz = bsh.groupBy(col("bench_id")).agg(count(lit(1)).as("n"))
      sh.filter(!isBench)
        .join(broadcast(bsh), Seq("h"))
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("hits"))
        .join(broadcast(bsz), Seq("bench_id"))
        .filter(col("hits").cast("double") / col("n") >= FuzzyContainmentThreshold)
        .select(col("doc_id"), col("bench_id"),
          round(col("hits").cast("double") / col("n"), 6).as("containment"))
        .orderBy(col("doc_id"), col("bench_id"))
    })

  /** Domain mixing (the data-mixture step of a pretraining pipeline —
    * per-source sampling rates a la Pile/LLaMA mixtures): every doc is
    * kept iff a content-stable hash of (source, doc_id) falls under
    * its source's target rate, so the sample is exact-in-expectation,
    * reproducible across runs AND cluster sizes, and needs no shuffle
    * at all — membership is a pure per-row predicate (the audit
    * aggregate below groups by source only). Here the per-source rate
    * is hash-derived (10–79‰·10, deterministic per source name) so
    * the gate covers varied rates; production joins a broadcast
    * weights dim instead. Emits the per-source audit manifest
    * (target rate, totals, kept counts/tokens). */
  val domainMix = QueryDef(
    "corpus_domain_mix",
    Some(s"""WITH t AS (SELECT source,
        len(string_split(${normTextSql("text")}, ' ')) AS toks,
        ((${h60Sql("source")} % 70) + 10) * 100 AS thr,
        ${h60Sql(s"(source || ':' || CAST(doc_id AS VARCHAR))")} % 10000 AS r
      FROM documents)
      SELECT source, CAST(thr AS BIGINT) AS target_permyriad,
        count(*) AS n_total,
        CAST(sum(CASE WHEN r < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN r < thr THEN toks ELSE 0 END) AS BIGINT) AS sum_tokens_kept
      FROM t GROUP BY source, thr ORDER BY source"""),
    (s, d) => {
      val thr = (pmod(h60(col("source")), lit(70)) + 10) * 100
      val r = pmod(h60(concat(col("source"), lit(":"), col("doc_id").cast("string"))), lit(10000))
      Tables.documents(s, d)
        .select(col("source"),
          size(split(normText(col("text")), " ")).as("toks"),
          thr.as("thr"), (r < thr).as("keep"))
        .groupBy(col("source"), col("thr"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("n_kept"),
          sum(when(col("keep"), col("toks")).otherwise(0)).cast("long").as("sum_tokens_kept"))
        .select(col("source"), col("thr").cast("long").as("target_permyriad"),
          col("n_total"), col("n_kept"), col("sum_tokens_kept"))
        .orderBy(col("source"))
    })

  /** The full composed ingest pipeline — every gate in the
    * production-recommended order, end-to-end, one oracle:
    *
    *  1. domain mixing (pure per-row hash predicate — zero shuffle,
    *     cheapest first),
    *  2. quality gate (length 20–80 tokens, unique-token ratio ≥ 0.3 —
    *     per-row),
    *  3. benchmark decontamination (8-shingle overlap with the
    *     FULL-corpus benchmark slice, which also drops the benchmark
    *     docs themselves — broadcast semi-join, corpus never
    *     shuffled),
    *  4. exact dedup (hash groupBy keep-min),
    *  5. banded SimHash near-dedup (drop the larger id of every
    *     hamming ≤ 6 pair among survivors — the 20× probe's
    *     exact-dedup-first ordering means identical fingerprints
    *     never reach this stage),
    *  6. the per-source audit manifest (docs + tokens kept).
    *
    * Each stage reuses the SAME expressions/APIs as its standalone
    * gated query, so this row proves the COMPOSITION, not new
    * operators: the stages chain without materialization barriers and
    * Catalyst plans the whole ingest as one job graph. */
  val ingestFull = QueryDef(
    "pipeline_ingest_full",
    Some {
      val k = DecontaminationShingle
      s"""WITH t AS (SELECT doc_id, source, text, ${normTextSql("text")} AS s,
          string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
        mix AS (SELECT * FROM t
          WHERE ${h60Sql(s"(source || ':' || CAST(doc_id AS VARCHAR))")} % 10000
            < ((${h60Sql("source")} % 70) + 10) * 100),
        q AS (SELECT * FROM mix WHERE len(toks) BETWEEN 20 AND 80
          AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.3
          AND NOT (doc_id % 29 = 0 AND doc_id < 500)),
        bsh AS (SELECT DISTINCT unnest(list_transform(${wordShinglesSql("toks", k)},
            s -> ${h60Sql("s")})) AS h FROM t
          WHERE doc_id % 29 = 0 AND doc_id < 500 AND len(toks) >= $k),
        qsh AS (SELECT doc_id, unnest(list_transform(${wordShinglesSql("toks", k)},
            s -> ${h60Sql("s")})) AS h FROM q),
        cont AS (SELECT DISTINCT doc_id FROM qsh WHERE h IN (SELECT h FROM bsh)),
        dec AS (SELECT * FROM q WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        kx AS (SELECT md5(s) AS h, min(doc_id) AS keep_id FROM dec GROUP BY h),
        kept AS (SELECT dec.* FROM dec JOIN kx ON dec.doc_id = kx.keep_id),
        ${graft.dedup.Dedup.simhashSqlCteOver("kept")},
        drp AS (SELECT DISTINCT b.doc_id FROM sim a JOIN sim b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
        fin AS (SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM drp))
        SELECT source, count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS sum_tokens
        FROM fin GROUP BY source ORDER BY source"""
    },
    (s, d) => ingestFullManifest(Tables.documents(s, d)))

  /** The [[ingestFull]] builder as a library API. The multiply-consumed
    * stages persist via the implicit [[graft.CacheScope]] (the sibling
    * pair-scan convention): `clean` feeds exactKeep's self-join twice,
    * and `exact` feeds the signature build AND the final anti-join —
    * without the persists the whole scan→quality→decontamination
    * subtree would be re-evaluated up to 4× in one job (exchange reuse
    * recovers shuffled stages, not the repeated corpus scans and
    * per-row split/explode work). */
  def ingestFullManifest(docs: org.apache.spark.sql.DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): org.apache.spark.sql.DataFrame = {
    val k = DecontaminationShingle
    val thr = (pmod(h60(col("source")), lit(70)) + 10) * 100
    val r = pmod(h60(concat(col("source"), lit(":"), col("doc_id").cast("string"))), lit(10000))
    val isBench = pmod(col("doc_id"), lit(29)) === 0 && col("doc_id") < 500
    val toks = split(normText(col("text")), " ")
    val quality = docs.filter(r < thr)
      .select(col("doc_id"), col("source"), col("text"), toks.as("toks"))
      .filter(size(col("toks")).between(20, 80) &&
        size(array_distinct(col("toks"))).cast("double") / size(col("toks")) >= 0.3 &&
        !isBench)
    // r5: shingles hash through the native graft_word_shingles (the
    // corpus_decontaminate change, same shared-md5 exactness argument)
    Natives.ensure(docs.sparkSession)
    val benchSh = docs
      .filter(isBench)
      .select(explode(graft.functions.WordShingles.hashes(normText(col("text")), k)).as("h"))
      .distinct()
    val contaminated = quality
      .select(col("doc_id"),
        explode(graft.functions.WordShingles.hashes(normText(col("text")), k)).as("h"))
      .join(broadcast(benchSh), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
    val clean = quality.join(contaminated, Seq("doc_id"), "left_anti")
      .transform(scope.persist)
    val exact = graft.dedup.DedupApi.exactKeep(clean, "doc_id", "text")
      .transform(scope.persist)
    val dropB = graft.dedup.DedupApi
      .simhashPairs(exact, "doc_id", "text", maxHamming = 6, banded = true)
      .select(col("doc_b").as("doc_id")).distinct()
    exact.join(dropB, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(size(col("toks"))).cast("long").as("sum_tokens"))
      .orderBy(col("source"))
  }

  /** Temperature resampling (the multilingual α-sampling recipe,
    * XLM-R/mT5 style, at α = 1/2): a domain with corpus share p is
    * kept at rate √p, flattening the mixture toward rare domains —
    * unlike [[domainMix]], whose targets are EXTERNAL constants, the
    * thresholds here derive from the observed corpus itself (two
    * passes: count, then gate). α = 1/2 is chosen because the
    * threshold stays integer-exact across engines: `thr = floor(
    * sqrt((10⁸·n_d) div N))` permyriad — the integer division is
    * exact in both, 10⁸·n_d div N ≤ 10⁸ is exactly representable as a
    * double, and IEEE sqrt is correctly rounded, so both engines
    * floor the SAME value (a fractional α needs pow(), whose last ulp
    * is library-dependent). Keep decision: h60(source:doc) % 10⁴ <
    * thr — per-row, reproducible, stable under reshuffling.
    *
    * Scale shape: one tiny per-domain count aggregate joined back by
    * BROADCAST (metadata-scale, the pack_shards discipline), then one
    * map-only gate pass; the corpus is never shuffled — the audit
    * aggregate is map-side-combinable into domains-scale rows. */
  val temperatureSample = QueryDef(
    "corpus_temperature_sample",
    Some(s"""WITH c AS (SELECT source, count(*) AS n_d FROM documents GROUP BY source),
      tot AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM c),
      thr AS (SELECT source, n_d,
          CAST(floor(sqrt(CAST((CAST(100000000 AS BIGINT) * n_d) // n AS DOUBLE))) AS BIGINT) AS keep_permyriad
        FROM c, tot),
      g AS (SELECT d.source, t.keep_permyriad, t.n_d,
          len(string_split(${normTextSql("text")}, ' ')) AS toks,
          ${h60Sql(s"(d.source || ':' || CAST(d.doc_id AS VARCHAR))")} % 10000 AS r
        FROM documents d JOIN thr t ON t.source = d.source)
      SELECT source, keep_permyriad, n_d AS n_total,
        CAST(sum(CASE WHEN r < keep_permyriad THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN r < keep_permyriad THEN toks ELSE 0 END) AS BIGINT) AS sum_tokens_kept
      FROM g GROUP BY source, keep_permyriad, n_d ORDER BY source"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_d"))
      val total = counts.agg(sum(col("n_d")).cast("long").as("n"))
      val thr = counts.crossJoin(broadcast(total))
        .select(col("source"), col("n_d"),
          floor(sqrt(expr("(100000000L * n_d) div n").cast("double")))
            .cast("long").as("keep_permyriad"))
      val r = pmod(h60(concat(col("source"), lit(":"), col("doc_id").cast("string"))), lit(10000))
      docs.join(broadcast(thr), Seq("source"))
        .select(col("source"), col("keep_permyriad"), col("n_d"),
          size(split(normText(col("text")), " ")).as("toks"),
          (r < col("keep_permyriad")).as("keep"))
        .groupBy(col("source"), col("keep_permyriad"), col("n_d"))
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("n_kept"),
          sum(when(col("keep"), col("toks")).otherwise(0)).cast("long").as("sum_tokens_kept"))
        .select(col("source"), col("keep_permyriad"), col("n_d").as("n_total"),
          col("n_kept"), col("sum_tokens_kept"))
        .orderBy(col("source"))
    })

  // ------------------------------------------- mixture resampling (r11)
  /** Deterministic mixture resampling WITH up-sampling — the general
    * mixing stage between dedup and packing ([[temperatureSample]] is
    * the α = ½ DOWN-sampling special case; real mixtures also
    * UP-weight rare slices, which needs repetition, not just a keep
    * gate): every row of slice `dim = v` is emitted
    * `copies = floor(rep) + [draw < frac(rep)]` times, where
    * `rep = target_share · N / n_v` is the slice's repetition factor
    * in exact ppm integers (`(target_ppm · N) div n_v` — pure BIGINT,
    * shared-literal portable) and the fractional copy draws from the
    * content-stable `h60(dim:id) % 10⁶` ppm uniform (the
    * `ml_bootstrap_ci` discipline: both engines draw the SAME rows,
    * any partitioning). Expected slice share is exactly the target;
    * realized counts are deterministic given the corpus.
    *
    * Returns the REPLICATED rows (0-based `copy` index, `rep_ppm`
    * attached) — what a training-data writer materializes. Targets:
    * a (dim, target_ppm) frame, or None = uniform flattening across
    * the observed slices (`(10⁶·N) div (k·n_v)` — derived, exact,
    * scale-invariant).
    *
    * 100 TB shape: slice counts are a map-combinable aggregate at
    * slice grain, joined back as a BROADCAST; copies are a pure
    * per-row expression; the explode fan-out is the mixture's own
    * Σ rep·n_v ≈ N output volume — no shuffle of the corpus, ever. */
  def mixtureSample(docs: DataFrame, dim: String, idCol: String = "doc_id",
      targets: Option[DataFrame] = None): DataFrame = {
    val r = mixtureRepPpm(docs, dim, targets)
    val h = pmod(h60(concat(col(dim), lit(":"), col(idCol).cast("string"))),
      lit(1000000L))
    docs.join(broadcast(r), Seq(dim))
      .withColumn("copies",
        expr("rep_ppm div 1000000") +
          when(h < expr("rep_ppm % 1000000"), 1L).otherwise(0L))
      .filter(col("copies") > 0)
      // copies >= 1 here: sequence(0, copies-1) is ascending (Spark's
      // sequence DESCENDS on an inverted range — the text_repetition
      // engine-divergence lesson, kept out of reach by the filter)
      .withColumn("copy", explode(sequence(lit(0L), col("copies") - 1)))
      .drop("copies")
  }

  /** Per-slice repetition factors in exact ppm (see [[mixtureSample]]):
    * (dim, n_v, rep_ppm). Slice grain — broadcast it. */
  def mixtureRepPpm(docs: DataFrame, dim: String,
      targets: Option[DataFrame] = None): DataFrame = {
    val c = docs.groupBy(col(dim)).agg(count(lit(1)).cast("long").as("n_v"))
    val tot = c.agg(sum(col("n_v")).cast("long").as("n"),
      count(lit(1)).cast("long").as("k"))
    targets match {
      case None => c.crossJoin(broadcast(tot))
        .select(col(dim), col("n_v"),
          expr("(1000000 * n) div (k * n_v)").as("rep_ppm"))
      case Some(t) => c.join(broadcast(t), Seq(dim))
        .crossJoin(broadcast(tot.select(col("n"))))
        .select(col(dim), col("n_v"),
          expr("(target_ppm * n) div n_v").as("rep_ppm"))
    }
  }

  val mixtureSampleQ = QueryDef(
    "corpus_mixture_sample",
    Some(s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_v FROM documents GROUP BY lang),
      tot AS (SELECT CAST(sum(n_v) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k FROM c),
      r AS (SELECT lang, n_v, (1000000 * n) // (k * n_v) AS rep_ppm FROM c, tot),
      g AS (SELECT d.lang, r.n_v, r.rep_ppm,
          CAST(len(string_split(${normTextSql("text")}, ' ')) AS BIGINT) AS toks,
          rep_ppm // 1000000 + CASE WHEN ${h60Sql("(d.lang || ':' || CAST(d.doc_id AS VARCHAR))")} % 1000000
            < rep_ppm % 1000000 THEN 1 ELSE 0 END AS copies
        FROM documents d JOIN r ON r.lang = d.lang),
      st AS (SELECT lang, n_v, rep_ppm, CAST(sum(copies) AS BIGINT) AS n_emitted,
          CAST(sum(copies * toks) AS BIGINT) AS tokens_emitted
        FROM g GROUP BY lang, n_v, rep_ppm),
      te AS (SELECT CAST(sum(n_emitted) AS BIGINT) AS ne FROM st)
      SELECT lang, n_v AS n_total, rep_ppm, n_emitted, tokens_emitted,
        ${Portable.round6RatioDuck("n_emitted", "ne")} AS achieved_share
      FROM st, te ORDER BY lang"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val r = mixtureRepPpm(docs, "lang")
      val h = pmod(h60(concat(col("lang"), lit(":"), col("doc_id").cast("string"))),
        lit(1000000L))
      // stats read the copies expression directly (no explode — the
      // ml_bootstrap_ci shape: the fan-out becomes aggregate algebra;
      // the row-materializing surface is mixtureSample, fixture-pinned
      // to agree with these counts)
      val st = docs.join(broadcast(r), Seq("lang"))
        .select(col("lang"), col("n_v"), col("rep_ppm"),
          size(split(normText(col("text")), " ")).cast("long").as("toks"),
          (expr("rep_ppm div 1000000") +
            when(h < expr("rep_ppm % 1000000"), 1L).otherwise(0L)).as("copies"))
        .groupBy(col("lang"), col("n_v"), col("rep_ppm"))
        .agg(sum(col("copies")).cast("long").as("n_emitted"),
          sum(col("copies") * col("toks")).cast("long").as("tokens_emitted"))
      val te = st.agg(sum(col("n_emitted")).cast("long").as("ne"))
      st.crossJoin(broadcast(te))
        .selectExpr("lang", "n_v AS n_total", "rep_ppm", "n_emitted", "tokens_emitted",
          s"${Portable.round6RatioSpark("n_emitted", "ne")} AS achieved_share")
        .orderBy(col("lang"))
    })

  /** Composed mixing → packing (r11): [[mixtureSample]]'s replicated
    * rows fed straight into [[ffdStats]]' hard-capacity FFD packing —
    * the production order (mix the corpus to its target shares, THEN
    * pack the emitted stream into context windows), and the
    * composition has a real subtlety the standalone gates can't see:
    * an up-sampled row's copies would all hash to the SAME packing
    * unit key (the packer salts/orders on `h60('pack:' || id)`), so
    * duplicate copies of one doc would always land adjacently in one
    * bucket. Each copy therefore gets its own composite identity
    * `id · stride + copy` (the `dedup_paragraph_minhash`
    * composite-key convention) — copies spread over salts/bins like
    * independent docs. The stride is DERIVED from the emitted stream
    * itself (`max(copy) + 1`, one metadata-scale aggregate over the
    * already-persisted mixture output, broadcast back) so it exceeds
    * the mixture's maximum copy count by construction at ANY skew —
    * r12 ADVICE closed: the old fixed `copyStride = 8` parameter
    * silently aliased distinct units whenever a rare slice's
    * repetition factor exceeded 8, and the oracle never honored
    * non-default strides anyway. Both engines compute the identical
    * stride, so the composite identity stays collision-free and
    * oracle-pinned.
    *
    * 100 TB shape: the mixture side never shuffles the corpus (slice
    * counts broadcast back, copies per-row); packing adds its one
    * salt-bounded (class, salt) window over the EMITTED stream — the
    * two stages compose as one Catalyst graph with only the packer's
    * window shuffle in it. */
  def mixturePackStats(docs: DataFrame, dim: String, idCol: String = "doc_id",
      textCol: String = "text", capacity: Int = 2048, salts: Int = FfdSalts,
      targets: Option[DataFrame] = None)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val em = scope.persist(mixtureSample(docs, dim, idCol, targets))
    ffdStats(em.crossJoin(broadcast(copyStrideOf(em)))
      .select((col(idCol) * col("stride") + col("copy")).as("doc_id"),
        size(split(normText(col(textCol)), " ")).cast("long").as("n")),
      capacity, salts)
  }

  /** Collision-free composite-identity stride for a [[mixtureSample]]
    * output: one-row `(stride)` frame with `max(copy) + 1` (≥ 1 even
    * on an empty emission) — every emitted `copy` is < stride, so
    * `id · stride + copy` never aliases two distinct packable units.
    * Metadata-scale: broadcast it. */
  private def copyStrideOf(em: DataFrame): DataFrame =
    em.agg(coalesce(max(col("copy")) + lit(1L), lit(1L)).as("stride"))

  /** DuckDB twin of [[copyStrideOf]] over the standard mixture CTE
    * `g(…, copies)`: max emitted copy index + 1 = max(copies). */
  private def copyStrideDuck(g: String): String =
    s"(SELECT CAST(max(copies) AS BIGINT) AS stride FROM $g WHERE copies > 0)"

  val mixturePackQ = QueryDef(
    "pipeline_mixture_pack",
    Some {
      val c = FfdCapacity
      s"""WITH lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_v FROM documents GROUP BY lang),
        tot AS (SELECT CAST(sum(n_v) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k FROM lc),
        r AS (SELECT lang, n_v, (1000000 * n) // (k * n_v) AS rep_ppm FROM lc, tot),
        g AS (SELECT d.doc_id, d.lang, r.rep_ppm,
            CAST(len(string_split(${normTextSql("text")}, ' ')) AS BIGINT) AS n,
            rep_ppm // 1000000 + CASE WHEN ${h60Sql("(d.lang || ':' || CAST(d.doc_id AS VARCHAR))")} % 1000000
              < rep_ppm % 1000000 THEN 1 ELSE 0 END AS copies
          FROM documents d JOIN r ON r.lang = d.lang),
        u AS (SELECT doc_id * ${copyStrideDuck("g")} + unnest(range(0, copies)) AS doc_id, n
          FROM g WHERE copies > 0),
        ${ffdCtesDuck("u", c, FfdSalts)}
        ${ffdSelectDuck(c)}"""
    },
    (s, d) => {
      mixturePackStats(Tables.documents(s, d), "lang",
        capacity = FfdCapacity, salts = FfdSalts)
    })

  // ------------------------------------- composed crawl→train data card
  /** The full production front-to-back run as ONE Catalyst graph
    * (r12): crawl-ingest dedup ladder ([[graft.functions.UrlCanon
    * .crawlIngestCensus]]'s stages — URL-grain exact dedup → repeated-
    * span excision → exact content dedup on the rewrite) → mixture
    * sampling to uniform language shares ([[mixtureSample]]) → FFD
    * context-window packing ([[ffdStats]], copies spread under the
    * [[mixturePackStats]] composite identity) → one long-format
    * (section, k, n_a, n_b, metric) data card:
    *   - `funnel/<stage>/<source>`: docs surviving each ladder stage
    *     per source, with exact 6-dp retention vs raw;
    *   - `mixture/<lang>`: emitted docs + tokens per language with the
    *     achieved share;
    *   - `pack/<class>`: packed units/bins/fill per harmonic class;
    *   - `total/packed`: corpus-level packed tokens, bins, fill ratio.
    * Every stage is the already-gated operator unchanged — the value
    * of the composition is exposing cross-stage bugs (persist scope,
    * copy identity, survivor-grain mixture counts) that the standalone
    * gates cannot see, and proving the chain costs ≈ the sum of its
    * parts (nothing recomputes: each multiply-consumed frame persists
    * once via the caller's [[graft.CacheScope]]).
    *
    * 100 TB shape: each dedup stage is one keyed min-aggregate + join;
    * the mixture never shuffles survivors (slice factors broadcast
    * back); packing adds the one salt-bounded (class, salt) window
    * over the emitted stream; card sections are map-combinable
    * aggregates at stage/source/lang/class grain off persisted frames. */
  def trainDataCard(docs: DataFrame, capacity: Int = FfdCapacity,
      salts: Int = FfdSalts,
      spanDf: Int = graft.functions.TextAnalysis.SpanDf)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val base = scope.persist(docs.select(col("doc_id"), col("source"),
      col("lang"), col("text"), col("url")))
    val kp = graft.functions.UrlCanon.withCanonicalUrl(base, "url")
      .groupBy(coalesce(col("url_canon"), col("url")).as("uk"))
      .agg(min(col("doc_id")).as("doc_id"))
    val u = scope.persist(base.join(kp.select(col("doc_id")), Seq("doc_id")))
    val rw = graft.functions.TextAnalysis.dedupSpans(
      u.select(col("doc_id"), col("text")), "text", spanDf)
    val sp = scope.persist(u.select(col("doc_id"), col("source"), col("lang"))
      .join(rw.filter(col("rewritten") =!= "")
        .select(col("doc_id"), col("rewritten")), Seq("doc_id")))
    val kx = sp.groupBy(md5(col("rewritten")).as("hh")).agg(min(col("doc_id")).as("doc_id"))
    // localCheckpoint, not just persist: the survivor frame is the
    // reuse hub six downstream branches hang off, and each reference
    // re-embeds the WHOLE crawl-ladder logical plan into the analyzer
    // — measured 18 s vs 7 s sum-of-parts at sf0.1 from optimizer
    // time alone, flat across sf. Truncating lineage here keeps the
    // executed physical work identical (the frame materializes once
    // either way) at metadata-scale plan cost.
    val ex = sp.join(kx.select(col("doc_id")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(normText(col("rewritten")), " ")).cast("long").as("toks"))
      .localCheckpoint(true)
    val rawN = base.groupBy(col("source")).agg(count(lit(1)).cast("long").as("raw_n"))
    def cen(stage: String, df: DataFrame): DataFrame =
      df.groupBy(col("source")).agg(count(lit(1)).cast("long").as("n"))
        .join(broadcast(rawN), Seq("source"))
        .selectExpr("'funnel' AS section", s"concat('$stage/', source) AS k",
          "n AS n_a", "raw_n AS n_b",
          s"${Portable.round6RatioSpark("n", "raw_n")} AS metric")
    val funnel = cen("0_raw", base).unionAll(cen("1_url_dedup", u))
      .unionAll(cen("2_span_excise", sp)).unionAll(cen("3_exact_dedup", ex))
    // same lineage truncation for the emitted stream (three consumers)
    val em = mixtureSample(ex, "lang").localCheckpoint(true)
    val ms = em.groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_emitted"),
        sum(col("toks")).cast("long").as("tokens_emitted"))
    val te = ms.agg(sum(col("n_emitted")).cast("long").as("ne"))
    val mix = ms.crossJoin(broadcast(te))
      .selectExpr("'mixture' AS section", "lang AS k", "n_emitted AS n_a",
        "tokens_emitted AS n_b",
        s"${Portable.round6RatioSpark("n_emitted", "ne")} AS metric")
    val ps = scope.persist(ffdStats(em.crossJoin(broadcast(copyStrideOf(em)))
      .select(
        (col("doc_id") * col("stride") + col("copy")).as("doc_id"),
        col("toks").as("n")), capacity, salts))
    val pack = ps.selectExpr("'pack' AS section", "CAST(class_k AS STRING) AS k",
      "n_units AS n_a", "n_bins AS n_b", "fill_ratio AS metric")
    val totalRow = ps.agg(sum(col("n_tokens")).cast("long").as("t"),
        sum(col("n_bins")).cast("long").as("b"))
      .selectExpr("'total' AS section", "'packed' AS k", "t AS n_a", "b AS n_b",
        s"${Portable.round6RatioSpark("t", s"b * $capacity")} AS metric")
    funnel.unionAll(mix).unionAll(pack).unionAll(totalRow)
      .orderBy(col("section"), col("k"))
  }

  val trainDataCardQ = QueryDef(
    "pipeline_train_data_card",
    Some {
      val c = FfdCapacity
      val plant = graft.functions.TextAnalysis.FooterPlantSql
      def r6(n: String, d: String) = Portable.round6RatioDuck(n, d)
      s"""WITH raw AS (SELECT doc_id, source, ${graft.functions.UrlCanon.rawUrlSql("doc_id", "//", "VARCHAR")} AS url FROM documents),
        ${graft.functions.UrlCanon.canonCtesDuck},
        kp AS (SELECT coalesce(url_canon, url) AS uk, min(doc_id) AS keep FROM c
          GROUP BY coalesce(url_canon, url)),
        u AS (SELECT d.doc_id, d.source, d.lang, $plant AS t FROM documents d
          JOIN kp ON d.doc_id = kp.keep),
        ${graft.functions.TextAnalysis.spanExciseCtesDuck("u")},
        rw AS (SELECT doc_id,
            coalesce(string_agg(CASE WHEN hit = 0 THEN seg END, '.' ORDER BY pos), '') AS rewritten
          FROM m GROUP BY doc_id),
        sp AS (SELECT u.doc_id, u.source, u.lang, rw.rewritten FROM u
          JOIN rw ON u.doc_id = rw.doc_id WHERE rw.rewritten <> ''),
        kx AS (SELECT md5(rewritten) AS hh, min(doc_id) AS keep FROM sp GROUP BY md5(rewritten)),
        ex AS (SELECT sp.doc_id, sp.source, sp.lang,
            CAST(len(string_split(${normTextSql("rewritten")}, ' ')) AS BIGINT) AS toks
          FROM sp JOIN kx ON sp.doc_id = kx.keep),
        lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_v FROM ex GROUP BY lang),
        tot AS (SELECT CAST(sum(n_v) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k FROM lc),
        r AS (SELECT lang, n_v, (1000000 * n) // (k * n_v) AS rep_ppm FROM lc, tot),
        g AS (SELECT e.doc_id, e.lang, e.toks, r.rep_ppm,
            rep_ppm // 1000000 + CASE WHEN ${h60Sql("(e.lang || ':' || CAST(e.doc_id AS VARCHAR))")} % 1000000
              < rep_ppm % 1000000 THEN 1 ELSE 0 END AS copies
          FROM ex e JOIN r ON r.lang = e.lang),
        u2 AS (SELECT doc_id * ${copyStrideDuck("g")} + unnest(range(0, copies)) AS doc_id, toks AS n
          FROM g WHERE copies > 0),
        ${ffdCtesDuck("u2", c, FfdSalts)},
        rawn AS (SELECT source, CAST(count(*) AS BIGINT) AS raw_n FROM documents GROUP BY source),
        f1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY source),
        f2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sp GROUP BY source),
        f3 AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY source),
        fun AS (
          SELECT 'funnel' AS section, '0_raw/' || source AS k, raw_n AS n_a, raw_n AS n_b,
            ${r6("raw_n", "raw_n")} AS metric FROM rawn
          UNION ALL SELECT 'funnel', '1_url_dedup/' || f1.source, f1.n, rawn.raw_n,
            ${r6("f1.n", "rawn.raw_n")} FROM f1 JOIN rawn ON f1.source = rawn.source
          UNION ALL SELECT 'funnel', '2_span_excise/' || f2.source, f2.n, rawn.raw_n,
            ${r6("f2.n", "rawn.raw_n")} FROM f2 JOIN rawn ON f2.source = rawn.source
          UNION ALL SELECT 'funnel', '3_exact_dedup/' || f3.source, f3.n, rawn.raw_n,
            ${r6("f3.n", "rawn.raw_n")} FROM f3 JOIN rawn ON f3.source = rawn.source),
        ms AS (SELECT lang, CAST(sum(copies) AS BIGINT) AS n_emitted,
            CAST(sum(copies * toks) AS BIGINT) AS tokens_emitted
          FROM g GROUP BY lang HAVING sum(copies) > 0),
        te AS (SELECT CAST(sum(n_emitted) AS BIGINT) AS ne FROM ms),
        mx AS (SELECT 'mixture' AS section, lang AS k, n_emitted AS n_a,
            tokens_emitted AS n_b, ${r6("n_emitted", "ne")} AS metric FROM ms, te),
        zz AS (SELECT * FROM cl UNION ALL SELECT * FROM fw),
        pk AS (SELECT 'pack' AS section, CAST(class_k AS VARCHAR) AS k,
            n_units AS n_a, n_bins AS n_b, ${r6("n_tokens", s"n_bins * $c")} AS metric FROM zz),
        tz AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t, CAST(sum(n_bins) AS BIGINT) AS b FROM zz),
        tl AS (SELECT 'total' AS section, 'packed' AS k, t AS n_a, b AS n_b,
            ${r6("t", s"b * $c")} AS metric FROM tz)
        SELECT section, k, n_a, n_b, metric FROM fun
        UNION ALL SELECT * FROM mx
        UNION ALL SELECT * FROM pk
        UNION ALL SELECT * FROM tl
        ORDER BY section, k"""
    },
    (s, d) => {
      val docs = Tables.documents(s, d).selectExpr("doc_id", "source", "lang",
        s"${graft.functions.TextAnalysis.FooterPlantSql} AS text",
        s"${graft.functions.UrlCanon.rawUrlSql("doc_id", "div", "STRING")} AS url")
      trainDataCard(docs)
    })

  // ---------------------------------------------- split leakage audit
  /** Train→test near-dup leakage audit — the contamination check a
    * split assignment itself needs (decontaminate guards against an
    * EXTERNAL benchmark; this guards the corpus's OWN held-out split:
    * a near-duplicate pair straddling train/test silently inflates
    * eval). Splits are the [[splitStats]] content-stable hash gate;
    * pairs are banded SimHash at hamming ≤ 6 via the asymmetric
    * train×test combo-key join of [[graft.dedup.DedupApi
    * .simhashPairsIncremental]] — per-audit cost is test-keys ×
    * collision-rate, never |train|×|test| (the test split is 5% and
    * its distinct-signature index is what the train side bands
    * against; same exact C(9,3) pigeonhole, lossless at d ≤ 6). The
    * oracle recomputes the same signatures and runs the quadratic
    * cross scan. */
  val splitLeakage = QueryDef(
    "corpus_split_leakage",
    Some(s"""WITH ${graft.dedup.Dedup.simhashSqlCteOver("documents")},
      sp AS (SELECT doc_id, ${h60Sql("CAST(doc_id AS VARCHAR)")} % 100 AS bkt FROM documents),
      tr AS (SELECT s.doc_id, s.simhash FROM sim s JOIN sp ON sp.doc_id = s.doc_id AND sp.bkt < 90),
      te AS (SELECT s.doc_id, s.simhash FROM sim s JOIN sp ON sp.doc_id = s.doc_id AND sp.bkt >= 95)
      SELECT tr.doc_id AS doc_train, te.doc_id AS doc_test,
        bit_count(xor(tr.simhash, te.simhash)) AS hamming
      FROM tr JOIN te ON bit_count(xor(tr.simhash, te.simhash)) <= 6
      ORDER BY doc_train, doc_test"""),
    (s, d) => {
      val bucket = pmod(h60(col("doc_id").cast("string")), lit(100))
      val docs = Tables.documents(s, d).withColumn("bkt", bucket)
      graft.dedup.DedupApi.simhashPairsIncremental(
          docs.filter(col("bkt") < 90).drop("bkt"),
          docs.filter(col("bkt") >= 95).drop("bkt"),
          "doc_id", "text", maxHamming = 6)
        .select(col("doc_existing").as("doc_train"), col("doc_new").as("doc_test"), col("hamming"))
        .orderBy(col("doc_train"), col("doc_test"))
    })

  // --------------------------------------------- quality-percentile gate
  /** Global quality-percentile filter: keep documents whose quality
    * score clears the corpus's own p75 — the relative-threshold twin
    * of [[budgetSelect]] (budget = "best docs until N tokens"; this =
    * "top quartile whatever its size", the form quality gates take
    * when the corpus mix drifts and an absolute threshold goes
    * stale). Score is the integer-exact unique-token permille; the
    * threshold is the ONE scalar that needs global order statistics,
    * computed by the q39 distributed-selection machinery
    * ([[graft.operators.ExactPercentiles]] — bounded histogram
    * passes, NO task ever buffers the corpus's scores) and broadcast
    * back for a map-only gate: the corpus is scanned, never
    * sort-shuffled. percentile_cont interpolation is the same
    * fixed-order expression in both engines (the q13/q39 gate
    * contract). */
  val qualityGate = QueryDef(
    "corpus_quality_gate",
    Some(s"""WITH t AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
      q AS (SELECT doc_id, (len(list_distinct(toks)) * 1000000) // len(toks) AS q FROM t),
      th AS (SELECT percentile_cont(0.75) WITHIN GROUP (ORDER BY CAST(q AS DOUBLE)) AS thr FROM q)
      SELECT q.doc_id, q.q, round(th.thr, 6) AS thr
      FROM q, th WHERE CAST(q.q AS DOUBLE) >= th.thr
      ORDER BY q.doc_id"""),
    (s, d) => {
      val toks = split(normText(col("text")), " ")
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"),
          expr("(size(array_distinct(toks)) * 1000000L) div size(toks)").as("q"))
        .transform(graft.CacheScope.untracked.persist)
      val thr = graft.operators.ExactPercentiles.percentiles(
          scored.select(lit(1).as("g"), col("q")), "g", "q", Seq(0.75))
        .select(col("value").as("thr"))
      scored.crossJoin(broadcast(thr))
        .filter(col("q").cast("double") >= col("thr"))
        .select(col("doc_id"), col("q"), round(col("thr"), 6).as("thr"))
        .orderBy(col("doc_id"))
    })

  // ------------------------------------------------------- epoch mixing
  /** Per-source epoch upsampling — the "repeat high-quality sources
    * fractionally" mixing recipe (LLaMA-style: curated sources run
    * >1 epoch, e.g. Wikipedia 2.45, while bulk web runs <1): each doc
    * emits `floor(e)` full copies plus one more with probability
    * `frac(e)`, decided by a content-stable hash of
    * (source, doc_id, copy) — exact-in-expectation, reproducible
    * across runs and cluster sizes. Unlike [[domainMix]] (a keep/drop
    * gate, rates ≤ 1) this REPLICATES, which is what epoch counts
    * above 1 require; the dataloader consumes the (doc, copy) rows
    * directly. Epochs live in integer permyriad derived from the
    * source id ({0.5, 1.1, 1.7, 2.3, 2.9} across the 5 residue
    * classes), so the gate is pure integer arithmetic.
    *
    * 100 TB shape: ZERO shuffle — a per-row ≤ ⌈e⌉-way explode and a
    * per-row hash gate; output volume is Σ e_d·|d| by construction. */
  val epochMix = QueryDef(
    "corpus_epoch_mix",
    Some(s"""WITH e AS (SELECT doc_id, source,
        5000 + (CAST(substr(source, 4) AS INT) % 5) * 6000 AS ep FROM documents),
      x AS (SELECT doc_id, source, ep, unnest(range(0, (ep + 9999) // 10000)) AS k FROM e)
      SELECT doc_id, source, CAST(k AS BIGINT) AS copy
      FROM x
      WHERE k < ep // 10000
        OR ${h60Sql("source || ':' || CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR)")} % 10000 < ep % 10000
      ORDER BY doc_id, copy"""),
    (s, d) => {
      val ep = (lit(5000) + (substring(col("source"), 4, 10).cast("int") % 5) * 6000)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), ep.as("ep"))
        .select(col("doc_id"), col("source"), col("ep"),
          explode(sequence(lit(0), expr("(ep + 9999) div 10000") - 1)).as("k"))
        .filter(col("k") < expr("ep div 10000")
          || pmod(h60(concat_ws(":", col("source"), col("doc_id"), col("k"))), lit(10000))
             < pmod(col("ep"), lit(10000)))
        .select(col("doc_id"), col("source"), col("k").cast("long").as("copy"))
        .orderBy(col("doc_id"), col("copy"))
    })

  // ------------------------------------------------- DSIR selection
  /** Hashed-feature buckets for the DSIR importance model. 64 buckets
    * keeps the weight table broadcast-trivial at any corpus size; the
    * published recipe uses 10⁴ hashed n-gram buckets — the bucket
    * count is a quality knob, not a scale knob. */
  val DsirBuckets = 64

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every doc by
    * its importance weight under hashed bag-of-words models of a
    * TARGET distribution (here: the English sub-corpus, the "domain
    * you want more of") vs the RAW corpus, then keep the top quartile.
    * Gate-exact adaptation: the published per-bucket weight is the
    * log-ratio log(p_tgt/p_raw) summed over tokens and sampled with
    * Gumbel noise; logs and RNG are both gate-hostile, so the weight
    * is the add-one-smoothed frequency RATIO in integer ppm
    * (`(tc+1)·10⁶ div (rc+1)`) and a doc's score is the ppm MEAN over
    * its token occurrences — the same monotone target-likeness signal
    * (a global p_raw/p_tgt normalizer would rescale every score
    * equally and is dropped), and the paper's deterministic top-k
    * ablation replaces the Gumbel resample. Selection threshold = the
    * exact 75th percentile of scores via the q39 bounded-histogram
    * machinery, broadcast back for a map-only gate.
    *
    * 100 TB shape: token scan → TWO 64-row map-side-combinable
    * aggregates; the 64-row weight table is broadcast onto the token
    * stream (map-only); per-doc mean is one doc-keyed combinable
    * shuffle; the percentile never sorts the corpus; the final gate is
    * map-only. The corpus is never globally sorted or re-shuffled.
    * (Per-bucket products stay < 2⁶³ up to ~10¹² tokens/bucket —
    * beyond that, widen the ppm scale to DECIMAL(38,0).) */
  val dsirSelect = QueryDef(
    "corpus_dsir",
    Some(s"""WITH t AS (SELECT doc_id, lang,
        unnest(string_split(${normTextSql("text")}, ' ')) AS tok FROM documents),
      bk AS (SELECT doc_id, lang, ${h60Sql("tok")} % $DsirBuckets AS b FROM t),
      raw AS (SELECT b, count(*) AS rc FROM bk GROUP BY b),
      tgt AS (SELECT b, count(*) AS tc FROM bk WHERE lang = 'en' GROUP BY b),
      w AS (SELECT raw.b, ((coalesce(tc, 0) + 1) * 1000000) // (rc + 1) AS w
        FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
      sc AS (SELECT doc_id, count(*) AS n_tokens, sum(w) AS sw
        FROM bk JOIN w USING (b) GROUP BY doc_id),
      s2 AS (SELECT doc_id, n_tokens, CAST(sw // n_tokens AS BIGINT) AS score_ppm FROM sc),
      th AS (SELECT percentile_cont(0.75) WITHIN GROUP (ORDER BY CAST(score_ppm AS DOUBLE)) AS thr FROM s2)
      SELECT s2.doc_id, CAST(s2.n_tokens AS BIGINT) AS n_tokens, s2.score_ppm,
        round(th.thr, 6) AS thr
      FROM s2, th WHERE CAST(score_ppm AS DOUBLE) >= th.thr
      ORDER BY doc_id"""),
    (s, d) => {
      val bk = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(normText(col("text")), " ")).as("tok"))
        .select(col("doc_id"), col("lang"),
          pmod(h60(col("tok")), lit(DsirBuckets)).as("b"))
        .transform(graft.CacheScope.untracked.persist)
      val raw = bk.groupBy(col("b")).agg(count(lit(1)).as("rc"))
      val tgt = bk.filter(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("tc"))
      val w = raw.join(tgt, Seq("b"), "left")
        .select(col("b"),
          expr("((coalesce(tc, 0) + 1) * 1000000) div (rc + 1)").as("w"))
      val scored = bk.join(broadcast(w), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("sw"))
        .select(col("doc_id"), col("n_tokens"),
          expr("sw div n_tokens").as("score_ppm"))
        .transform(graft.CacheScope.untracked.persist)
      val thr = graft.operators.ExactPercentiles.percentiles(
          scored.select(lit(1).as("g"), col("score_ppm")), "g", "score_ppm", Seq(0.75))
        .select(col("value").as("thr"))
      scored.crossJoin(broadcast(thr))
        .filter(col("score_ppm").cast("double") >= col("thr"))
        .select(col("doc_id"), col("n_tokens"), col("score_ppm"),
          round(col("thr"), 6).as("thr"))
        .orderBy(col("doc_id"))
    })

  // ------------------------------------------------ pipeline_data_card
  /** pipeline_data_card: the one-report corpus "data card" (r8) — the
    * release-note table every dataset ship requires (what's in it,
    * from where, in what language, how redundant): per-source and
    * per-language doc/token counts, the exact-dup rate, and corpus
    * totals, all united into one (section, k)-keyed report (the
    * `pipeline_ml_readouts` composition shape).
    *
    * 100 TB shape: ONE persisted corpus scan computes the per-doc
    * facts (source, lang, token count, content md5) and every section
    * is a map-combinable aggregate off it — the corpus is scanned
    * once and shuffled only at (source)/(lang)/(hash) grain; totals
    * ride one-row broadcasts. Metrics are single fixed-order IEEE
    * divisions over exact counts, unrounded. */
  val dataCard = QueryDef(
    "pipeline_data_card",
    Some(s"""WITH base AS (SELECT source, lang,
        len(string_split(${normTextSql("text")}, ' ')) AS toks,
        md5(${normTextSql("text")}) AS h
        FROM documents),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(toks) AS BIGINT) AS t FROM base),
      tt AS (SELECT 'total' AS section, 'all' AS k, tot.n AS n_a, tot.t AS n_b,
          CAST(tot.t AS DOUBLE) / tot.n AS metric FROM tot),
      src AS (SELECT 'source' AS section, source AS k, CAST(count(*) AS BIGINT) AS n_a,
          CAST(sum(toks) AS BIGINT) AS n_b,
          CAST(sum(toks) AS DOUBLE) / count(*) AS metric
        FROM base GROUP BY source),
      lng AS (SELECT 'lang' AS section, lang AS k, CAST(count(*) AS BIGINT) AS n_a,
          CAST(sum(toks) AS BIGINT) AS n_b,
          CAST(count(*) AS DOUBLE) / tot.n AS metric
        FROM base, tot GROUP BY lang, tot.n),
      hp AS (SELECT h, count(*) AS cnt FROM base GROUP BY h),
      dup AS (SELECT 'dup' AS section, 'exact' AS k,
          CAST(sum(cnt) - count(*) AS BIGINT) AS n_a,
          CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
          CAST(sum(cnt) - count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS metric
        FROM hp)
      SELECT * FROM tt UNION ALL SELECT * FROM src
      UNION ALL SELECT * FROM lng UNION ALL SELECT * FROM dup
      ORDER BY section, k"""),
    (s, d) => {
      val base = graft.CacheScope.untracked.persist(Tables.documents(s, d).select(
        col("source"), col("lang"),
        size(split(normText(col("text")), " ")).cast("long").as("toks"),
        md5(normText(col("text"))).as("h")))
      val tot = broadcast(base.agg(count(lit(1)).cast("long").as("n"),
        sum(col("toks")).cast("long").as("t")))
      val tt = tot.selectExpr("'total' AS section", "'all' AS k", "n AS n_a", "t AS n_b",
        "CAST(t AS DOUBLE) / n AS metric")
      val src = base.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("nd"), sum(col("toks")).cast("long").as("st"))
        .selectExpr("'source' AS section", "source AS k", "nd AS n_a", "st AS n_b",
          "CAST(st AS DOUBLE) / nd AS metric")
      val lng = base.groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("nd"), sum(col("toks")).cast("long").as("st"))
        .crossJoin(tot)
        .selectExpr("'lang' AS section", "lang AS k", "nd AS n_a", "st AS n_b",
          "CAST(nd AS DOUBLE) / n AS metric")
      val hp = base.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      val dup = hp.agg(
          (sum(col("cnt")) - count(lit(1))).cast("long").as("dd"),
          sum(when(col("cnt") > 1, 1L).otherwise(0L)).cast("long").as("cl"),
          sum(col("cnt")).cast("long").as("nn"))
        .selectExpr("'dup' AS section", "'exact' AS k", "dd AS n_a", "cl AS n_b",
          "CAST(dd AS DOUBLE) / CAST(nn AS DOUBLE) AS metric")
      tt.unionAll(src).unionAll(lng).unionAll(dup)
        .orderBy(col("section"), col("k"))
    })

  // --------------------------------------- semantic decontamination
  /** corpus_decontaminate_semantic (r10): embedding-cosine benchmark
    * decontamination — the SEMANTIC tier above the n-gram recipes
    * (`corpus_decontaminate*` catch verbatim/lightly-edited leaks;
    * paraphrased benchmark items share no 8-gram but sit next to the
    * eval item in embedding space — the Phi/Llama-era audit). Corpus
    * vectors landing in a shared hyperplane-LSH bucket with ANY
    * benchmark vector (the `dedup_embed_cosine_lsh` tables, asymmetric
    * like `simhashPairsIncremental`) verify by exact cosine; flagged
    * docs report hit count + max similarity.
    *
    * 100 TB shape: the benchmark side is eval-suite scale (MBs) — its
    * bucket rows BROADCAST, so the corpus-volume pass is one map-side
    * broadcast join on (table, bucket) keys; candidates are bounded by
    * |bench| per bucket table, the exact verify touches only them, and
    * the corpus is never self-joined (the asymmetric analog of the
    * decontaminate broadcast discipline). */
  def semanticDecontaminate(corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame, id: String, vec: String,
      threshold: Double)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): org.apache.spark.sql.DataFrame = {
    import graft.similarity.Similarity
    val nc = scope.persist(graft.dedup.DedupApi.normVecs(corpus, id, vec))
    val nb = scope.persist(graft.dedup.DedupApi.normVecs(bench, id, vec)
      .withColumnRenamed(id, "bench_id"))
    def buckets(n: org.apache.spark.sql.DataFrame, idc: String) =
      n.select(col(idc), explode(array((0 until Similarity.NumTables).map(t =>
          struct(lit(t).as("t"), expr(Similarity.bucketExprSparkFor(t)).as("bk"))): _*)).as("tb"))
        .select(col(idc).as(if (idc == id) "cid" else idc), col("tb.t").as("t"), col("tb.bk").as("bk"))
    val cand = buckets(nc, id)
      .join(broadcast(buckets(nb, "bench_id")), Seq("t", "bk"))
      .select(col("cid"), col("bench_id")).distinct()
    cand.as("cd")
      .join(nc.as("x"), col("cd.cid") === col(s"x.$id"))
      .join(broadcast(nb.as("y")), col("cd.bench_id") === col("y.bench_id"))
      .select(col("cd.cid").as("cid"), expr("graft_dot(x.v, y.v) / (x.nrm * y.nrm)").as("c"))
      .filter(col("c") >= threshold)
      .groupBy(col("cid"))
      .agg(count(lit(1)).cast("long").as("n_bench_hits"), max(col("c")).as("mc"))
      .select(col("cid").as(id), col("n_bench_hits"), round(col("mc"), 6).as("max_cos"))
  }

  val semanticDecontaminateQ = QueryDef(
    "corpus_decontaminate_semantic",
    Some {
      import graft.similarity.Similarity
      val bkCols = (0 until Similarity.NumTables)
        .map(t => s"${Similarity.bucketExprSql(t)} AS bk_$t").mkString(", ")
      def tbUnion(src: String, idAs: String) = (0 until Similarity.NumTables)
        .map(t => s"SELECT vec_id AS $idAs, $t AS t, bk_$t AS bk FROM $src")
        .mkString(" UNION ALL ")
      s"""WITH vx AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      nx AS (SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm FROM vx),
      bn AS (SELECT * FROM nx WHERE vec_id % 29 = 0),
      cp AS (SELECT * FROM nx WHERE vec_id % 29 <> 0),
      bkb0 AS (SELECT vec_id, $bkCols FROM (SELECT vec_id, v FROM bn) t0),
      bkc0 AS (SELECT vec_id, $bkCols FROM (SELECT vec_id, v FROM cp) t0),
      bkb AS (${tbUnion("bkb0", "bench_id")}),
      bkc AS (${tbUnion("bkc0", "cid")}),
      cand AS (SELECT DISTINCT c.cid, b.bench_id FROM bkc c JOIN bkb b ON c.t = b.t AND c.bk = b.bk),
      px AS (SELECT cd.cid,
          list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
            / (a.nrm * b.nrm) AS c
        FROM cand cd JOIN cp a ON a.vec_id = cd.cid JOIN bn b ON b.vec_id = cd.bench_id)
      SELECT cid AS vec_id, CAST(count(*) AS BIGINT) AS n_bench_hits, round(max(c), 6) AS max_cos
      FROM px WHERE c >= 0.4 GROUP BY cid ORDER BY vec_id"""
    },
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val bench = e.filter(pmod(col("vec_id"), lit(29)) === 0)
      val corpus = e.filter(pmod(col("vec_id"), lit(29)) =!= 0)
      semanticDecontaminate(corpus, bench, "vec_id", "embedding", threshold = 0.4)
        .orderBy(col("vec_id"))
    })

  // ----------------------------------------------- span corruption
  /** Span-corruption block length (tokens per maskable block) and
    * mask rate (percent of blocks) — T5's defaults: mean span 3,
    * corruption rate 15% (Raffel et al. 2020 §3.1.4 / table 5). */
  val SpanBlock = 3
  val SpanMaskPct = 15

  /** corpus_span_corruption: the T5 denoising-objective REWRITE — the
    * stage that turns a filtered corpus into (corrupted input, target)
    * training pairs: ~15% of tokens drop in spans of [[SpanBlock]],
    * each span replaced by an ordered `<extra_id_K>` sentinel in the
    * input and emitted after its sentinel in the target. Span
    * selection is hash-deterministic per (doc, block) — the
    * corpus_split_stats recipe at block grain: reproducible across
    * runs/cluster sizes, no RNG state, and the oracle derives the
    * SAME masks from the same md5.
    *
    * 100 TB shape: pure per-row array math inside codegen — ZERO
    * shuffle at any corpus size (the `text_repetition` plan shape);
    * the ORDER BY exists for the oracle compare. Sentinel numbering
    * uses a nested filter-count (K(b) = #selected blocks before b):
    * O(blocks²) per doc, bounded by (len/3)² — fine for documents,
    * and it is the form BOTH engines evaluate identically (neither
    * exposes an indexed transform in common). The gate pins the
    * REWRITE bytes via md5 of input and target. */
  def spanCorruption(docs: DataFrame): DataFrame = {
    val h60Spark = (e: String) => s"CAST(conv(substring(md5($e),1,15),16,10) AS BIGINT)"
    val sel = (b: String) =>
      s"(${h60Spark(s"concat(CAST(doc_id AS STRING), ':', CAST($b AS STRING))")} % 100 < $SpanMaskPct)"
    val blockToks = (b: String) => s"array_join(slice(toks, $b * $SpanBlock + 1, $SpanBlock), ' ')"
    val sentinel = (k: String) => s"concat('<extra_id_', CAST($k AS STRING), '>')"
    docs
      .selectExpr("doc_id", s"split(${normTextSparkSql("text")}, ' ') AS toks")
      .selectExpr("doc_id", "toks",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        s"CAST((size(toks) + ${SpanBlock - 1}) div $SpanBlock AS BIGINT) AS n_blocks")
      .selectExpr("doc_id", "toks", "n_tokens", "n_blocks",
        s"filter(sequence(0, CAST(n_blocks AS INT) - 1), b -> ${sel("b")}) AS selb")
      .selectExpr("doc_id", "n_tokens", "n_blocks",
        "CAST(size(selb) AS BIGINT) AS n_spans",
        s"""aggregate(transform(selb, b -> least($SpanBlock, CAST(n_tokens AS INT) - b * $SpanBlock)),
           0L, (a, x) -> a + x) AS n_masked""",
        s"""md5(array_join(transform(sequence(0, CAST(n_blocks AS INT) - 1),
           b -> CASE WHEN ${sel("b")}
             THEN ${sentinel("size(filter(selb, x -> x < b))")}
             ELSE ${blockToks("b")} END), ' ')) AS corrupted_md5""",
        s"""md5(array_join(transform(selb,
           b -> concat(${sentinel("size(filter(selb, x -> x < b))")}, ' ', ${blockToks("b")})), ' ')) AS target_md5""")
      .selectExpr("doc_id", "n_tokens", "n_blocks", "n_spans", "n_masked",
        s"${Portable.round6RatioSpark("n_masked", "n_tokens")} AS mask_fraction",
        "corrupted_md5", "target_md5")
      .orderBy(col("doc_id"))
  }

  /** The shared normalization's Spark-SQL-string spelling — see
    * [[graft.Portable.normTextSparkSql]]; defined next to the
    * canonical [[graft.Portable.normText]] so the three spellings
    * (Column, Spark SQL string, DuckDB SQL string) cannot drift. */
  private def normTextSparkSql(e: String): String =
    graft.Portable.normTextSparkSql(e)

  val spanCorruptionQ = QueryDef(
    "corpus_span_corruption",
    Some {
      val sel = (b: String) =>
        s"(${h60Sql(s"(CAST(doc_id AS VARCHAR) || ':' || CAST($b AS VARCHAR))")} % 100 < $SpanMaskPct)"
      val blockToks = (b: String) =>
        s"array_to_string(list_slice(toks, $b * $SpanBlock + 1, $b * $SpanBlock + $SpanBlock), ' ')"
      val sentinel = (k: String) => s"('<extra_id_' || CAST($k AS VARCHAR) || '>')"
      s"""WITH t AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
      s AS (SELECT doc_id, toks,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST((len(toks) + ${SpanBlock - 1}) // $SpanBlock AS BIGINT) AS n_blocks
        FROM t),
      sb AS (SELECT doc_id, toks, n_tokens, n_blocks,
          list_filter(range(0, CAST(n_blocks AS INT)), b -> ${sel("b")}) AS selb
        FROM s),
      r AS (SELECT doc_id, n_tokens, n_blocks,
          CAST(len(selb) AS BIGINT) AS n_spans,
          CAST(coalesce(list_sum(list_transform(selb,
            b -> least($SpanBlock, CAST(n_tokens AS INT) - b * $SpanBlock))), 0) AS BIGINT) AS n_masked,
          md5(array_to_string(list_transform(range(0, CAST(n_blocks AS INT)),
            b -> CASE WHEN ${sel("b")}
              THEN ${sentinel("len(list_filter(selb, x -> x < b))")}
              ELSE ${blockToks("b")} END), ' ')) AS corrupted_md5,
          md5(coalesce(array_to_string(list_transform(selb,
            b -> ${sentinel("len(list_filter(selb, x -> x < b))")} || ' ' || ${blockToks("b")}), ' '), '')) AS target_md5
        FROM sb)
      SELECT doc_id, n_tokens, n_blocks, n_spans, n_masked,
        ${Portable.round6RatioDuck("n_masked", "n_tokens")} AS mask_fraction,
        corrupted_md5, target_md5
      FROM r ORDER BY doc_id"""
    },
    // fanout kept HERE (alone among the documents gates): pure per-row
    // token rewrite with no explode/groupBy fan-in — the r14 family
    // bench measured 1.80 s → 0.96 s min-of-3, while the exchange hurt
    // the explode→high-cardinality-groupBy dedup shapes (reverted there)
    (s, d) => spanCorruption(Tables.fanout(
      Tables.documents(s, d).select(col("doc_id"), col("text")))))

  val defs: Seq[QueryDef] = Seq(splitStats, packShards, packSequences, packFfd,
    budgetSelect, stratifiedSample, chunk, decontaminate, decontaminateBloom,
    decontaminateFuzzy, domainMix, temperatureSample, mixtureSampleQ,
    mixturePackQ, trainDataCardQ, ingestFull,
    splitLeakage, qualityGate, epochMix, dsirSelect, dataCard,
    semanticDecontaminateQ, spanCorruptionQ)
}
