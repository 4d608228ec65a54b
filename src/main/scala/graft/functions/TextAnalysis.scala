package graft.functions

import graft.{Portable, QueryDef, Small, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** Text-analysis operators for a training-data pipeline (SURVEY.md
  * §2.5): token counting, quality scoring, language-ID heuristic,
  * document fingerprinting. All pure per-row column expressions —
  * embarrassingly parallel, fully codegen'd, no shuffle at all (the
  * ORDER BY in each query exists only for oracle determinism).
  */
object TextAnalysis {
  import Portable.{normText, normTextSql}

  private val Stopwords = Seq("the", "a", "of", "and", "to")
  /** tiny per-language marker lists for the n-gram/stopword heuristic */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow", "small"),
    "de" -> Seq("der", "die", "und", "nicht"),
    "fr" -> Seq("le", "la", "et", "les"),
    "es" -> Seq("el", "los", "y", "que"))

  private def inListSql(e: String, xs: Seq[String]) =
    xs.map(x => s"'$x'").mkString(s"$e IN (", ", ", ")")

  // ---------------------------------------------------------- tokens
  /** Token counting: whitespace tokens and a BPE-ish regex
    * segmentation (alpha runs / digit runs / single punctuation). */
  private val TokRe = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  val tokens = QueryDef(
    "text_tokens",
    Some(s"""SELECT doc_id, n_chars, length(text) AS text_len,
      len(string_split(${normTextSql("text")}, ' ')) AS n_ws_tokens,
      len(regexp_extract_all(lower(text), '$TokRe')) AS n_re_tokens
      FROM documents ORDER BY doc_id"""),
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), length(col("text")).as("text_len"),
        size(split(normText(col("text")), " ")).as("n_ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit(TokRe), lit(0))).as("n_re_tokens"))
      .orderBy(col("doc_id")), bench = false)

  // ---------------------------------------------------------- quality
  /** Quality scoring: length gate, unique-token ratio, alpha ratio,
    * stopword ratio — the standard cheap pre-filters before expensive
    * dedup/model scoring stages. */
  val quality = QueryDef(
    "text_quality",
    Some(s"""WITH t AS (SELECT doc_id, text, string_split(${normTextSql("text")}, ' ') AS toks FROM documents)
      SELECT doc_id, len(toks) AS n_tokens,
        round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS uniq_ratio,
        round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text), 6) AS alpha_ratio,
        round(CAST(len(list_filter(toks, w -> ${inListSql("w", Stopwords)})) AS DOUBLE) / len(toks), 6) AS stop_ratio,
        CASE WHEN len(toks) BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS len_ok
      FROM t ORDER BY doc_id"""),
    (s, d) => {
      val toks = split(normText(col("text")), " ")
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), toks.as("toks"))
        .select(col("doc_id"), size(col("toks")).as("n_tokens"),
          round(size(array_distinct(col("toks"))).cast(DoubleType) / size(col("toks")), 6).as("uniq_ratio"),
          round(length(regexp_replace(col("text"), "[^a-z]", "")).cast(DoubleType) / length(col("text")), 6).as("alpha_ratio"),
          round(size(filter(col("toks"), w => w.isInCollection(Stopwords))).cast(DoubleType) / size(col("toks")), 6).as("stop_ratio"),
          when(size(col("toks")).between(20, 80), 1).otherwise(0).as("len_ok"))
        .orderBy(col("doc_id"))
    })

  // ---------------------------------------------------------- langid
  /** Language-ID heuristic: marker-word overlap score per language,
    * deterministic argmax (priority order on ties), 'und' when no
    * marker hits. A real system swaps in larger n-gram tables; the
    * plumbing (per-row scoring, argmax) is the operator. */
  val langid = QueryDef(
    "text_langid",
    Some {
      val scores = Markers.map { case (l, ws) =>
        s"len(list_filter(toks, w -> ${inListSql("w", ws)})) AS n_$l"
      }.mkString(", ")
      val argmax = Markers.map(_._1).map { l =>
        val others = Markers.map(_._1).filterNot(_ == l).map(o => s"n_$l >= n_$o").mkString(" AND ")
        s"WHEN n_$l > 0 AND $others THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
        sc AS (SELECT doc_id, $scores FROM t)
        SELECT doc_id, ${Markers.map("n_" + _._1).mkString(", ")},
          CASE $argmax ELSE 'und' END AS pred_lang
        FROM sc ORDER BY doc_id"""
    },
    (s, d) => {
      val toks = split(normText(col("text")), " ")
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id") +: Markers.map { case (l, ws) =>
          size(filter(col("toks"), w => w.isInCollection(ws))).as(s"n_$l")
        }: _*)
      val pred = Markers.foldLeft(when(lit(false), "und")) { case (acc, (l, _)) =>
        val others = Markers.map(_._1).filterNot(_ == l)
          .map(o => col(s"n_$l") >= col(s"n_$o")).reduce(_ && _)
        acc.when(col(s"n_$l") > 0 && others, l)
      }.otherwise("und")
      scored.withColumn("pred_lang", pred).orderBy(col("doc_id"))
    }, bench = false)

  // ------------------------------------------------------ langid eval
  /** text_langid_eval: confusion matrix of the marker-word language
    * identifier against the corpus's labeled `lang` column — the
    * evaluation loop every langid deployment closes (per-language
    * recall decides whether the cheap heuristic is good enough to
    * GATE on, or which languages need the heavier model; `und` cells
    * count the abstentions). Long-format (true_lang, pred_lang, n,
    * share) cells; share = n / n_true via round6Ratio on exact
    * integers.
    *
    * 100 TB shape: the scorer is per-row array math (the `text_langid`
    * plan), the confusion aggregate shuffles ≤ langs² keys, true-lang
    * totals ride a broadcast join back. */
  val langidEval = QueryDef(
    "text_langid_eval",
    Some {
      val scores = Markers.map { case (l, ws) =>
        s"len(list_filter(toks, w -> ${inListSql("w", ws)})) AS n_$l"
      }.mkString(", ")
      val argmax = Markers.map(_._1).map { l =>
        val others = Markers.map(_._1).filterNot(_ == l).map(o => s"n_$l >= n_$o").mkString(" AND ")
        s"WHEN n_$l > 0 AND $others THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
        sc AS (SELECT lang AS true_lang, $scores FROM t),
        p AS (SELECT true_lang, CASE $argmax ELSE 'und' END AS pred_lang FROM sc),
        cell AS (SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
          FROM p GROUP BY 1, 2),
        tot AS (SELECT true_lang, CAST(sum(n) AS BIGINT) AS n_true FROM cell GROUP BY 1)
        SELECT cell.true_lang, cell.pred_lang, cell.n, tot.n_true,
          ${graft.Portable.round6RatioDuck("cell.n", "tot.n_true")} AS share
        FROM cell JOIN tot ON cell.true_lang = tot.true_lang
        ORDER BY cell.true_lang, cell.pred_lang"""
    },
    (s, d) => {
      val toks = split(normText(col("text")), " ")
      val scored = Tables.documents(s, d)
        .select(col("lang").as("true_lang"), toks.as("toks"))
        .select(col("true_lang") +: Markers.map { case (l, ws) =>
          size(filter(col("toks"), w => w.isInCollection(ws))).as(s"n_$l")
        }: _*)
      val pred = Markers.foldLeft(when(lit(false), "und")) { case (acc, (l, _)) =>
        val others = Markers.map(_._1).filterNot(_ == l)
          .map(o => col(s"n_$l") >= col(s"n_$o")).reduce(_ && _)
        acc.when(col(s"n_$l") > 0 && others, l)
      }.otherwise("und")
      val cell = scored.withColumn("pred_lang", pred)
        .groupBy(col("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).cast("long").as("n"))
      val tot = cell.groupBy(col("true_lang"))
        .agg(sum(col("n")).cast("long").as("n_true"))
      cell.join(broadcast(tot), Seq("true_lang"))
        .selectExpr("true_lang", "pred_lang", "n", "n_true",
          s"${graft.Portable.round6RatioSpark("n", "n_true")} AS share")
        .orderBy(col("true_lang"), col("pred_lang"))
    })

  // ------------------------------------------------------ fingerprint
  /** Document fingerprinting: md5 content hash + 64-bit-safe
    * polynomial rolling hash over codepoints (h = h*31 + c mod 1e9+7),
    * the classic Rabin-style fingerprint. Both engines fold
    * left-to-right, so values agree exactly. */
  val RollMod = 1000000007L
  val fingerprint = QueryDef(
    "text_fingerprint",
    Some(s"""WITH n AS (SELECT doc_id, ${normTextSql("text")} AS s FROM documents)
      SELECT doc_id, md5(s) AS fp_md5,
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(regexp_extract_all(s, '.'), c -> CAST(unicode(c) AS BIGINT))),
          (acc, x) -> (acc * 31 + x) % $RollMod) AS fp_roll
      FROM n ORDER BY doc_id"""),
    (s, d) => {
      Natives.ensure(s)
      Tables.documents(s, d)
        .select(col("doc_id"), normText(col("text")).as("s"))
        .select(col("doc_id"), md5(col("s")).as("fp_md5"),
          RollingHash.rollingHash(col("s"), RollMod).as("fp_roll"))
        .orderBy(col("doc_id"))
    })

  // -------------------------------------------- duplicate n-gram fraction
  /** Per-document duplicate n-gram fraction (the Gopher /
    * MassiveText repetition signal, Rae et al. 2021 §A.1.1, also the
    * RefinedWeb recipe): the fraction of a document's distinct word
    * 5-shingles that occur in at least one OTHER document. High
    * values flag boilerplate-heavy or templated docs that survive
    * exact dedup but poison training data — the standard cheap
    * corpus-level quality gate between exact and near dedup.
    *
    * Scale shape: NO shingle-keyed join anywhere — the r4 form joined
    * the document-frequency table back on the shingle value, and a
    * boilerplate shingle present in 10^6 docs is a hot join key (AQE
    * skew-split mitigates; robust-by-construction is better). Since a
    * doc's shingles are DISTINCT, `n_dup = n_shingles − n_uniq` where
    * n_uniq counts the doc's corpus-UNIQUE shingles, and a df=1
    * shingle's single owner is recoverable as `min(doc_id)` inside the
    * same aggregate. So: one groupBy(shingle) with (count, min owner)
    * — map-side partial combine caps any hot shingle at one row per
    * map partition — filter df=1 (each surviving row names its owner),
    * a doc-keyed count, and a doc-keyed left join against per-doc
    * `size(shingles)` (one row per doc per side, balanced by
    * construction). The skewed value never reaches a join. No pair
    * scan: cost is linear in corpus shingle volume at any corpus
    * size. */
  val DupShingleK = 5

  val dupNgramFraction = QueryDef(
    "text_dup_ngram_fraction",
    Some {
      val k = DupShingleK
      s"""WITH norm AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
        sh AS (SELECT doc_id, unnest(list_transform(${Portable.wordShinglesSql("toks", k)},
            s -> ${Portable.h60Sql("s")})) AS h
          FROM norm WHERE len(toks) >= $k),
        df AS (SELECT h, count(*) AS df FROM sh GROUP BY h)
        SELECT s.doc_id, count(*) AS n_shingles,
          CAST(sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          round(CAST(sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_fraction
        FROM sh s JOIN df d ON s.h = d.h
        GROUP BY s.doc_id ORDER BY s.doc_id"""
    },
    (s, d) => {
      val k = DupShingleK
      // shingle build + hash is the native one-pass graft_word_shingles
      // (no token array, no per-window interpreted lambda / concat_ws /
      // hex round-trip — the same interpreted-lambda tax graft_ngrams
      // removed from the Jaccard scan), and the corpus-wide aggregate
      // then shuffles 8-byte longs instead of ~30-char shingle strings.
      // Hashed counting is exact against the string oracle BY
      // CONSTRUCTION: both engines md5 the same distinct strings, so a
      // h60 collision merges the same two shingles on both sides.
      // Evaluated-and-rejected: hashing via composed transform(...,
      // h60) expressions measured 26.5 s vs the string form's 19.3 s
      // at sf0.1 — interpreted md5/conv per window costs more than the
      // exchange saves; only the native kernel wins both sides.
      Natives.ensure(s)
      val base = Tables.documents(s, d)
        .select(col("doc_id"), normText(col("text")).as("txt"))
        .select(col("doc_id"), graft.functions.WordShingles.hashes(col("txt"), k).as("shs"))
        .filter(size(col("shs")) > 0)
      // per-doc shingles are DISTINCT (wordShingles), so count = doc
      // frequency, and a df=1 shingle's min(doc_id) IS its only owner
      val uniq = base.select(col("doc_id"), explode(col("shs")).as("h"))
        .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("df"))
        .filter(col("df") === 1)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_uniq"))
      val nDup = col("n_shingles") - coalesce(col("n_uniq"), lit(0L))
      base.select(col("doc_id"), size(col("shs")).cast("long").as("n_shingles"))
        .join(uniq, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"), nDup.cast("long").as("n_dup"),
          round(nDup.cast("double") / col("n_shingles"), 6).as("dup_fraction"))
        .orderBy(col("doc_id"))
    })

  // -------------------------------------------------------- PII scrub
  /** PII detection + redaction (the CCNet / RefinedWeb ingest stage:
    * scrub emails, phone numbers, IP addresses before training). Pure
    * per-row regex work — zero shuffle, fully codegen'd, linear in
    * corpus bytes at any scale.
    *
    * The synthetic documents contain no digits at all, so the query
    * PLANTS deterministic PII derived from doc_id into every third doc
    * — both engines apply the identical planting expression to the
    * same table, then the gate proves detection counts AND the
    * scrubbed text agree byte-for-byte (md5). Same recipe as the
    * audio gate's synthesized waveforms: the kernel is real, the
    * fixture is constructed.
    *
    * Regex portability (Java on the Spark side, RE2 in DuckDB): the
    * patterns use only character classes, bounded repetition, and \\b
    * word boundaries — identical semantics in both engines (Java \\d
    * is ASCII-only by default, matching RE2). Scrub order matters:
    * emails first (their domains contain dots), then IPs, then
    * phones. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** Redact the three PII classes from a string column (emails →
    * `<EMAIL>`, then IPs → `<IP>`, then phones → `<PHONE>`) — the
    * library surface; the gated query below md5s this output. */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  val piiScrub = QueryDef(
    "text_pii_scrub",
    Some {
      val plant = s"""CASE WHEN doc_id % 3 = 0 THEN concat(text,
          ' contact user', CAST(doc_id AS VARCHAR), '@mail.example.com or call 555-',
          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
          ' from 10.', CAST(doc_id % 256 AS VARCHAR), '.0.', CAST((doc_id * 7) % 256 AS VARCHAR))
        ELSE text END"""
      s"""WITH p AS (SELECT doc_id, $plant AS t FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_email,
          CAST(len(regexp_extract_all(t, '$Ipv4Re')) AS BIGINT) AS n_ipv4,
          CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phone,
          md5(regexp_replace(regexp_replace(regexp_replace(t,
            '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'), '$PhoneRe', '<PHONE>', 'g')) AS scrub_md5
        FROM p ORDER BY doc_id"""
    },
    (s, d) => {
      val plant = when(col("doc_id") % 3 === 0,
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@mail.example.com or call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10."), (col("doc_id") % 256).cast("string"), lit(".0."),
          ((col("doc_id") * 7) % 256).cast("string")))
        .otherwise(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), plant.as("t"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(EmailRe)).cast("long").as("n_email"),
          regexp_count(col("t"), lit(Ipv4Re)).cast("long").as("n_ipv4"),
          regexp_count(col("t"), lit(PhoneRe)).cast("long").as("n_phone"),
          md5(scrubPii(col("t"))).as("scrub_md5"))
        .orderBy(col("doc_id"))
    }, bench = false)

  // -------------------------------------------------------- histogram
  /** Token-length histogram (capped decile buckets) — the corpus-shape
    * summary every ingest pipeline reports. Single shuffle on ≤10 keys. */
  val lengthHistogram = QueryDef(
    "text_length_histogram",
    Some(s"""WITH t AS (SELECT len(string_split(${normTextSql("text")}, ' ')) AS n FROM documents)
      SELECT least(n // 10, 9) AS bucket, count(*) AS n_docs, min(n) AS min_tokens, max(n) AS max_tokens
      FROM t GROUP BY bucket ORDER BY bucket"""),
    (s, d) => Tables.documents(s, d)
      .select(size(split(normText(col("text")), " ")).as("n"))
      .select(least(expr("n div 10"), lit(9)).as("bucket"), col("n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), min(col("n")).as("min_tokens"), max(col("n")).as("max_tokens"))
      .orderBy(col("bucket")), bench = false)

  // -------------------------------------------------------- diversity
  /** Lexical-diversity scoring — the integer-exact siblings of Shannon
    * entropy used as repetition/quality gates (a spammy doc has low
    * Simpson index and high modal dominance): per doc, the Simpson
    * diversity `1 − Σc² / n²`, the modal-token dominance `max(c)/n`,
    * and the deterministic modal token (ties → binary-least). Every
    * ratio divides two exactly-computed integers, so both engines
    * round the identical double (the same discipline as
    * [[quality]]'s ratios; float logs would make entropy itself
    * merge-order-hazardous — rejected).
    *
    * Scale shape: the oracle needs a (doc, token) unnest + aggregate —
    * a shuffle of the corpus's full token volume; the engine computes
    * all five signals inside the row with the one-pass native
    * `graft_token_stats` kernel, so the plan is scan → project —
    * map-only at any corpus size (the ORDER BY exists only for oracle
    * determinism). */
  val diversity = QueryDef(
    "text_diversity",
    Some(s"""WITH t AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
      c AS (SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok),
      m AS (SELECT doc_id, tok, c, max(c) OVER (PARTITION BY doc_id) AS mc FROM c)
      SELECT doc_id,
        CAST(sum(c) AS BIGINT) AS n_tokens,
        CAST(count(*) AS BIGINT) AS n_distinct,
        round(1 - CAST(sum(c*c) AS DOUBLE) / CAST(sum(c) * sum(c) AS DOUBLE), 6) AS simpson,
        round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS dominance,
        min(CASE WHEN c = mc THEN tok END) AS top_token
      FROM m GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => {
      Natives.ensure(s)
      Tables.documents(s, d)
        .select(col("doc_id"), graft.functions.TokenStats.of(normText(col("text"))).as("st"))
        .select(col("doc_id"),
          col("st.n_tokens").as("n_tokens"),
          col("st.n_distinct").as("n_distinct"),
          round(lit(1d) - col("st.sumsq").cast(DoubleType) /
            (col("st.n_tokens") * col("st.n_tokens")).cast(DoubleType), 6).as("simpson"),
          round(col("st.max_count").cast(DoubleType) / col("st.n_tokens").cast(DoubleType), 6)
            .as("dominance"),
          col("st.top_token").as("top_token"))
        .orderBy(col("doc_id"))
    })

  // ------------------------------------------------------ readability
  /** Flesch-reading-ease readability scoring — the classic
    * surface-statistics quality filter next to [[quality]]'s ratio
    * gates (readability bands are a standard corpus-audit axis:
    * too-easy flags listicle/boilerplate, too-hard flags OCR noise).
    * All three inputs are exact integers sharing one normalized scan:
    * words = whitespace tokens, syllables = vowel-group runs (the
    * standard heuristic; counting them over the WHOLE normalized text
    * equals the per-word sum because spaces break every run — one
    * regexp pass, no explode), sentences = `[.!?]+` runs in the RAW
    * text floored at 1. The score is one fixed-order IEEE expression
    * over those integers (206.835 − 1.015·w/s − 84.6·syl/w), identical
    * in both engines; per-row map-only, ZERO shuffle at any corpus
    * size. */
  val readability = QueryDef(
    "text_readability",
    Some(s"""WITH t AS (SELECT doc_id, text, ${normTextSql("text")} AS s FROM documents),
      c AS (SELECT doc_id,
          len(string_split(s, ' ')) AS n_words,
          len(regexp_extract_all(s, '[aeiou]+')) AS n_syllables,
          greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences
        FROM t)
      SELECT doc_id, n_words, n_syllables, n_sentences,
        round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
          - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6) AS flesch
      FROM c ORDER BY doc_id"""),
    (s, d) => {
      val counted = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), normText(col("text")).as("s"))
        .select(col("doc_id"),
          size(split(col("s"), " ")).as("n_words"),
          size(regexp_extract_all(col("s"), lit("[aeiou]+"), lit(0))).as("n_syllables"),
          greatest(lit(1), size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))).as("n_sentences"))
      counted.select(col("doc_id"),
          col("n_words").cast("long").as("n_words"),
          col("n_syllables").cast("long").as("n_syllables"),
          col("n_sentences").cast("long").as("n_sentences"),
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 6).as("flesch"))
        .orderBy(col("doc_id"))
    })

  // --------------------------------------------------------- entropy
  /** Shannon token entropy per document — the information-density
    * quality signal next to [[diversity]]'s Simpson index (low
    * entropy flags boilerplate/generated spam, near-max entropy flags
    * uniform gibberish; the CCNet/Gopher-family filters use both).
    * Uses the identity `H = ln n − (Σ c·ln c)/n`, so only ONE
    * aggregate over the (doc, token) counts is needed — the same
    * shrinking-key ladder as [[topTokens]] (the oracle computes the
    * identical shape). Float discipline is the `corpus_ngram_lm`
    * one: each `c·ln c` term is rounded to 12 decimals and summed as
    * DECIMAL(28,12) — merge-order-free under any partitioning, and a
    * last-ulp `ln` divergence between engines moves one term ≤ 1e-12,
    * invisible under the final round(·, 6). `entropy_norm` = H/ln n
    * (0 for single-token docs) is the length-independent variant
    * pipelines threshold on. */
  val entropy = QueryDef(
    "text_entropy",
    Some(s"""WITH t AS (SELECT doc_id, unnest(string_split(${normTextSql("text")}, ' ')) AS tok FROM documents),
      c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok),
      e AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
          CAST(count(*) AS BIGINT) AS n_distinct,
          CAST(sum(CAST(round(c * ln(c), 12) AS DECIMAL(28,12))) AS DOUBLE) AS s
        FROM c GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_distinct,
        round(ln(n_tokens) - s / n_tokens, 6) AS entropy,
        CASE WHEN n_tokens > 1 THEN round((ln(n_tokens) - s / n_tokens) / ln(n_tokens), 6)
             ELSE CAST(0 AS DOUBLE) END AS entropy_norm
      FROM e ORDER BY doc_id"""),
    (s, d) => entropyDf(Tables.documents(s, d)))

  /** Per-document Shannon token entropy — see [[entropy]]. Input needs
    * (doc_id, text); output (doc_id, n_tokens, n_distinct, entropy,
    * entropy_norm), ordered. */
  def entropyDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val c = docs
      .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val e = c.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      sum(round(col("c") * log(col("c")), 12).cast(DecimalType(28, 12)))
        .cast(DoubleType).as("s"))
    e.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(log(col("n_tokens")) - col("s") / col("n_tokens"), 6).as("entropy"),
        when(col("n_tokens") > 1,
          round((log(col("n_tokens")) - col("s") / col("n_tokens")) / log(col("n_tokens")), 6))
          .otherwise(lit(0d)).as("entropy_norm"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------ keyphrases
  /** RAKE candidate phrases longer than this are dropped (the
    * published convention: long stopword-free runs are boilerplate,
    * not keyphrases). */
  val MaxPhraseLen = 4
  val KeyphraseTopK = 10

  /** text_keyphrases: corpus keyphrase extraction à la RAKE (Rose et
    * al. 2010 — the unsupervised keyword staple): candidate phrases
    * are maximal stopword-free token runs (≤ [[MaxPhraseLen]] long),
    * each word w gets freq(w) = its occurrences across candidates and
    * deg(w) = Σ length of the candidates containing it, and a phrase
    * scores Σ_w deg(w)/freq(w); top-10 phrases corpus-wide.
    *
    * Determinism: runs come from the classic `i − row_number()` gap
    * trick under the exact token order (phrase text rebuilt from
    * `array_sort`ed (i, tok) structs — collect order is shuffle-
    * dependent, the sort restores it; the oracle's `string_agg(…
    * ORDER BY i)` is the same total order); per-word ratios are
    * 12-dp-rounded DECIMAL terms (merge-order-free sums) and the
    * ranking orders on the EXACT decimal score (the q73 discipline).
    *
    * 100 TB shape: positional explode is map-side; the only corpus-
    * grain shuffles are the (doc, run) phrase fold and the word-stat
    * aggregate (vocabulary-scale output); phrase scoring joins the
    * DISTINCT-phrase table (≤ 4 words each) against vocab-grain
    * stats; top-10 is TakeOrderedAndProject. */
  val keyphrases = QueryDef(
    "text_keyphrases", {
      val stop = inListSql("tok", Stopwords)
      Some(s"""WITH t AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
      pos AS (SELECT doc_id, s.i AS i, s.tok AS tok FROM
        (SELECT doc_id, unnest(list_transform(toks, (x, i) -> struct_pack(i := i, tok := x))) AS s FROM t) q),
      ns AS (SELECT doc_id, i, tok,
          i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS run
        FROM pos WHERE NOT ($stop) AND tok <> ''),
      ph AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS phrase, count(*) AS plen
        FROM ns GROUP BY doc_id, run),
      phf AS (SELECT * FROM ph WHERE plen <= $MaxPhraseLen),
      ws AS (SELECT wd, count(*) AS freq, CAST(sum(plen) AS BIGINT) AS deg
        FROM (SELECT unnest(string_split(phrase, ' ')) AS wd, plen FROM phf) w GROUP BY wd),
      pd AS (SELECT phrase, count(*) AS n FROM phf GROUP BY phrase),
      pw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS wd FROM pd),
      sc AS (SELECT pw.phrase, sum(CAST(round(CAST(ws.deg AS DOUBLE) / ws.freq, 12) AS DECIMAL(28,12))) AS s
        FROM pw JOIN ws ON pw.wd = ws.wd GROUP BY pw.phrase),
      r AS (SELECT pd.phrase, pd.n, sc.s,
          row_number() OVER (ORDER BY sc.s DESC, pd.phrase) AS rk
        FROM pd JOIN sc ON pd.phrase = sc.phrase)
      SELECT rk, phrase, n, CAST(s AS DOUBLE) AS score FROM r WHERE rk <= $KeyphraseTopK ORDER BY rk""")
    },
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(s, d)
        .select(col("doc_id"), split(normText(col("text")), " ").as("toks"))
      val pos = t.select(col("doc_id"), posexplode(col("toks")).as(Seq("i0", "tok")))
        .select(col("doc_id"), (col("i0") + 1).as("i"), col("tok"))
      val ns = pos
        .filter(!col("tok").isInCollection(Stopwords) && col("tok") =!= "")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("i"))))
        .withColumn("run", col("i") - col("rn"))
      val phf = ns.groupBy(col("doc_id"), col("run"))
        .agg(array_sort(collect_list(struct(col("i"), col("tok")))).as("st"))
        .select(col("doc_id"),
          expr("concat_ws(' ', transform(st, x -> x.tok))").as("phrase"),
          size(col("st")).cast(LongType).as("plen"))
        .filter(col("plen") <= MaxPhraseLen)
      val ws = phf.select(explode(split(col("phrase"), " ")).as("wd"), col("plen"))
        .groupBy(col("wd"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).cast(LongType).as("deg"))
      val pd = phf.groupBy(col("phrase")).agg(count(lit(1)).as("n"))
      val pw = pd.select(col("phrase"), explode(split(col("phrase"), " ")).as("wd"))
      val sc = pw.join(ws, Seq("wd"))
        .groupBy(col("phrase"))
        .agg(sum(round(col("deg").cast(DoubleType) / col("freq"), 12)
          .cast(DecimalType(28, 12))).as("s"))
      val top = pd.join(sc, Seq("phrase"))
        .orderBy(col("s").desc, col("phrase")).limit(KeyphraseTopK)
      top.withColumn("rk", row_number().over(Window.orderBy(col("s").desc, col("phrase"))))
        .select(col("rk"), col("phrase"), col("n"), col("s").cast(DoubleType).as("score"))
        .orderBy(col("rk"))
    })

  // --------------------------------------------------- inverted index
  val IndexTopTokens = 20
  val PostingsPerToken = 10

  /** text_inverted_index: inverted-index construction — the IR
    * structure under every keyword search and the decontamination
    * fast path: for the [[IndexTopTokens]] highest-df tokens, the
    * document-frequency and the first [[PostingsPerToken]] posting
    * entries (doc ids ascending, comma-joined for the gate).
    *
    * 100 TB shape: distinct (token, doc) once; df is a vocab-grain
    * aggregate; postings are TRUNCATED BEFORE collection — a per-token
    * `row_number() ≤ 10` window (frame bounded by the token's doc
    * count on the shuffled key, state ≤ 10 rows retained per token)
    * so no task ever materializes a hot token's full posting list (a
    * stopword's list IS the corpus; production shards postings by
    * (token, range) — the truncation here is the gate-sized stand-in
    * with the same bounded-state shape). Top-20 tokens by (df DESC,
    * token) via TakeOrderedAndProject. Everything is exact integers
    * and lexicographic strings — no float anywhere. */
  val invertedIndex = QueryDef(
    "text_inverted_index",
    Some(s"""WITH t AS (SELECT DISTINCT doc_id, unnest(string_split(${normTextSql("text")}, ' ')) AS tok FROM documents),
      f AS (SELECT tok, count(*) AS df FROM t GROUP BY tok),
      top AS (SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok) AS rk FROM f),
      sel AS (SELECT tok, df, rk FROM top WHERE rk <= $IndexTopTokens),
      p AS (SELECT t.tok, t.doc_id,
          row_number() OVER (PARTITION BY t.tok ORDER BY t.doc_id) AS pn
        FROM t JOIN sel ON t.tok = sel.tok),
      pl AS (SELECT tok, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        FROM p WHERE pn <= $PostingsPerToken GROUP BY tok)
      SELECT sel.rk, sel.tok, sel.df, pl.postings
      FROM sel JOIN pl ON sel.tok = pl.tok ORDER BY sel.rk"""),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("tok"))
        .distinct()
      val f = t.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val sel = f.orderBy(col("df").desc, col("tok")).limit(IndexTopTokens)
        .withColumn("rk", row_number().over(Window.orderBy(col("df").desc, col("tok"))))
      val p = t.join(sel.select(col("tok")), Seq("tok"))
        .withColumn("pn", row_number().over(
          Window.partitionBy(col("tok")).orderBy(col("doc_id"))))
        .filter(col("pn") <= PostingsPerToken)
      val pl = p.groupBy(col("tok"))
        .agg(concat_ws(",", transform(array_sort(collect_list(
          struct(col("doc_id")))), x => x.getField("doc_id").cast("string"))).as("postings"))
      sel.join(pl, Seq("tok"))
        .select(col("rk"), col("tok"), col("df"), col("postings"))
        .orderBy(col("rk"))
    })

  // ------------------------------------------------ tokenizer fertility
  /** corpus_tokenizer_fertility (r8): per language, the ratio of
    * BPE-ish regex tokens to whitespace words — "fertility", the
    * tokenizer-efficiency readout every multilingual training run
    * budgets by (a language at fertility 2 pays twice the context
    * window per word; fertility skew IS the under-served-language
    * signal, Rust et al. 2021). Reuses the exact [[tokens]] token
    * expressions, so the per-doc counts are the already-gated ones;
    * ONE lang-grain aggregate of exact integers; the ratio is a
    * single IEEE division (not round6Ratio — corpus-scale token sums
    * exceed its 4.6e12 headroom), unrounded. */
  val tokenizerFertility = QueryDef(
    "corpus_tokenizer_fertility",
    Some(s"""WITH t AS (SELECT lang,
        len(string_split(${normTextSql("text")}, ' ')) AS ws,
        len(regexp_extract_all(lower(text), '$TokRe')) AS re
        FROM documents)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(ws) AS BIGINT) AS n_words, CAST(sum(re) AS BIGINT) AS n_tokens,
        CAST(sum(re) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) AS fertility
      FROM t GROUP BY lang ORDER BY lang"""),
    (s, d) => Tables.documents(s, d)
      .select(col("lang"),
        size(split(normText(col("text")), " ")).as("ws"),
        size(regexp_extract_all(lower(col("text")), lit(TokRe), lit(0))).as("re"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("ws")).cast("long").as("n_words"),
        sum(col("re")).cast("long").as("n_tokens"))
      .selectExpr("lang", "n_docs", "n_words", "n_tokens",
        "CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility")
      .orderBy(col("lang")))

  // --------------------------------------------------- novelty curve
  /** Ingest batches of this many doc_ids — the novelty curve's x-axis
    * grain (the synthetic corpus has no ingest timestamp; contiguous
    * id ranges stand in for crawl batches). */
  val NoveltyBatch = 50

  /** text_novelty_curve: per-ingest-batch NEW-shingle fraction — is
    * the crawl still contributing novel content, or re-fetching what
    * the corpus already holds? (the freshness curve a data team reads
    * before paying for the next crawl round; novelty decay is the
    * standard web-scale dedup observation). A shingle is NEW in the
    * first batch (`doc_id div 50`) that contains it; per batch:
    * distinct shingles seen, how many were first seen there, and the
    * 6-dp novelty rate (CASE-guarded for shingle-free batches
    * identically in both engines).
    *
    * 100 TB shape: the corpus explodes to (batch, shingle-hash)
    * DISTINCT pairs (8-byte longs via the native
    * `graft_word_shingles`, the dup_ngram lesson) — ONE shingle-keyed
    * shrinking shuffle; first-batch is a shingle-grain `min`,
    * and both readout aggregates are batch-grain. Nothing quadratic,
    * nothing driver-side. */
  val noveltyCurve = QueryDef(
    "text_novelty_curve",
    Some {
      val k = DupShingleK
      s"""WITH norm AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
        sh AS (SELECT doc_id // $NoveltyBatch AS batch,
            unnest(list_transform(${Portable.wordShinglesSql("toks", k)},
            s -> ${Portable.h60Sql("s")})) AS h
          FROM norm WHERE len(toks) >= $k),
        bs AS (SELECT DISTINCT batch, h FROM sh),
        fb AS (SELECT h, min(batch) AS fbatch FROM bs GROUP BY h),
        tot AS (SELECT batch, CAST(count(*) AS BIGINT) AS n_shingles FROM bs GROUP BY batch),
        nw AS (SELECT fbatch AS batch, CAST(count(*) AS BIGINT) AS n_new FROM fb GROUP BY fbatch),
        nd AS (SELECT doc_id // $NoveltyBatch AS batch, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY 1)
        SELECT nd.batch, nd.n_docs,
          coalesce(tot.n_shingles, 0) AS n_shingles,
          coalesce(nw.n_new, 0) AS n_new,
          CASE WHEN coalesce(tot.n_shingles, 0) > 0
            THEN ${graft.Portable.round6RatioDuck("coalesce(nw.n_new, 0)", "tot.n_shingles")} END AS novelty_rate
        FROM nd LEFT JOIN tot ON nd.batch = tot.batch
          LEFT JOIN nw ON nd.batch = nw.batch
        ORDER BY nd.batch"""
    },
    (s, d) => noveltyCurveOf(Tables.documents(s, d).select(col("doc_id"), col("text"))))

  /** Novelty curve over a (doc_id, text) frame — [[noveltyCurve]]. */
  def noveltyCurveOf(docs: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val k = DupShingleK
    Natives.ensure(docs.sparkSession)
    val bs = scope.persist(docs
      .select(expr(s"doc_id div $NoveltyBatch").as("batch"),
        explode(graft.functions.WordShingles.hashes(normText(col("text")), k)).as("h"))
      .distinct())
    val fb = bs.groupBy(col("h")).agg(min(col("batch")).as("fbatch"))
    val tot = bs.groupBy(col("batch")).agg(count(lit(1)).cast("long").as("n_shingles"))
    val nw = fb.groupBy(col("fbatch").as("batch")).agg(count(lit(1)).cast("long").as("n_new"))
    val nd = docs.select(expr(s"doc_id div $NoveltyBatch").as("batch"))
      .groupBy(col("batch")).agg(count(lit(1)).cast("long").as("n_docs"))
    nd.join(broadcast(tot), Seq("batch"), "left")
      .join(broadcast(nw), Seq("batch"), "left")
      .selectExpr("batch", "n_docs",
        "coalesce(n_shingles, CAST(0 AS BIGINT)) AS n_shingles",
        "coalesce(n_new, CAST(0 AS BIGINT)) AS n_new",
        s"""CASE WHEN coalesce(n_shingles, CAST(0 AS BIGINT)) > 0
          THEN ${graft.Portable.round6RatioSpark("coalesce(n_new, CAST(0 AS BIGINT))", "n_shingles")} END AS novelty_rate""")
      .orderBy(col("batch"))
  }

  // --------------------------------------------- boilerplate fraction
  /** A sentence is boilerplate when it appears in at least this many
    * documents (the CCNet-style absolute df threshold; web pipelines
    * use a handful of repeats as the cut). */
  val BoilerplateDf = 3

  /** text_boilerplate_fraction: SENTENCE-level duplication per doc —
    * the CCNet/RefinedWeb paragraph-dedup readout (doc-level near-dup
    * misses the nav bars, cookie banners, and license footers that
    * repeat across otherwise-distinct pages; those are removed at the
    * LINE grain). Text splits on sentence punctuation, sentences
    * normalize + hash to 8-byte longs, a sentence with document
    * frequency ≥ 3 is boilerplate, and each doc reports its sentence
    * count, boilerplate count, and 6-dp fraction.
    *
    * 100 TB shape: the dup_ngram shape at sentence grain — explode to
    * DISTINCT (doc, sentence-hash), ONE hash-keyed shrinking df
    * aggregate, per-doc attribution via a doc-keyed join of the ≥df
    * hash set (never joined on the hot sentence value itself); all
    * shuffles carry longs. */
  val boilerplateFraction = QueryDef(
    "text_boilerplate_fraction",
    Some(s"""WITH sraw AS (SELECT doc_id,
        unnest(string_split_regex(text, '[.!?]+')) AS s FROM documents),
      sn AS (SELECT DISTINCT doc_id, ${Portable.h60Sql(s"(${normTextSql("s")})")} AS h
        FROM sraw WHERE ${normTextSql("s")} <> ''),
      df AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM sn GROUP BY h),
      per AS (SELECT sn.doc_id, CAST(count(*) AS BIGINT) AS n_sent,
          CAST(sum(CASE WHEN df.df >= $BoilerplateDf THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
        FROM sn JOIN df ON sn.h = df.h GROUP BY sn.doc_id)
      SELECT doc_id, n_sent, n_boiler,
        ${graft.Portable.round6RatioDuck("n_boiler", "n_sent")} AS boiler_fraction
      FROM per ORDER BY doc_id"""),
    (s, d) => boilerplateOf(Tables.documents(s, d).select(col("doc_id"), col("text"))))

  /** Sentence-level boilerplate readout over (doc_id, text) —
    * see [[boilerplateFraction]]. */
  def boilerplateOf(docs: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val sn = scope.persist(docs
      .select(col("doc_id"), explode(split(col("text"), "[.!?]+")).as("s"))
      .select(col("doc_id"), normText(col("s")).as("ns"))
      .filter(col("ns") =!= "")
      .select(col("doc_id"), Portable.h60(col("ns")).as("h"))
      .distinct())
    val hot = sn.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= BoilerplateDf)
      .select(col("h"), lit(1L).as("hit"))
    sn.join(hot, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_sent"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_boiler"))
      .selectExpr("doc_id", "n_sent", "n_boiler",
        s"${graft.Portable.round6RatioSpark("n_boiler", "n_sent")} AS boiler_fraction")
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------ span-dedup rewrite
  /** A sentence span is excised when it appears in at least this many
    * documents (same absolute df cut as [[BoilerplateDf]]). */
  val SpanDf = 3

  /** text_dedup_spans: repeated-span REMOVAL — the rewrite stage that
    * [[boilerplateFraction]] only measures (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022: the recipe
    * ends with EXCISING the repeated span, not flagging the doc;
    * CCNet drops duplicated paragraphs the same way). Text splits on
    * sentence punctuation, a sentence with corpus document frequency
    * ≥ [[SpanDf]] is cut, and the doc is reassembled from its
    * surviving sentences in original order with canonical `'.'`
    * re-punctuation (surviving sentence CONTENT is byte-preserved;
    * delimiter runs are not — the fixture pins a doc whose organic
    * text survives byte-identical while the planted footer vanishes).
    *
    * 100 TB shape: explode → DISTINCT (doc, sentence-hash) → ONE
    * hash-keyed shrinking df aggregate → the ≥df hash set joined back
    * on 8-byte longs (each (doc, pos) row matches ≤ 1 hot row — never
    * a join on the hot sentence STRING) → one doc-keyed reassembly
    * aggregate. The corpus text is shuffled exactly once (the
    * reassembly), which any rewrite owes; everything else carries
    * longs. */
  def dedupSpans(docs: DataFrame, textCol: String = "text", k: Int = SpanDf)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val segs = scope.persist(docs
      .select(col("doc_id"), posexplode(split(col(textCol), "[.!?]+")).as(Seq("pos", "seg")))
      .withColumn("ns", normText(col("seg")))
      .filter(col("ns") =!= "")
      .select(col("doc_id"), col("pos"), col("seg"), Portable.h60(col("ns")).as("h")))
    val hot = segs.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= k)
      .select(col("h"), lit(1L).as("hit"))
    segs.join(hot, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_sent"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).cast("long").as("n_dropped"),
        // collect_list skips nulls → survivors only; array_sort on the
        // (pos, seg) struct restores original order (collect order is
        // shuffle-dependent — the text_keyphrases discipline)
        array_join(
          transform(
            array_sort(collect_list(when(col("hit").isNull, struct(col("pos"), col("seg"))))),
            x => x.getField("seg")),
          ".").as("rewritten"))
  }

  /** The gate's footer plant (two high-df footers: every doc / every
    * even doc) — engine-portable SQL shared by `text_dedup_spans`,
    * `pipeline_crawl_ingest`, and their oracles (the pii-scrub
    * planting recipe; the synthetic corpus carries no punctuation). */
  val FooterPlantSql: String = "text || '. Subscribe to our newsletter today' || " +
    "(CASE WHEN doc_id % 2 = 0 THEN '. All rights reserved' ELSE '' END)"

  /** Oracle-side span-excision CTE chain over a `rel(doc_id, t)`
    * relation, ending in `m(doc_id, pos, seg, hit)` — shared by the
    * `text_dedup_spans` oracle and the composed `pipeline_crawl_ingest`
    * oracle (which runs it over the URL-dedup survivor set). */
  def spanExciseCtesDuck(rel: String): String =
    s"""l AS (SELECT doc_id, string_split_regex(t, '[.!?]+') AS segs FROM $rel),
      e0 AS (SELECT doc_id, i AS pos, segs[i] AS seg
        FROM l, unnest(range(1, len(segs) + 1)) AS r(i)),
      e AS (SELECT doc_id, pos, seg, ${Portable.h60Sql(s"(${normTextSql("seg")})")} AS h
        FROM e0 WHERE ${normTextSql("seg")} <> ''),
      hot AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM e)
        GROUP BY h HAVING count(*) >= $SpanDf),
      m AS (SELECT e.doc_id, e.pos, e.seg,
          CASE WHEN hot.h IS NULL THEN 0 ELSE 1 END AS hit
        FROM e LEFT JOIN hot ON e.h = hot.h)"""

  val dedupSpansQuery = QueryDef(
    "text_dedup_spans",
    Some {
      val plant = FooterPlantSql
      s"""WITH p AS (SELECT doc_id, $plant AS t FROM documents),
        ${spanExciseCtesDuck("p")}
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sent,
          CAST(sum(hit) AS BIGINT) AS n_dropped,
          md5(coalesce(string_agg(CASE WHEN hit = 0 THEN seg END, '.' ORDER BY pos), '')) AS rewrite_md5
        FROM m GROUP BY doc_id ORDER BY doc_id"""
    },
    (s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(". Subscribe to our newsletter today"),
          when(col("doc_id") % 2 === 0, ". All rights reserved").otherwise("")).as("t"))
      dedupSpans(planted, "t")
        .select(col("doc_id"), col("n_sent"), col("n_dropped"),
          md5(col("rewritten")).as("rewrite_md5"))
        .orderBy(col("doc_id"))
    })

  // ------------------------------------------- intra-doc repetition
  /** text_repetition: INTRA-document n-gram repetition signals — the
    * Gopher repetition filters (Rae et al. 2021, table A1: "fraction
    * of duplicate n-grams") that `text_dup_ngram_fraction` does NOT
    * cover (that one flags CROSS-doc shingle overlap; a doc that
    * repeats its own sentence loops past it). Per doc: token count,
    * bigram/trigram counts, and the 6-dp duplicate fraction
    * `(n_ngrams − n_distinct) / n_ngrams` at n = 2 and 3 — high values
    * flag keyword-stuffing/loop artifacts, the docs an LLM pipeline
    * drops before training.
    *
    * 100 TB shape: pure per-row array arithmetic (split → sliding
    * concat → array_distinct sizes) inside whole-stage codegen — ZERO
    * shuffle at any corpus size (the `text_diversity` plan shape); the
    * ORDER BY exists only for the oracle compare. Exact integers into
    * `round6Ratio`, so both engines agree bit-for-bit. */
  val repetition = QueryDef(
    "text_repetition",
    Some {
      def grams(n: Int) = {
        val parts = (0 until n).map(o => if (o == 0) "toks[i]" else s"toks[i+$o]").mkString(" || ' ' || ")
        s"list_transform(range(1, len(toks) - ${n - 2}), i -> $parts)"
      }
      s"""WITH t AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
        g AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
            CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n2,
            CAST(len(list_distinct(${grams(2)})) AS BIGINT) AS d2,
            CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS n3,
            CAST(len(list_distinct(${grams(3)})) AS BIGINT) AS d3
          FROM t)
        SELECT doc_id, n_tokens,
          CASE WHEN n2 > 0 THEN ${graft.Portable.round6RatioDuck("(n2 - d2)", "n2")} END AS dup_bigram_frac,
          CASE WHEN n3 > 0 THEN ${graft.Portable.round6RatioDuck("(n3 - d3)", "n3")} END AS dup_trigram_frac
        FROM g ORDER BY doc_id"""
    },
    (s, d) => repetitionOf(Tables.documents(s, d).select(col("doc_id"), col("text"))))

  /** Per-doc intra-repetition signals over (doc_id, text) — [[repetition]]. */
  def repetitionOf(docs: DataFrame): DataFrame = {
    // sequence(1, 0) DESCENDS in Spark (auto-step −1) where DuckDB's
    // end-exclusive range(1, 1) is empty — short docs need the guard
    def grams(toks: Column, n: Int): Column =
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
        .otherwise(array().cast("array<string>"))
    docs
      .select(col("doc_id"), split(normText(col("text")), " ").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        greatest(size(col("toks")) - 1, lit(0)).cast("long").as("n2"),
        size(array_distinct(grams(col("toks"), 2))).cast("long").as("d2"),
        greatest(size(col("toks")) - 2, lit(0)).cast("long").as("n3"),
        size(array_distinct(grams(col("toks"), 3))).cast("long").as("d3"))
      .selectExpr("doc_id", "n_tokens",
        s"CASE WHEN n2 > 0 THEN ${graft.Portable.round6RatioSpark("(n2 - d2)", "n2")} END AS dup_bigram_frac",
        s"CASE WHEN n3 > 0 THEN ${graft.Portable.round6RatioSpark("(n3 - d3)", "n3")} END AS dup_trigram_frac")
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------- collocations
  /** Minimum adjacent-pair support for [[collocations]] — pairs seen
    * fewer times are PMI noise (a hapax pair has maximal PMI by
    * construction; Church & Hanks' original caveat). LITERAL shared
    * with the oracle. */
  val CollocMinSupport = 3

  /** text_collocations: PMI collocation mining over adjacent token
    * pairs (Church & Hanks 1990 — the association-mining staple that
    * surfaces multi-word expressions: "ipsum lorem" scores far above
    * chance, "the of" far below): PMI = ln(P(a,b)/(P(a)·P(b))) with
    * P(a,b) = c_ab/N_pairs over adjacent SLOTS and P(w) = c_w/N_tok
    * over token occurrences. The RANKING never touches libm: it
    * orders on the lift c_ab·N²_tok/(c_a·c_b·N_pairs) evaluated as a
    * fixed-order IEEE tree over exact BIGINTs (bit-identical across
    * engines — ranking on the rounded ln would put a library ulp on
    * every near-tie), ties on (a, b); the surfaced `pmi` is the
    * 12-dp-rounded ln of that same tree. Pairs below
    * [[CollocMinSupport]] drop before any join.
    *
    * 100 TB shape: the bigram fan-out is a map-only per-row array
    * transform (the sequence(1, size−1) short-array trap guarded —
    * Spark DESCENDS on empty ranges); ONE pair-grain count aggregate
    * + ONE token-grain count aggregate; marginals join at vocab
    * grain; the two scalars broadcast; top-20 via
    * TakeOrderedAndProject. The corpus is never self-joined. */
  val collocations = QueryDef(
    "text_collocations",
    Some {
      val lift = "CAST(cab AS DOUBLE) * CAST(n_tok AS DOUBLE) / CAST(ca AS DOUBLE)" +
        " * CAST(n_tok AS DOUBLE) / CAST(cb AS DOUBLE) / CAST(n_pairs AS DOUBLE)"
      s"""WITH t AS (SELECT string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
      ug AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
      pr AS (SELECT unnest(CASE WHEN len(toks) >= 2
          THEN list_transform(generate_series(1, len(toks) - 1),
            i -> struct_pack(a := toks[i], b := toks[i + 1]))
          ELSE [] END) AS p FROM t),
      pc AS (SELECT p.a AS a, p.b AS b, CAST(count(*) AS BIGINT) AS cab
        FROM pr GROUP BY p.a, p.b),
      nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM ug),
      np AS (SELECT CAST(sum(cab) AS BIGINT) AS n_pairs FROM pc),
      j AS (SELECT a, b, cab, ua.c AS ca, ub.c AS cb
        FROM pc JOIN ug ua ON pc.a = ua.w JOIN ug ub ON pc.b = ub.w
        WHERE cab >= $CollocMinSupport),
      res AS (SELECT a, b, cab, ca, cb, $lift AS lift,
          round(ln($lift), 12) AS pmi
        FROM j, nt, np)
      SELECT a, b, cab, ca, cb, lift, pmi FROM res
      ORDER BY lift DESC, a, b LIMIT 20"""
    },
    (s, d) => collocationsTopK(Tables.documents(s, d).select(col("text"))))

  /** The [[collocations]] computation over any single-text-column
    * frame — see the QueryDef for semantics and the scale argument. */
  def collocationsTopK(docs: DataFrame, k: Int = 20,
      minSupport: Int = CollocMinSupport)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val tP = scope.persist(docs.select(split(normText(col("text")), " ").as("toks")))
    val ug = scope.persist(tP.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("c")))
    val pc = scope.persist(tP.selectExpr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1)," +
          " i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))" +
          " ELSE array() END AS ps")
      .select(explode(col("ps")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).cast("long").as("cab")))
    val nt = Small(ug.agg(sum(col("c")).cast("long").as("n_tok")), 1, "token total")
    val np = Small(pc.agg(sum(col("cab")).cast("long").as("n_pairs")), 1, "pair total")
    val lift = "CAST(cab AS DOUBLE) * CAST(n_tok AS DOUBLE) / CAST(ca AS DOUBLE)" +
      " * CAST(n_tok AS DOUBLE) / CAST(cb AS DOUBLE) / CAST(n_pairs AS DOUBLE)"
    pc.filter(col("cab") >= minSupport)
      .join(ug.select(col("w").as("a"), col("c").as("ca")), Seq("a"))
      .join(ug.select(col("w").as("b"), col("c").as("cb")), Seq("b"))
      .crossJoin(broadcast(nt)).crossJoin(broadcast(np))
      .selectExpr("a", "b", "cab", "ca", "cb", s"$lift AS lift",
        s"round(ln($lift), 12) AS pmi")
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(k)
  }

  // ------------------------------------------------- feature hashing
  /** Hashing-trick dimensionality (2⁹ — small enough that the gate's
    * synthetic vocabulary populates most dims, the realistic regime
    * for collision stats; production would use 2¹⁸+). */
  val HashDims = 512

  /** text_hash_features: the hashing-trick featurizer census
    * (Weinberger et al. 2009, "Feature Hashing for Large Scale
    * Multitask Learning" — the fixed-width, vocabulary-free text
    * featurization every linear/logistic stage at corpus scale uses:
    * no vocab dictionary to build, broadcast, or keep consistent
    * across batches): token → dim = h(tok) mod D, sign from the next
    * hash bit (the sklearn `alternate_sign` construction — collisions
    * cancel in expectation instead of accumulating), per-dim census of
    * distinct tokens (collision count), total tf, and the signed sum a
    * downstream model would read as the feature value. Top-20 dims by
    * mass, total order (tf, dim) so the cut is deterministic.
    *
    * 100 TB shape: ONE corpus scan → map-combinable (token) counts
    * (vocab-bounded shuffle); md5 runs ONCE per DISTINCT token at
    * vocab grain, not per occurrence; the dim aggregate shuffles ≤ D
    * keys. Every hash op is the portable h60 + exact integer div/mod
    * (nonnegative, so truncation semantics agree cross-engine). */
  def hashFeaturesOf(docs: DataFrame, dims: Int = HashDims, topK: Int = 20): DataFrame = {
    val tc = docs
      .select(explode(split(normText(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).cast(LongType).as("tf"))
    tc.select(col("tf"), Portable.h60(col("tok")).as("h"))
      .selectExpr("tf", s"h % $dims AS dim",
        s"CASE WHEN (h div $dims) % 2 = 0 THEN 1 ELSE -1 END AS sg")
      .groupBy(col("dim"))
      .agg(count(lit(1)).cast(LongType).as("n_tokens"),
        sum(col("tf")).cast(LongType).as("total_tf"),
        sum(col("sg") * col("tf")).cast(LongType).as("signed_sum"))
      .orderBy(col("total_tf").desc, col("dim"))
      .limit(topK)
  }

  val hashFeatures = QueryDef(
    "text_hash_features",
    Some(s"""WITH t AS (SELECT unnest(string_split(${normTextSql("text")}, ' ')) AS tok FROM documents),
      tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM t WHERE tok <> '' GROUP BY tok),
      hh AS (SELECT tf, h % $HashDims AS dim,
          CASE WHEN (h // $HashDims) % 2 = 0 THEN 1 ELSE -1 END AS sg
        FROM (SELECT tf, ${Portable.h60Sql("tok")} AS h FROM tc)),
      d AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(sum(tf) AS BIGINT) AS total_tf, CAST(sum(sg * tf) AS BIGINT) AS signed_sum
        FROM hh GROUP BY dim)
      SELECT dim, n_tokens, total_tf, signed_sum FROM d
      ORDER BY total_tf DESC, dim LIMIT 20"""),
    (s, d) => hashFeaturesOf(Tables.documents(s, d).select(col("text"))))

  val defs: Seq[QueryDef] = Seq(tokens, quality, langid, fingerprint,
    dupNgramFraction, lengthHistogram, piiScrub, diversity, readability,
    entropy, keyphrases, invertedIndex, tokenizerFertility, noveltyCurve,
    boilerplateFraction, dedupSpansQuery, repetition, collocations,
    hashFeatures, langidEval)
}
