package graft.functions

import graft.{Portable, QueryDef, Small, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-level text/vector statistics (SURVEY.md §2.5 extension):
  * global token frequencies and per-label embedding centroids. Both
  * are the canonical map-side-combine shapes: explode → partial agg →
  * single shuffle on the small key domain.
  */
object Corpus {
  import Portable.{normText, normTextSql}

  /** Exact corpus token frequency top-20 (count + doc frequency).
    * Explode shuffles only (token, partial-count) pairs thanks to
    * map-side combine; the heavy-hitter sketch variant
    * (`TopKSketchSpec`) replaces the shuffle with a mergeable
    * fixed-size summary for the 100 TB path. */
  val topTokens = QueryDef(
    "text_top_tokens",
    Some(s"""WITH t AS (SELECT doc_id, unnest(string_split(${normTextSql("text")}, ' ')) AS tok FROM documents),
      f AS (SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
      r AS (SELECT tok, n, df, row_number() OVER (ORDER BY n DESC, tok) AS rk FROM f)
      SELECT rk, tok, n, df FROM r WHERE rk <= 20 ORDER BY rk"""),
    (s, d) => {
      // orderBy().limit(k) compiles to TakeOrderedAndProject (per-partition
      // top-k + driver merge of k*P rows) — no single-partition global
      // window. rank is assigned after the limit, over only k rows.
      val top = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)
      top
        .withColumn("rk", row_number().over(Window.orderBy(col("n").desc, col("tok"))))
        .select(col("rk"), col("tok"), col("n"), col("df"))
        .orderBy(col("rk"))
    })

  /** Per-label embedding centroid: position-wise decimal-exact mean
    * via the native vector-sum aggregate
    * ([[graft.functions.VecSumDec]] — one dim-length buffer per
    * partition per label instead of corpus×dim posexploded rows), the
    * tiny per-label result array exploded only for the output shape.
    * Shuffles labels×1 partials only. */
  val centroids = QueryDef(
    "vec_centroids",
    Some("""WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      p AS (SELECT label, i, v[i] AS x FROM v, (SELECT unnest(range(1, 65)) AS i))
      SELECT label, i AS pos,
        round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS mean_x
      FROM p GROUP BY label, i ORDER BY label, pos"""),
    (s, d) => {
      Natives.ensure(s)
      Tables.embeddings(s, d)
        .select(col("label"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .groupBy(col("label"))
        .agg(call_function("graft_vecsum_dec", col("v")).as("sv"))
        .select(col("label"),
          posexplode(expr("zip_with(sv.sum, sv.cnt, (x, c) -> round(CAST(x AS DOUBLE) / c, 6))")).as(Seq("pos0", "mean_x")))
        .select(col("label"), (col("pos0") + 1).as("pos"), col("mean_x"))
        .orderBy(col("label"), col("pos"))
    }, bench = false)

  /** Corpus bigram frequency top-15 (n-gram language statistics —
    * the building block of n-gram LM scoring / contamination checks).
    * Non-distinct windows: frequency needs every occurrence. */
  val topBigrams = QueryDef(
    "text_top_bigrams",
    Some(s"""WITH t AS (SELECT string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
      b AS (SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t),
      f AS (SELECT bigram, count(*) AS n FROM b GROUP BY bigram),
      r AS (SELECT bigram, n, row_number() OVER (ORDER BY n DESC, bigram) AS rk FROM f)
      SELECT rk, bigram, n FROM r WHERE rk <= 15 ORDER BY rk"""),
    (s, d) => {
      // Same TakeOrderedAndProject shape as topTokens — see note there.
      val top = Tables.documents(s, d)
        .select(split(normText(col("text")), " ").as("toks"))
        .select(explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))")).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(15)
      top
        .withColumn("rk", row_number().over(Window.orderBy(col("n").desc, col("bigram"))))
        .select(col("rk"), col("bigram"), col("n"))
        .orderBy(col("rk"))
    }, bench = false)

  /** Per-document top-5 TF-IDF terms (keyword extraction / RAG index
    * metadata). The idf factor is the LOG-FREE ratio
    * `(N + 1) / (df + 1)`: `ln` is correctly-rounded in neither JVM
    * nor DuckDB (last-ulp divergence would break the hash gate), while
    * IEEE division is exact-rounded in both — and since `ln` is
    * monotone, the per-doc ranking is IDENTICAL to the textbook
    * `tf·ln(idf)`; only the displayed score differs (documented
    * contract, round(6) on output).
    *
    * Scale shape: three key-local shuffles, each on a shrinking
    * domain — (doc, tok) partial-count, tok-keyed df aggregate over
    * the already-collapsed tf table (vocabulary scale, not corpus
    * scale), and the doc-keyed top-k window. The corpus-count N rides
    * in as a broadcast one-row aggregate, never a driver action. The
    * df join-back keys on tok: a stopword is a hot key, but its fan-in
    * is the DISTINCT doc count, already collapsed by the tf aggregate
    * (bounded by n_docs, no per-occurrence rows), and AQE skew-split
    * covers the residual imbalance. */
  val tfidfTopK = QueryDef(
    "text_tfidf_topk",
    Some(s"""WITH t AS (SELECT doc_id, unnest(string_split(${normTextSql("text")}, ' ')) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
      idf AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      n AS (SELECT count(*) AS n FROM documents),
      s AS (SELECT doc_id, tok,
          tf * ((CAST(n AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) AS score
        FROM tf JOIN idf USING (tok), n),
      r AS (SELECT doc_id, tok, score,
          row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rk FROM s)
      SELECT doc_id, rk, tok, round(score, 6) AS tfidf FROM r
      WHERE rk <= 5 ORDER BY doc_id, rk"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val idf = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
      tf.join(idf, Seq("tok"))
        .crossJoin(broadcast(n))
        .withColumn("score",
          col("tf") * ((col("n").cast(DoubleType) + 1.0) / (col("df").cast(DoubleType) + 1.0)))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("rk"), col("tok"), round(col("score"), 6).as("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    })

  /** Per-document token-rarity quality signal (the integer-exact
    * analog of CCNet's LM-perplexity filter): mean corpus frequency of
    * the doc's tokens, occurrence-weighted. A high mean flags
    * stopword-/template-heavy docs, a very low mean flags
    * gibberish/rare-token noise — the two tails a quality gate trims.
    * All accumulation is exact integer (`tf·cnt` sums); the only
    * floating-point op is ONE final IEEE division, exact-rounded
    * identically in both engines (the same contract as
    * [[tfidfTopK]]'s log-free idf).
    *
    * Scale shape: the same shrinking-key ladder as tf-idf — (doc, tok)
    * partial count, vocabulary-scale corpus-count aggregate over the
    * collapsed tf table, tok-keyed join-back whose hot-key fan-in is
    * bounded by distinct docs (never per-occurrence rows), doc-keyed
    * final aggregate. No broadcast needed: every stage is
    * map-side-combinable. */
  val rarityScore = QueryDef(
    "text_rarity_score",
    Some(s"""WITH t AS (SELECT doc_id, unnest(string_split(${normTextSql("text")}, ' ')) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
      cnt AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY tok)
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        CAST(sum(tf * cnt) AS BIGINT) AS sum_freq,
        round(CAST(sum(tf * cnt) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6) AS mean_tok_freq
      FROM tf JOIN cnt USING (tok)
      GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val cnt = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
      tf.join(cnt, Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(col("tf") * col("cnt")).as("sum_freq"),
          round(sum(col("tf") * col("cnt")).cast(DoubleType)
            / sum(col("tf")).cast(DoubleType), 6).as("mean_tok_freq"))
        .orderBy(col("doc_id"))
    })

  /** The composed training-data pipeline: quality gate → exact dedup
    * (keep min id) → per-language corpus stats. One pass of narrow
    * ops + two hash shuffles (dedup hash, final group) — the shape of
    * a real 100 TB ingest job, verified end-to-end against a single
    * DuckDB CTE chain. */
  val qualityDedupPipeline = QueryDef(
    "pipeline_quality_dedup",
    Some(s"""WITH t AS (SELECT doc_id, lang, n_chars, ${normTextSql("text")} AS s,
          string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
      q AS (SELECT * FROM t WHERE len(toks) BETWEEN 20 AND 80
            AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.3),
      k AS (SELECT md5(s) AS h, min(doc_id) AS keep_id FROM q GROUP BY h),
      kept AS (SELECT q.* FROM q JOIN k ON q.doc_id = k.keep_id)
      SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        round(CAST(sum(len(toks)) AS DOUBLE) / count(*), 6) AS avg_tokens
      FROM kept GROUP BY lang ORDER BY lang"""),
    (s, d) => {
      val toks = split(normText(col("text")), " ")
      val filtered = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"), toks.as("toks"))
        .filter(size(col("toks")).between(20, 80) &&
          size(array_distinct(col("toks"))).cast(DoubleType) / size(col("toks")) >= 0.3)
      graft.dedup.DedupApi.exactKeep(filtered, "doc_id", "text")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          round(sum(size(col("toks"))).cast(DoubleType) / count(lit(1)), 6).as("avg_tokens"))
        .orderBy(col("lang"))
    }, bench = false)

  // ---------------------------------------------------------- BPE merges
  /** Number of gated BPE merge rounds. */
  val BpeRounds = 5
  /** Token separator inside the merge representation: U+001F (unit
    * separator) cannot occur in normalized text. Boundaries between
    * tokens carry TWO separators and each end one, so a pair pattern
    * `␟a␟␟b␟` consumes one separator from each side and leaves the
    * neighbor boundary intact — adjacent occurrences (`a b a b`) all
    * merge in a single left-to-right `replace` pass, exactly the
    * non-overlapping greedy application real BPE training uses (a
    * single-separator encoding would consume the shared boundary and
    * silently skip every second occurrence). */
  private val BSep = "\u001F"

  /** Byte-pair-encoding merge training, the first [[BpeRounds]] merges
    * (Sennrich et al. ACL'16 — THE subword-tokenizer-training op a
    * training-data engine owes its users): word-frequency table →
    * per-word character sequence → iteratively merge the corpus-wide
    * most frequent adjacent symbol pair (count DESC, then
    * lexicographic pair — a deterministic total order).
    *
    * 100 TB shape: the corpus is touched ONCE (the word-count
    * aggregate, shrinking-key); every round then runs on the DISTINCT-
    * WORD table (vocabulary-scale, persisted) — pair extraction is a
    * bounded per-word explode, the pair count a map-side-combinable
    * aggregate, the winning pair ONE broadcast row, and the merge
    * application a map-only `replace`. This is exactly how production
    * BPE trainers scale: state lives at vocab grain, never corpus
    * grain. Determinism: exact integer counts, the (n DESC, a, b)
    * tie-break, and `replace`'s left-to-right non-overlapping scan —
    * identical in DuckDB, so the oracle replays the same rounds. */
  /** Shared oracle prefix: the `WITH` chain that trains [[BpeRounds]]
    * merge rounds in DuckDB — `w` (word counts), `r0` (char split),
    * then `p_t`/`m_t`/`r_t` per round; `r$BpeRounds` holds every
    * word's final encoded representation. Both the merge gate and the
    * encode gate compose on top, so the two oracles agree on the
    * training by construction. */
  private def bpeOracleCtes: String = {
    val s1 = "chr(31)"
    val s2 = "chr(31) || chr(31)"
    val sb = new StringBuilder(
      s"""WITH w AS (SELECT tok AS word, count(*) AS cnt FROM (
          SELECT unnest(string_split(${normTextSql("text")}, ' ')) AS tok FROM documents) t
        WHERE tok <> '' GROUP BY tok),
      r0 AS (SELECT word, cnt,
          $s1 || array_to_string(list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)), $s2) || $s1 AS rep
        FROM w)""")
    for (t <- 1 to BpeRounds) {
      sb.append(s""",
      p$t AS (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS n FROM (
          SELECT cnt, toks[i] AS a, toks[i + 1] AS b FROM (
            SELECT cnt, toks, unnest(range(1, len(toks))) AS i FROM (
              SELECT cnt, string_split(substr(rep, 2, length(rep) - 2), $s2) AS toks
              FROM r${t - 1}) q0) q1) q2
        GROUP BY a, b),
      m$t AS (SELECT a, b, n FROM p$t ORDER BY n DESC, a, b LIMIT 1),
      r$t AS (SELECT w.word, w.cnt,
          replace(w.rep, $s1 || m.a || $s2 || m.b || $s1, $s1 || m.a || m.b || $s1) AS rep
        FROM r${t - 1} w, m$t m)""")
    }
    sb.toString
  }

  val bpeMerges = QueryDef(
    "corpus_bpe_merges",
    Some(s"""$bpeOracleCtes
      SELECT * FROM (${(1 to BpeRounds).map(t =>
        s"SELECT $t AS step, a AS lhs, b AS rhs, n FROM m$t").mkString(" UNION ALL ")}) z
      ORDER BY step"""),
    (s, d) => bpeTrain(Tables.documents(s, d), "text"))

  /** BPE merge training over `df`'s text column — see [[bpeMerges]]
    * for the algorithm, encoding, and scale shape. Returns one row
    * per merge round: (step, lhs, rhs, n). Rounds whose pair table is
    * empty (every word fully merged) emit no row. */
  def bpeTrain(df: org.apache.spark.sql.DataFrame, text: String, rounds: Int = BpeRounds)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): org.apache.spark.sql.DataFrame =
    bpeCore(df, text, rounds)._1

  /** The vocabulary table after [[bpeTrain]]'s merges: one row per
    * distinct word — (word, cnt, rep) with `rep` the separator-encoded
    * BPE token sequence. This IS the tokenizer: encoding a corpus is a
    * word-keyed join against it. */
  def bpeWordEncoding(df: org.apache.spark.sql.DataFrame, text: String, rounds: Int = BpeRounds)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): org.apache.spark.sql.DataFrame =
    bpeCore(df, text, rounds)._2

  private def bpeCore(df: org.apache.spark.sql.DataFrame, text: String, rounds: Int)(
      implicit scope: graft.CacheScope): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val sep1 = lit(BSep)
    val sep2 = lit(BSep + BSep)
    val words = df
      .select(explode(split(normText(col(text)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    var rep = words.select(col("word"), col("cnt"),
        concat(sep1,
          array_join(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
            BSep + BSep),
          sep1).as("rep"))
      .transform(scope.persist)
    val merges = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    for (t <- 1 to rounds) {
      val toks = rep.select(col("cnt"),
          split(expr("substring(rep, 2, length(rep) - 2)"), BSep + BSep).as("toks"))
        .filter(size(col("toks")) >= 2)
      val pairs = toks.select(col("cnt"),
          explode(expr("transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS a, toks[i + 1] AS b))")).as("p"))
        .select(col("cnt"), col("p.a").as("a"), col("p.b").as("b"))
        .groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("n"))
      // ONE winner row, brought to the driver: both consumers (the
      // merge table and the next round's replace) see the same pair
      val top = Small(pairs.orderBy(col("n").desc, col("a"), col("b")).limit(1), 1, "bpe merge")
      merges += top.select(lit(t).as("step"), col("a").as("lhs"), col("b").as("rhs"), col("n"))
      rep = rep.crossJoin(broadcast(top.select(col("a"), col("b"))))
        .select(col("word"), col("cnt"),
          call_function("replace", col("rep"),
            concat(sep1, col("a"), sep2, col("b"), sep1),
            concat(sep1, col("a"), col("b"), sep1)).as("rep"))
        .transform(scope.persist)
    }
    (merges.reduce(_ unionAll _).orderBy(col("step")), rep)
  }

  // ---------------------------------------------------------- BPE encode
  /** Tokenize the corpus with the merges just trained — the APPLY half
    * of the BPE story (train without encode is a benchmark, not a
    * tokenizer). Each doc reports its word count, BPE token count, and
    * fertility (tokens/word — THE tokenizer-quality metric: lower is
    * better, 1.0 means every word stayed whole... after only
    * [[BpeRounds]] merges most words are still char-split, so gate
    * fertility is high; the metric, not its value, is the product).
    *
    * 100 TB shape: the encoder is the VOCABULARY-grain (word, rep)
    * table — encoding is one word-keyed join of the corpus token
    * stream against it (AQE broadcasts a small vocab; beyond memory it
    * is a key-bounded hash join) + one doc-keyed combinable aggregate.
    * The corpus is touched twice (once for training's word counts,
    * once for encoding), never sorted. The oracle composes the SAME
    * trained `r$BpeRounds` CTE the merge gate verifies, so train and
    * encode agree across engines by construction. */
  val bpeEncode = QueryDef(
    "corpus_bpe_encode",
    Some(s"""$bpeOracleCtes,
      enc AS (SELECT word,
          len(string_split(substr(rep, 2, length(rep) - 2), chr(31) || chr(31))) AS ntok
        FROM r$BpeRounds),
      dw AS (SELECT doc_id, unnest(string_split(${normTextSql("text")}, ' ')) AS word FROM documents)
      SELECT doc_id, count(*) AS n_words, CAST(sum(ntok) AS BIGINT) AS n_bpe_tokens,
        round(CAST(sum(ntok) AS DOUBLE) / count(*), 6) AS fertility
      FROM dw JOIN enc USING (word)
      GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val enc = bpeWordEncoding(docs, "text")
        .select(col("word"),
          size(split(expr("substring(rep, 2, length(rep) - 2)"), BSep + BSep)).as("ntok"))
      docs.select(col("doc_id"), explode(split(normText(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
        .join(enc, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_bpe_tokens"))
        .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
          round(col("n_bpe_tokens").cast(DoubleType) / col("n_words"), 6).as("fertility"))
        .orderBy(col("doc_id"))
    })

  // ---------------------------------------------------- vocab growth
  /** corpus_vocab_growth: Heaps-law audit — cumulative vocabulary vs
    * cumulative token volume over the ingestion order (doc_id
    * deciles). The curve is how corpus builders detect saturation: a
    * flattening tail means new shards stop contributing new types
    * (time to diversify sources); a straight line means the corpus is
    * still under-sampled. 100 TB shape: per-doc token counts are the
    * MAP-ONLY `graft_token_stats` kernel (no explode for the volume
    * axis); the vocabulary axis needs one (token → min doc_id)
    * shrinking-key aggregate — the same ladder as `text_top_tokens` —
    * then everything collapses to TEN bucket rows and the cumulative
    * window runs at metadata scale. All arithmetic is exact integers
    * (`div` bucketing shared with the oracle). */
  val vocabGrowth = QueryDef(
    "corpus_vocab_growth",
    Some(s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
      b AS (SELECT doc_id, (doc_id * 10) // (mx.m + 1) AS bucket,
          len(string_split(${normTextSql("text")}, ' ')) AS nt
        FROM documents, mx),
      pb AS (SELECT bucket, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_toks
        FROM b GROUP BY bucket),
      t AS (SELECT doc_id, unnest(string_split(${normTextSql("text")}, ' ')) AS tok FROM documents),
      fo AS (SELECT tok, min(doc_id) AS fd FROM t GROUP BY tok),
      nv AS (SELECT (fo.fd * 10) // (mx.m + 1) AS bucket, count(*) AS new_vocab
        FROM fo, mx GROUP BY 1)
      SELECT pb.bucket,
        CAST(sum(pb.n_docs) OVER w AS BIGINT) AS cum_docs,
        CAST(sum(pb.n_toks) OVER w AS BIGINT) AS cum_tokens,
        CAST(sum(COALESCE(nv.new_vocab, 0)) OVER w AS BIGINT) AS cum_vocab
      FROM pb LEFT JOIN nv ON pb.bucket = nv.bucket
      WINDOW w AS (ORDER BY pb.bucket ROWS UNBOUNDED PRECEDING)
      ORDER BY pb.bucket"""),
    (s, d) => {
      Natives.ensure(s)
      val docs = Tables.documents(s, d)
      val mx = docs.agg(max(col("doc_id")).as("m"))
      val b = docs.crossJoin(broadcast(mx))
        .select(col("doc_id"), expr("(doc_id * 10) div (m + 1)").as("bucket"),
          TokenStats.of(normText(col("text"))).getField("n_tokens").as("nt"))
      val pb = b.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_toks"))
      val fo = docs
        .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("tok"))
        .groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
      val nv = fo.crossJoin(broadcast(mx))
        .select(expr("(fd * 10) div (m + 1)").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("new_vocab"))
      // ten bucket rows: the global window is metadata scale
      val w = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pb.join(nv, Seq("bucket"), "left")
        .select(col("bucket"),
          sum(col("n_docs")).over(w).as("cum_docs"),
          sum(col("n_toks")).over(w).as("cum_tokens"),
          sum(coalesce(col("new_vocab"), lit(0L))).over(w).as("cum_vocab"))
        .orderBy(col("bucket"))
    })

  // ---------------------------------------------------- version diff
  /** Content-hash diff of two corpus snapshots on (id, fp) frames —
    * the dataset-versioning readout (what changed between crawl N and
    * N+1): ONE id-keyed full-outer join, map-only classification,
    * tiny census. At 100 TB both sides shuffle once on the id — the
    * minimum any diff owes — and fingerprints travel instead of
    * text. */
  def snapshotDiff(v1: org.apache.spark.sql.DataFrame,
      v2: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    v1.as("a").join(v2.as("b"), col("a.doc_id") === col("b.doc_id"), "full_outer")
      .select(when(col("a.fp").isNull, "added")
        .when(col("b.fp").isNull, "removed")
        .when(col("a.fp") === col("b.fp"), "unchanged")
        .otherwise("changed").as("change_type"))
      .groupBy(col("change_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("change_type"))

  /** corpus_version_diff: [[snapshotDiff]] gated end-to-end — v2 is
    * derived from the corpus by shared literal rules (every 7th doc
    * removed, every remaining 5th edited, every 11th cloned as a new
    * id), so the oracle reconstructs the identical second snapshot
    * and the diff census is hash-checked. Fingerprints are the
    * portable h60 over normalized text — the same content identity
    * `dedup_exact` keys on. */
  val versionDiff = QueryDef(
    "corpus_version_diff",
    Some(s"""WITH v1 AS (SELECT doc_id, ${Portable.h60Sql(Portable.normTextSql("text"))} AS fp FROM documents),
      v2 AS (
        SELECT doc_id, ${Portable.h60Sql(Portable.normTextSql("(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END)"))} AS fp
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 10000000, ${Portable.h60Sql(Portable.normTextSql("(text || ' new')"))} AS fp
        FROM documents WHERE doc_id % 11 = 0),
      j AS (SELECT a.fp AS f1, b.fp AS f2
        FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
      SELECT CASE WHEN f1 IS NULL THEN 'added' WHEN f2 IS NULL THEN 'removed'
          WHEN f1 = f2 THEN 'unchanged' ELSE 'changed' END AS change_type,
        count(*) AS n
      FROM j GROUP BY 1 ORDER BY change_type"""),
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val v1 = docs.select(col("doc_id"), Portable.h60(normText(col("text"))).as("fp"))
      val v2 = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), Portable.h60(normText(
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))).as("fp"))
        .unionAll(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            Portable.h60(normText(concat(col("text"), lit(" new")))).as("fp")))
      snapshotDiff(v1, v2)
    })

  // --------------------------------------------------- topic clusters
  /** Hashed-BoW geometry and Lloyd schedule for
    * [[topicClusters]] — shared with the unrolled oracle. */
  val TopicDims = 16
  val TopicK = 4
  val TopicIters = 2

  /** corpus_topic_clusters: unsupervised document clustering with
    * top-term summaries — the corpus-organization staple (feature
    * hashing → k-means → "what is each cluster about"). Doc vectors
    * are [[TopicDims]]-dim token-hash count vectors (the hashing
    * trick, Weinberger et al. 2009 — fixed width at any vocabulary);
    * [[TopicIters]] Lloyd rounds with init `doc_id % k`, per-dim
    * DECIMAL centroid means (`graft_vecsum_dec`, one map-combinable
    * aggregate per round, its few rows collected), and MAP-ONLY L2
    * argmin against them as ONE literal centroid array — d² =
    * x·x − 2·x·m + m·m as shared
    * left-to-right folds, ties to the smallest cell, the
    * `kmeansCells`/`vec_silhouette` determinism recipe. Top terms are
    * one (cluster, token) shrinking-key aggregate over the ALREADY
    * collapsed (doc, token) counts + a per-cluster window (frame ≤
    * distinct tokens). The corpus text is scanned ONCE; every
    * iteration touches only the 16-dim vector table. */
  val topicClusters = QueryDef(
    "corpus_topic_clusters",
    Some {
      val dotVV = s"list_reduce(list_transform(range(1, ${TopicDims + 1}), i -> d.v[i] * d.v[i]), (p, q) -> p + q)"
      val dotVM = s"list_reduce(list_transform(range(1, ${TopicDims + 1}), i -> d.v[i] * k.cm[i]), (p, q) -> p + q)"
      val sb = new StringBuilder(
        s"""WITH t AS (SELECT doc_id, unnest(string_split(${normTextSql("text")}, ' ')) AS tok FROM documents),
        c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok),
        dc AS (SELECT doc_id, ${Portable.h60Sql("tok")} % $TopicDims AS dim, CAST(sum(c) AS DOUBLE) AS x
          FROM c GROUP BY doc_id, ${Portable.h60Sql("tok")} % $TopicDims),
        ds AS (SELECT DISTINCT doc_id FROM documents),
        grid AS (SELECT ds.doc_id, i AS dim FROM ds, (SELECT unnest(range(0, $TopicDims)) AS i)),
        gv AS (SELECT g.doc_id, g.dim, COALESCE(dc.x, 0) AS x
          FROM grid g LEFT JOIN dc ON dc.doc_id = g.doc_id AND dc.dim = g.dim),
        dv AS MATERIALIZED (SELECT doc_id, list(x ORDER BY dim) AS v FROM gv GROUP BY doc_id),
        ka0 AS (SELECT doc_id, doc_id % $TopicK AS cell FROM ds)""")
      for (it <- 1 to TopicIters) {
        sb.append(s""",
        kc$it AS (SELECT a.cell, g.dim, CAST(sum(CAST(g.x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
          FROM gv g JOIN ka${it - 1} a ON g.doc_id = a.doc_id GROUP BY a.cell, g.dim),
        kr$it AS (SELECT cell, list(m ORDER BY dim) AS cm FROM kc$it GROUP BY cell),
        kn$it AS (SELECT cell, cm, list_reduce(list_transform(cm, x -> x * x), (p, q) -> p + q) AS cc FROM kr$it),
        ka$it AS MATERIALIZED (SELECT doc_id, cell FROM (
          SELECT d.doc_id, k.cell,
            row_number() OVER (PARTITION BY d.doc_id
              ORDER BY ($dotVV - 2 * $dotVM + k.cc), k.cell) AS rk
          FROM dv d, kn$it k) z WHERE rk = 1)""")
      }
      sb.append(s""",
        sizes AS (SELECT cell, count(*) AS n_docs FROM ka$TopicIters GROUP BY cell),
        ct AS (SELECT a.cell, c.tok, CAST(sum(c.c) AS BIGINT) AS n_tok
          FROM c JOIN ka$TopicIters a ON c.doc_id = a.doc_id GROUP BY a.cell, c.tok),
        top AS (SELECT cell, tok, n_tok,
            row_number() OVER (PARTITION BY cell ORDER BY n_tok DESC, tok) AS rk FROM ct)
        SELECT t.cell AS cluster, s.n_docs, t.rk, t.tok AS token, t.n_tok
        FROM top t JOIN sizes s ON t.cell = s.cell WHERE t.rk <= 3
        ORDER BY cluster, rk""")
      sb.toString
    },
    (s, d) => topicClustersOf(Tables.documents(s, d)))

  /** Engine pipeline for [[topicClusters]] over a (doc_id, text)
    * frame. */
  def topicClustersOf(docs: org.apache.spark.sql.DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): org.apache.spark.sql.DataFrame = {
    Natives.ensure(docs.sparkSession)
    val cnt = scope.persist(docs
      .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c")))
    val dimcnt = cnt
      .select(col("doc_id"), (Portable.h60(col("tok")) % TopicDims).as("dim"), col("c"))
      .groupBy(col("doc_id"), col("dim")).agg(sum(col("c")).as("x"))
    val dv = scope.persist(dimcnt
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("dim"), col("x")))).as("mp"))
      .select(col("doc_id"),
        expr(s"transform(sequence(0, ${TopicDims - 1}), i -> CAST(coalesce(element_at(mp, CAST(i AS BIGINT)), 0) AS DOUBLE))").as("v")))
    var asg = dv.select(col("doc_id"), col("v"), (col("doc_id") % TopicK).as("cell"))
    for (_ <- 1 to TopicIters) {
      val c = graft.similarity.AnnApi.centroidMeans(asg, Seq("cell"), "v")
        .withColumn("cc", expr("graft_dot(cm, cm)"))
      // doc_id % k spans -(k-1)..k-1, plus the NULL cell of a NULL
      // doc_id; later rounds only pick collected cells
      val cents = graft.similarity.AnnApi.rowsLit(
        Small.rows(c, 2 * TopicK, "topic centroids"), c.schema)
      asg = dv.withColumn("cents", cents)
        .select(col("doc_id"), col("v"),
          expr("""-array_max(transform(cents, ct -> named_struct(
              'negd', -(graft_dot(v, v) - 2 * graft_dot(v, ct.cm) + ct.cc),
              'negc', -ct.cell))).negc""").as("cell"))
    }
    val fin = scope.persist(asg.select(col("doc_id"), col("cell")))
    val sizes = fin.groupBy(col("cell")).agg(count(lit(1)).as("n_docs"))
    val topTerms = cnt.join(fin, Seq("doc_id"))
      .groupBy(col("cell"), col("tok")).agg(sum(col("c")).as("n_tok"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
          .orderBy(col("n_tok").desc, col("tok"))))
      .filter(col("rk") <= 3)
    topTerms.join(broadcast(sizes), Seq("cell"))
      .select(col("cell").as("cluster"), col("n_docs"), col("rk"),
        col("tok").as("token"), col("n_tok"))
      .orderBy(col("cluster"), col("rk"))
  }

  // ----------------------------------------------------- OOV rate
  /** Vocabulary size for the coverage audit (small enough that the
    * synthetic corpus leaves a real OOV tail). */
  val OovVocabK = 2000

  /** corpus_oov_rate: held-out vocabulary coverage — the tokenizer/
    * vocab design readout (a word-level vocab of size K covers what
    * fraction of UNSEEN text? the number that decides K, and the
    * reason subword tokenizers exist — Sennrich et al. 2016 motivates
    * BPE exactly by this OOV tail): the corpus splits by the
    * `corpus_split_stats` content-stable hash (train < 90, held-out
    * otherwise — the SAME split every gate uses, so vocab never leaks
    * held-out tokens), the top-[[OovVocabK]] train tokens by the
    * deterministic (count DESC, token ASC) total order form the
    * vocab, and the held-out slice reports per-lang token count, OOV
    * count, and 6-dp rate.
    *
    * 100 TB shape: train token counts are ONE vocab-bounded
    * map-combinable aggregate; the top-K cut is TakeOrdered (never a
    * full sort); the held-out explode joins the 2000-key vocab as a
    * broadcast left join — the corpus is scanned twice (once per
    * split side) and never self-joined. */
  val oovRate = QueryDef(
    "corpus_oov_rate",
    Some(s"""WITH d AS (SELECT lang, ${Portable.h60Sql("CAST(doc_id AS VARCHAR)")} % 100 < 90 AS is_train,
        string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
      tr AS (SELECT unnest(toks) AS tok FROM d WHERE is_train),
      tc AS (SELECT tok, count(*) AS c FROM tr WHERE tok <> '' GROUP BY tok),
      vocab AS (SELECT tok FROM tc ORDER BY c DESC, tok LIMIT $OovVocabK),
      ho AS (SELECT lang, unnest(toks) AS tok FROM d WHERE NOT is_train),
      hj AS (SELECT ho.lang, CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END AS oov
        FROM ho LEFT JOIN vocab ON ho.tok = vocab.tok WHERE ho.tok <> '')
      SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(sum(oov) AS BIGINT) AS n_oov,
        ${Portable.round6RatioDuck("sum(oov)", "count(*)")} AS oov_rate
      FROM hj GROUP BY lang ORDER BY lang"""),
    (s, d) => oovRateOf(Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))))

  /** OOV readout over (doc_id, lang, text) rows — see [[oovRate]]. */
  def oovRateOf(docsIn: org.apache.spark.sql.DataFrame,
      vocabK: Int = OovVocabK): org.apache.spark.sql.DataFrame = {
    val docs = docsIn
      .select(col("lang"),
        (pmod(Portable.h60(col("doc_id").cast("string")), lit(100)) < 90).as("is_train"),
        split(normText(col("text")), " ").as("toks"))
    val vocab = docs.filter(col("is_train"))
      .select(explode(col("toks")).as("tok")).filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabK)
      .select(col("tok"), lit(1L).as("hit"))
    docs.filter(!col("is_train"))
      .select(col("lang"), explode(col("toks")).as("tok")).filter(col("tok") =!= "")
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).cast("long").as("n_oov"))
      .selectExpr("lang", "n_tokens", "n_oov",
        s"${Portable.round6RatioSpark("n_oov", "n_tokens")} AS oov_rate")
      .orderBy(col("lang"))
  }

  val defs: Seq[QueryDef] = Seq(topTokens, topBigrams, centroids, tfidfTopK,
    rarityScore, qualityDedupPipeline, bpeMerges, bpeEncode, vocabGrowth,
    versionDiff, topicClusters, oovRate)
}
