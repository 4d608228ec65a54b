package graft.functions

import graft.{Portable, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Statistical language-model corpus operators (SURVEY.md §2.5
  * extension): bigram-LM quality scoring (the CCNet/KenLM-style
  * perplexity filter every web-corpus pipeline runs), PMI collocation
  * mining, a trained Naive-Bayes language classifier, and weighted
  * reservoir sampling (Efraimidis–Spirakis A-ES) — the statistical
  * tier above the heuristic signals in [[TextAnalysis]].
  *
  * Float determinism: every `ln` term is rounded to 12 decimals and
  * accumulated as DECIMAL(28,12) — the sum is merge-order free, and a
  * last-ulp `ln` divergence between engines can move one term by at
  * most 1e-12, invisible under the round(·,6) output contract. Ratios
  * (PMI) avoid `ln` entirely: they are single correctly-rounded IEEE
  * divisions/multiplications of exact integers, identical in both
  * engines by construction.
  */
object LangModel {
  import Portable.normTextSql

  /** Bigram add-one-smoothed language model self-scored over the
    * corpus: p(w2|w1) = (c12+1)/(c1+V), per-doc score = mean negative
    * log-likelihood over its bigrams (low = fluent/common phrasing,
    * high = outlier phrasing — the quality-filter signal).
    *
    * Scale shape: the model is built from the already-collapsed
    * (doc, bigram, count) table — two shrinking-key aggregations
    * (bigram-scale, then first-token-scale), never a second pass over
    * raw text. Scoring joins the doc-bigram table against the model on
    * the bigram key (both sides vocabulary²-bounded, corpus-row-free)
    * and against the first-token counts; the vocabulary size rides in
    * as a one-row broadcast. One corpus-scale shuffle total (the
    * doc-bigram collapse), everything after is vocab-scale.
    */
  /** Shared oracle CTE chain: doc-bigram counts → model → per-doc
    * mean negative log-likelihood (ends with a `scored` CTE exposing
    * doc_id, lang, n_bigrams, and the final select's nll expression —
    * composed by both the scoring gate and the filter pipeline). */
  private def nllOracleCtes: String =
    s"""WITH t AS (SELECT doc_id, lang, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
      db AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS big FROM t),
      dbc AS (SELECT doc_id, lang, big, count(*) AS c FROM db GROUP BY doc_id, lang, big),
      model AS (SELECT big, sum(c) AS c12 FROM dbc GROUP BY big),
      firsts AS (SELECT string_split(big, ' ')[1] AS w1, sum(c12) AS c1 FROM model GROUP BY 1),
      vocab AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(toks) AS tok FROM t)),
      scored AS (SELECT dbc.doc_id, dbc.lang,
          sum(CAST(c * round(ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)), 12) AS DECIMAL(28,12))) AS s,
          CAST(sum(c) AS BIGINT) AS n_bigrams
        FROM dbc JOIN model USING (big)
          JOIN firsts ON string_split(dbc.big, ' ')[1] = firsts.w1, vocab
        GROUP BY dbc.doc_id, dbc.lang),
      nl AS (SELECT doc_id, lang, n_bigrams,
        round(CAST(-s AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6) AS nll FROM scored)"""

  /** Shared Spark scoring plan — see [[ngramLm]] for the shape
    * discussion; returns (doc_id, lang, n_bigrams, nll). */
  private def nllScores(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), split(Portable.normText(col("text")), " ").as("toks"))
    val dbc = t
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))")).as("big"))
      .groupBy(col("doc_id"), col("lang"), col("big"))
      .agg(count(lit(1)).as("c"))
    val model = dbc.groupBy(col("big")).agg(sum(col("c")).as("c12"))
      .withColumn("w1", element_at(split(col("big"), " "), 1))
    val firsts = model.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = t.select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    dbc
      .join(model.select(col("big"), col("c12"), col("w1")), Seq("big"))
      .join(firsts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lnp",
        round(log((col("c12") + 1).cast(DoubleType) / (col("c1") + col("v")).cast(DoubleType)), 12))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum((col("c") * col("lnp")).cast(DecimalType(28, 12))).as("s"),
        sum(col("c")).as("n_bigrams"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        round((-col("s")).cast(DoubleType) / col("n_bigrams").cast(DoubleType), 6).as("nll"))
  }

  val ngramLm = QueryDef(
    "corpus_ngram_lm",
    Some(s"""$nllOracleCtes
      SELECT doc_id, lang, n_bigrams, nll FROM nl ORDER BY doc_id"""),
    (s, d) => nllScores(s, d).orderBy(col("doc_id")))

  /** Perplexity filter pipeline — the CCNet recipe end-to-end: score
    * every doc with the bigram-LM mean NLL ([[nllScores]]), take the
    * exact p75 over the corpus scores (the distributed bounded-
    * histogram selection machinery, no sort), keep the low-perplexity
    * 75%. The threshold rides back as a one-row broadcast; the kept
    * set is a map-only filter over the persisted scores — the corpus
    * is never re-scored or sort-shuffled. */
  val perplexityFilter = QueryDef(
    "pipeline_perplexity_filter",
    Some(s"""$nllOracleCtes,
      th AS (SELECT percentile_cont(0.75) WITHIN GROUP (ORDER BY nll) AS thr FROM nl)
      SELECT nl.doc_id, nl.lang, nl.nll, round(th.thr, 6) AS thr
      FROM nl, th WHERE nl.nll <= th.thr
      ORDER BY nl.doc_id"""),
    (s, d) => {
      val scored = nllScores(s, d).transform(graft.CacheScope.untracked.persist)
      val thr = graft.operators.ExactPercentiles.percentiles(
          scored.select(lit(1).as("g"), col("nll").as("q")), "g", "q", Seq(0.75))
        .select(col("value").as("thr"))
      scored.crossJoin(broadcast(thr))
        .filter(col("nll") <= col("thr"))
        .select(col("doc_id"), col("lang"), col("nll"), round(col("thr"), 6).as("thr"))
        .orderBy(col("doc_id"))
    })

  /** PMI collocation mining: top-20 bigrams by pointwise mutual
    * information ratio p(w1w2)/(p(w1)p(w2)) with a min-support gate
    * (c12 ≥ 5). The ratio form is `ln`-free — it is three
    * correctly-rounded IEEE ops over exact integer counts, with the
    * association order pinned identically in both engines, so the
    * doubles are bit-equal (the `ln` of a monotone ranking adds
    * nothing but ulp risk; documented contract as in tfidf).
    *
    * Scale: unigram and bigram count tables are vocab-scale; the two
    * count joins key on the collapsed tables; corpus totals ride in as
    * one-row broadcasts; top-20 is TakeOrderedAndProject. The factored
    * form (c12/Nb)·(Nt/c1)·(Nt/c2) never materializes Nt², so the
    * arithmetic survives 100 TB token counts without int64 overflow.
    */
  val pmiBigrams = QueryDef(
    "corpus_pmi_bigrams",
    Some(s"""WITH t AS (SELECT string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
      u AS (SELECT unnest(toks) AS tok FROM t),
      uni AS (SELECT tok, count(*) AS cu FROM u GROUP BY tok),
      nt AS (SELECT count(*) AS ntok FROM u),
      b AS (SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS big FROM t),
      bc AS (SELECT big, count(*) AS cb FROM b GROUP BY big),
      nb AS (SELECT count(*) AS nbig FROM b),
      s AS (SELECT big, cb,
          ((CAST(cb AS DOUBLE) / CAST(nbig AS DOUBLE)) * (CAST(ntok AS DOUBLE) / CAST(u1.cu AS DOUBLE))) * (CAST(ntok AS DOUBLE) / CAST(u2.cu AS DOUBLE)) AS ratio
        FROM bc
          JOIN uni u1 ON string_split(big, ' ')[1] = u1.tok
          JOIN uni u2 ON string_split(big, ' ')[2] = u2.tok, nt, nb
        WHERE cb >= 5),
      r AS (SELECT big, cb, ratio, row_number() OVER (ORDER BY ratio DESC, big) AS rk FROM s)
      SELECT rk, big AS bigram, cb AS n, round(ratio, 6) AS pmi_ratio
      FROM r WHERE rk <= 20 ORDER BY rk"""),
    (s, d) => {
      val t = Tables.documents(s, d).select(split(Portable.normText(col("text")), " ").as("toks"))
      val u = t.select(explode(col("toks")).as("tok"))
      val uni = u.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
      val nt = u.agg(count(lit(1)).as("ntok"))
      val b = t.select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))")).as("big"))
      val bc = b.groupBy(col("big")).agg(count(lit(1)).as("cb"))
      val nb = b.agg(count(lit(1)).as("nbig"))
      val top = bc.filter(col("cb") >= 5)
        .withColumn("w1", element_at(split(col("big"), " "), 1))
        .withColumn("w2", element_at(split(col("big"), " "), 2))
        .join(uni.select(col("tok").as("w1"), col("cu").as("cu1")), Seq("w1"))
        .join(uni.select(col("tok").as("w2"), col("cu").as("cu2")), Seq("w2"))
        .crossJoin(broadcast(nt)).crossJoin(broadcast(nb))
        .withColumn("ratio",
          ((col("cb").cast(DoubleType) / col("nbig").cast(DoubleType)) *
            (col("ntok").cast(DoubleType) / col("cu1").cast(DoubleType))) *
            (col("ntok").cast(DoubleType) / col("cu2").cast(DoubleType)))
        .orderBy(col("ratio").desc, col("big"))
        .limit(20)
      top
        .withColumn("rk", row_number().over(Window.orderBy(col("ratio").desc, col("big"))))
        .select(col("rk"), col("big").as("bigram"), col("cb").as("n"),
          round(col("ratio"), 6).as("pmi_ratio"))
        .orderBy(col("rk"))
    })

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES),
    * 10 docs per language stratum, weight = n_chars: each doc draws a
    * deterministic uniform u ∈ (0,1] from its md5 and competes on
    * key = ln(u)/w — the top-k by key is a true weighted sample. The
    * "random" stream is the same portable h60 hash the dedup suite
    * uses, so the oracle replays it exactly.
    *
    * Scale: selection is per-stratum top-k — a 5-key window shuffle
    * would put the whole corpus behind 5 tasks, so the engine runs the
    * two-level exact form: local top-10 per (lang, doc_id mod 64)
    * bucket, then top-10 per lang over the 640 survivors. Global
    * top-k is selection-invariant under pre-filtering, so the oracle's
    * one-level window is the same set. */
  val sampleWeighted = QueryDef(
    "corpus_sample_weighted",
    Some(s"""WITH k AS (SELECT doc_id, lang, n_chars,
        round(ln((CAST(${Portable.h60Sql("'ws:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE) + 1.0) / 1152921504606846976.0) / CAST(n_chars AS DOUBLE), 12) AS akey
      FROM documents),
      r AS (SELECT lang, doc_id, n_chars, akey,
        row_number() OVER (PARTITION BY lang ORDER BY akey DESC, doc_id) AS rk FROM k)
      SELECT lang, rk, doc_id, n_chars FROM r WHERE rk <= 10 ORDER BY lang, rk"""),
    (s, d) => {
      val k = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(
            log((Portable.h60(concat(lit("ws:"), col("doc_id").cast(StringType))).cast(DoubleType) + 1.0) /
              1152921504606846976.0) / col("n_chars").cast(DoubleType), 12).as("akey"))
      // two-level exact top-k: bucket-local winnow (64 sub-strata per
      // lang) then the tiny survivor set through the final window
      val local = k
        .withColumn("bkt", pmod(col("doc_id"), lit(64)))
        .withColumn("lrk", row_number().over(
          Window.partitionBy(col("lang"), col("bkt")).orderBy(col("akey").desc, col("doc_id"))))
        .filter(col("lrk") <= 10)
      local
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("akey").desc, col("doc_id"))))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang"), col("rk"))
    })

  /** Multinomial Naive-Bayes text classifier, trained and evaluated
    * distributed: train on even doc_ids, add-one smoothing over the
    * train vocabulary, score odd doc_ids, report the confusion
    * matrix. The label is token-derived (doc mentions 'spark') so the
    * synthetic corpus carries a learnable signal — the spec asserts
    * the trained model actually recovers it (the lang column is
    * uncorrelated with tokens in this data, which would make any
    * classifier chance-level). The per-class token log-likelihood
    * table IS the model — vocab-scale rows, built by one aggregation.
    *
    * Unseen-token handling: test tokens outside the train vocabulary
    * contribute the smoothing floor 1/(tot_c+V) to BOTH classes (left
    * join + coalesce), the textbook convention.
    *
    * Scale: scoring is a vocab-keyed join of the collapsed test
    * (doc, tok, count) table against the model — the same
    * shrinking-key shape as tfidf; the decision margin is a decimal
    * sum, so the argmax is shuffle-order-free. */
  val naiveBayes = QueryDef(
    "corpus_naive_bayes",
    Some(s"""WITH t0 AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS toks FROM documents),
      t AS (SELECT doc_id, CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END AS label, toks FROM t0),
      tok AS (SELECT doc_id, label, unnest(toks) AS tok FROM t),
      tc AS (SELECT doc_id, label, tok, count(*) AS c FROM tok GROUP BY doc_id, label, tok),
      train AS (SELECT * FROM tc WHERE doc_id % 2 = 0),
      m AS (SELECT tok,
          sum(CASE WHEN label = 1 THEN c ELSE 0 END) AS c1,
          sum(CASE WHEN label = 0 THEN c ELSE 0 END) AS c0
        FROM train GROUP BY tok),
      tot AS (SELECT sum(c1) AS t1, sum(c0) AS t0, count(*) AS v FROM m),
      pri AS (SELECT sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS d1,
          sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS d0
        FROM (SELECT DISTINCT doc_id, label FROM train)),
      test AS (SELECT * FROM tc WHERE doc_id % 2 = 1),
      sc AS (SELECT test.doc_id, test.label,
          sum(CAST(test.c * round(ln(CAST(COALESCE(m.c1, 0) + 1 AS DOUBLE) / CAST(t1 + v AS DOUBLE))
            - ln(CAST(COALESCE(m.c0, 0) + 1 AS DOUBLE) / CAST(t0 + v AS DOUBLE)), 12) AS DECIMAL(28,12))) AS margin
        FROM test LEFT JOIN m USING (tok), tot GROUP BY test.doc_id, test.label),
      dec AS (SELECT doc_id, label,
          CASE WHEN margin + CAST(round(ln(CAST(d1 AS DOUBLE) / CAST(d0 AS DOUBLE)), 12) AS DECIMAL(28,12)) > 0
            THEN 1 ELSE 0 END AS pred
        FROM sc, pri)
      SELECT label, pred, count(*) AS n FROM dec GROUP BY label, pred ORDER BY label, pred"""),
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), split(Portable.normText(col("text")), " ").as("toks"))
        .select(col("doc_id"),
          when(array_contains(col("toks"), "spark"), 1).otherwise(0).as("label"),
          col("toks"))
      val tc = t.select(col("doc_id"), col("label"), explode(col("toks")).as("tok"))
        .groupBy(col("doc_id"), col("label"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val train = tc.filter(pmod(col("doc_id"), lit(2)) === 0)
      val m = train.groupBy(col("tok"))
        .agg(sum(when(col("label") === 1, col("c")).otherwise(0L)).as("c1"),
          sum(when(col("label") === 0, col("c")).otherwise(0L)).as("c0"))
      val tot = m.agg(sum(col("c1")).as("t1"), sum(col("c0")).as("t0"),
        count(lit(1)).as("v"))
      val pri = train.select(col("doc_id"), col("label")).distinct()
        .agg(sum(when(col("label") === 1, 1L).otherwise(0L)).as("d1"),
          sum(when(col("label") === 0, 1L).otherwise(0L)).as("d0"))
      val test = tc.filter(pmod(col("doc_id"), lit(2)) === 1)
      val sc = test
        .join(m, Seq("tok"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("lr",
          round(log((coalesce(col("c1"), lit(0L)) + 1).cast(DoubleType) / (col("t1") + col("v")).cast(DoubleType))
            - log((coalesce(col("c0"), lit(0L)) + 1).cast(DoubleType) / (col("t0") + col("v")).cast(DoubleType)), 12))
        .groupBy(col("doc_id"), col("label"))
        .agg(sum((col("c") * col("lr")).cast(DecimalType(28, 12))).as("margin"))
      sc.crossJoin(broadcast(pri))
        .withColumn("pred",
          when(col("margin") +
            round(log(col("d1").cast(DoubleType) / col("d0").cast(DoubleType)), 12).cast(DecimalType(28, 12)) > 0, 1)
            .otherwise(0))
        .groupBy(col("label"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("pred"))
    })

  val defs: Seq[QueryDef] = Seq(ngramLm, perplexityFilter, pmiBigrams, sampleWeighted, naiveBayes)
}
