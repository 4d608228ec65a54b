package graft.functions

import graft.{Portable, QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** URL-grain deduplication + canonicalization — the RefinedWeb/CCNet
  * ingest stage a crawl pipeline runs BEFORE any content dedup
  * (Penedo et al. 2023 §3.1 "URL deduplication"; the reference's data
  * model has no crawl tier, so this is part of the LLM-pipeline
  * surface the brief adds on top).
  *
  * Canonicalization (the standard normalization set):
  *   - drop the `#fragment`
  *   - lowercase scheme and authority
  *   - strip the scheme's default port (`:80` http / `:443` https)
  *   - strip trailing slashes from the path
  *   - drop tracker params (`utm_*`, `gclid`, `fbclid`, `ref` —
  *     matched case-insensitively on the param KEY, so `UTM_SOURCE=x`
  *     strips like `utm_source=x`; the surviving params keep their
  *     original case), sort the survivors by byte order, reassemble
  *
  * Absolute URLs only: a row whose URL has no `scheme://` prefix
  * canonicalizes to NULL (pass-through — there is no authority to
  * normalize), and every dedup in this module keys on
  * `coalesce(url_canon, url)`, so malformed rows merge only when
  * byte-identical.
  *
  * Every stage is a per-row string expression built from ONE shared
  * template ([[UrlCanon.nofragSql]]…[[UrlCanon.assembleSql]]) whose
  * only engine-specific parts are the four list-function NAMES
  * ([[UrlSqlDialect]]) — Spark `split/filter/sort_array/array_join`
  * vs DuckDB `string_split/list_filter/list_sort/array_to_string` —
  * so the gated query and its oracle share the canonicalization
  * token-for-token. All regexes avoid backslash escapes (`[?]` for a
  * literal '?') because the two engines' string-literal escaping
  * differs.
  *
  * 100 TB shape: canonicalization is narrow per-row work inside
  * whole-stage codegen (no UDF, no shuffle); the dedup is ONE
  * hash-shuffle groupBy on the canonical URL (map-side-combinable
  * min), one url-keyed join back, and a source-grain count — the
  * `dedup_exact` shape with a derived key, nothing quadratic.
  */
object UrlCanon {

  /** The four list-op names that differ between Spark SQL and DuckDB. */
  final case class UrlSqlDialect(split: String, filter: String, sort: String, join: String)
  val SparkDialect: UrlSqlDialect = UrlSqlDialect("split", "filter", "sort_array", "array_join")
  val DuckDialect: UrlSqlDialect = UrlSqlDialect("string_split", "list_filter", "list_sort", "array_to_string")

  // ---- shared canonicalization stages (engine-identical text modulo
  //      the dialect's function names) ----
  def nofragSql(u: String): String = s"regexp_replace($u, '#.*', '')"
  def schemeSql(nf: String): String =
    s"lower(regexp_extract($nf, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
  def restSql(nf: String): String =
    s"regexp_replace($nf, '^[a-zA-Z][a-zA-Z0-9+.-]*://', '')"
  def authSql(r: String): String = s"lower(regexp_extract($r, '^([^/?#]*)', 1))"
  def hostSql(sc: String, a: String): String =
    s"CASE WHEN $sc = 'http' THEN regexp_replace($a, ':80$$', '') " +
      s"WHEN $sc = 'https' THEN regexp_replace($a, ':443$$', '') ELSE $a END"
  def pathqSql(r: String, a: String): String = s"substr($r, length($a) + 1)"
  def pathSql(pq: String): String =
    s"regexp_replace(regexp_extract($pq, '^([^?]*)', 1), '/+$$', '')"
  def qsSql(pq: String): String = s"regexp_extract($pq, '[?](.*)$$', 1)"
  /** Tracker-stripped, byte-sorted query string ('' when none left).
    * Both engines return '' from regexp_extract on no match, and both
    * split '' into [''], which the `p <> ''` filter drops. The outer
    * coalesce papers over the one semantic divergence: DuckDB's
    * array_to_string of an EMPTY list is NULL, Spark's array_join is
    * '' — unguarded, every query-less URL canonicalized to NULL on
    * the oracle side and vanished from the keeper join. */
  def qcSql(qs: String, d: UrlSqlDialect): String =
    s"coalesce(${d.join}(${d.sort}(${d.filter}(${d.split}($qs, '&'), " +
      s"p -> p <> '' AND NOT (substr(lower(regexp_extract(p, '^([^=]*)', 1)), 1, 4) = 'utm_' " +
      s"OR lower(regexp_extract(p, '^([^=]*)', 1)) IN ('gclid', 'fbclid', 'ref')))), '&'), '')"
  /** NULL (not a mangled key) when the scheme regex never matched —
    * a scheme-less/relative URL has no authority to lowercase, and
    * canonicalizing it would collapse distinct case-sensitive paths
    * ('Foo/x' vs 'foo/x') into one key. Callers key their dedups on
    * `coalesce(url_canon, url)` so malformed rows never merge. */
  def assembleSql(sc: String, h: String, p: String, qc: String): String =
    s"CASE WHEN $sc = '' THEN NULL ELSE " +
      s"$sc || '://' || $h || $p || (CASE WHEN $qc = '' THEN '' ELSE '?' || $qc END) END"

  /** Adds `out` = canonical form of `urlCol` — staged narrow
    * expressions, all inside whole-stage codegen. NULL when `urlCol`
    * is not an absolute URL (see [[assembleSql]]). */
  def withCanonicalUrl(df: DataFrame, urlCol: String, out: String = "url_canon"): DataFrame =
    df.withColumn("_nofrag", expr(nofragSql(urlCol)))
      .withColumn("_scheme", expr(schemeSql("_nofrag")))
      .withColumn("_rest", expr(restSql("_nofrag")))
      .withColumn("_auth", expr(authSql("_rest")))
      .withColumn("_host", expr(hostSql("_scheme", "_auth")))
      .withColumn("_pathq", expr(pathqSql("_rest", "_auth")))
      .withColumn("_path", expr(pathSql("_pathq")))
      .withColumn("_qs", expr(qsSql("_pathq")))
      .withColumn("_qc", expr(qcSql("_qs", SparkDialect)))
      .withColumn(out, expr(assembleSql("_scheme", "_host", "_path", "_qc")))
      .drop("_nofrag", "_scheme", "_rest", "_auth", "_host", "_pathq", "_path", "_qs", "_qc")

  /** The full oracle-side canonicalization as chained CTE stages over
    * a `raw(doc_id, source, url)` CTE, ending in
    * `c(doc_id, source, url_canon)`. */
  def canonCtesDuck: String =
    s"""s1 AS (SELECT doc_id, source, url, ${nofragSql("url")} AS nofrag FROM raw),
      s2 AS (SELECT *, ${schemeSql("nofrag")} AS scheme, ${restSql("nofrag")} AS rest FROM s1),
      s3 AS (SELECT *, ${authSql("rest")} AS auth FROM s2),
      s4 AS (SELECT *, ${hostSql("scheme", "auth")} AS host, ${pathqSql("rest", "auth")} AS pathq FROM s3),
      s5 AS (SELECT *, ${pathSql("pathq")} AS path, ${qsSql("pathq")} AS qs FROM s4),
      s6 AS (SELECT *, ${qcSql("qs", DuckDialect)} AS qc FROM s5),
      c AS (SELECT doc_id, source, url, ${assembleSql("scheme", "host", "path", "qc")} AS url_canon FROM s6)"""

  /** Adds `out` = the canonicalized HOST of `urlCol` ('' when the URL
    * is not absolute — same precondition as [[withCanonicalUrl]]):
    * lowercased authority with the scheme's default port stripped,
    * the key domain-grain reputation work groups by. Same staged
    * template expressions as [[withCanonicalUrl]], all map-only. */
  def withHostKey(df: DataFrame, urlCol: String, out: String = "host"): DataFrame =
    df.withColumn("_nofrag", expr(nofragSql(urlCol)))
      .withColumn("_scheme", expr(schemeSql("_nofrag")))
      .withColumn("_rest", expr(restSql("_nofrag")))
      .withColumn("_auth", expr(authSql("_rest")))
      .withColumn(out,
        expr(s"CASE WHEN _scheme = '' THEN '' ELSE ${hostSql("_scheme", "_auth")} END"))
      .drop("_nofrag", "_scheme", "_rest", "_auth")

  /** Host-grain reputation rollup — the RefinedWeb/CCNet DOMAIN
    * filtering stage (Penedo et al. 2023 §3.1 run blocklists and
    * reputation heuristics at host grain BEFORE touching content):
    * per canonical host, doc volume, distinct canonical URLs, the
    * exact 6-dp within-host URL dup rate, mean doc length (unrounded
    * IEEE division of exact BIGINTs — corpus-scale sums exceed the
    * 6-dp ratio's headroom, the fertility precedent), and a
    * `flagged` verdict decided in EXACT integer arithmetic
    * ((n_docs − n_urls)·10⁶ > ppm·n_docs — no float compare on the
    * boundary; BIGINT-safe below ~9e12 docs/host). Scheme-less rows
    * roll up under host '' (the "unknown" bucket a crawl report
    * surfaces rather than drops).
    *
    * 100 TB shape: canonicalization + host key are narrow per-row
    * codegen work; the rollup is ONE host-grain aggregate whose
    * count-distinct rides Spark's two-phase partial-distinct expand
    * — nothing quadratic, the corpus is never re-shuffled. */
  def domainStats(df: DataFrame, id: String, urlCol: String, textCol: String,
      flagPpm: Long = DomainFlagPpm): DataFrame = {
    val c = withCanonicalUrl(withHostKey(
      df.select(col(id).as("doc_id"), col(urlCol).as("url"), col(textCol).as("text")),
      "url"), "url")
    c.select(col("host"), coalesce(col("url_canon"), col("url")).as("uk"),
        length(col("text")).cast("long").as("len"))
      .groupBy(col("host"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col("uk")).cast("long").as("n_urls"),
        sum(col("len")).cast("long").as("sum_len"))
      .withColumn("n_dup", col("n_docs") - col("n_urls"))
      .selectExpr("host", "n_docs", "n_urls",
        s"${Portable.round6RatioSpark("n_dup", "n_docs")} AS dup_rate",
        "CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg_len",
        s"CAST(CASE WHEN n_dup * 1000000 > $flagPpm * n_docs THEN 1 ELSE 0 END AS BIGINT) AS flagged")
      .orderBy(col("host"))
  }

  /** Dup-rate flag threshold for [[domainStats]] in exact ppm
    * (250000 = "a quarter of the host's docs are canonical-URL
    * duplicates" — the reputation heuristic's investigate line).
    * LITERAL shared with the oracle. */
  val DomainFlagPpm: Long = 250000L

  /** Gate-only URL derivation for [[domainStatsQ]]: 23 hosts from
    * `doc_id % 23`, three canonicalization-adversarial variants per
    * doc (case+port+fragment, trailing slash+tracker) that must all
    * collapse, and a page number whose granularity DEPENDS ON THE
    * HOST (divisor 1 + host % 3 ∈ {1,2,3} → per-host dup rates ≈
    * 0 / ½ / ⅔), so the flag threshold splits the host set
    * deterministically at any sf. */
  def domainUrlSql(id: String, idiv: String, strType: String): String = {
    val h = s"CAST(($id) % 23 AS $strType)"
    val pg = s"CAST((($id) $idiv 23) $idiv (1 + (($id) % 23) % 3) AS $strType)"
    s"""CASE ($id) % 3
      WHEN 0 THEN 'http://host' || $h || '.example.com/p/' || $pg
      WHEN 1 THEN 'HTTP://Host' || $h || '.Example.COM:80/p/' || $pg || '#f'
      ELSE 'http://host' || $h || '.example.com/p/' || $pg || '/?utm_source=x' END"""
  }

  val domainStatsQ = QueryDef(
    "corpus_domain_stats",
    Some(s"""WITH raw AS (SELECT doc_id, source, ${domainUrlSql("doc_id", "//", "VARCHAR")} AS url FROM documents),
      $canonCtesDuck,
      hx AS (SELECT c.doc_id, CASE WHEN s4.scheme = '' THEN '' ELSE s4.host END AS host,
          coalesce(c.url_canon, c.url) AS uk
        FROM c JOIN s4 ON c.doc_id = s4.doc_id),
      j AS (SELECT hx.host, hx.uk, CAST(length(d.text) AS BIGINT) AS len
        FROM hx JOIN documents d ON hx.doc_id = d.doc_id),
      st AS (SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(count(DISTINCT uk) AS BIGINT) AS n_urls,
          CAST(sum(len) AS BIGINT) AS sum_len
        FROM j GROUP BY host),
      sd AS (SELECT *, n_docs - n_urls AS n_dup FROM st)
      SELECT host, n_docs, n_urls,
        ${Portable.round6RatioDuck("n_dup", "n_docs")} AS dup_rate,
        CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg_len,
        CAST(CASE WHEN n_dup * 1000000 > $DomainFlagPpm * n_docs THEN 1 ELSE 0 END AS BIGINT) AS flagged
      FROM sd ORDER BY host"""),
    (s, d) => {
      val raw = Tables.documents(s, d).selectExpr(
        "doc_id", "text", s"${domainUrlSql("doc_id", "div", "STRING")} AS url")
      domainStats(raw, "doc_id", "url", "text")
    })

  /** Exact dedup by canonical URL with per-source retention stats:
    * keeper = min id per canonical URL (first-crawled wins), every
    * non-keeper attributed to ITS OWN source. Returns
    * (source, n_docs, n_removable, dup_rate) ordered by source. */
  def urlDedupStats(df: DataFrame, id: String, urlCol: String, source: String): DataFrame = {
    val c = withCanonicalUrl(
      df.select(col(id).as("doc_id"), col(source).as("source"), col(urlCol).as("url")), "url")
      .withColumn("uk", coalesce(col("url_canon"), col("url")))
    val kp = c.groupBy(col("uk")).agg(min(col("doc_id")).as("keep"))
    c.join(kp, Seq("uk"))
      .select(col("source"), when(col("doc_id") =!= col("keep"), 1L).otherwise(0L).as("rm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("rm")).cast("long").as("n_removable"))
      .selectExpr("source", "n_docs", "n_removable",
        s"${Portable.round6RatioSpark("n_removable", "n_docs")} AS dup_rate")
      .orderBy(col("source"))
  }

  /** Gate-only raw-URL derivation: the documents table carries no URL
    * column, so the gate manufactures one adversarial absolute URL per
    * doc from `doc_id` alone — four variants per page id, three of
    * which must collapse under canonicalization (host/scheme case,
    * default port + fragment, trailing slash + utm params) and one of
    * which must NOT (different host/path, with a query that survives
    * as its sorted tracker-stripped residue). Shared literal-for-
    * literal with the oracle; only the integer-division and string-
    * cast tokens differ. */
  def rawUrlSql(id: String, idiv: String, strType: String): String = {
    val pid = s"CAST(($id) $idiv 4 AS $strType)"
    s"""CASE ($id) % 4
      WHEN 0 THEN 'http://www.example.com/site/page-' || $pid
      WHEN 1 THEN 'HTTP://WWW.EXAMPLE.COM:80/site/page-' || $pid || '#frag'
      WHEN 2 THEN 'http://www.example.com/site/page-' || $pid || '/?utm_source=feed&utm_medium=rss'
      ELSE 'https://CDN.Example.com:443/assets/page-' || $pid || '?b=2&a=1&utm_campaign=x&gclid=g1' END"""
  }

  val urlDedup = QueryDef(
    "corpus_url_dedup",
    Some(s"""WITH raw AS (SELECT doc_id, source, ${rawUrlSql("doc_id", "//", "VARCHAR")} AS url FROM documents),
      $canonCtesDuck,
      kp AS (SELECT coalesce(url_canon, url) AS uk, min(doc_id) AS keep FROM c
        GROUP BY coalesce(url_canon, url)),
      at AS (SELECT c.source, CASE WHEN c.doc_id <> kp.keep THEN 1 ELSE 0 END AS rm
        FROM c JOIN kp ON coalesce(c.url_canon, c.url) = kp.uk),
      st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(rm) AS BIGINT) AS n_removable
        FROM at GROUP BY source)
      SELECT source, n_docs, n_removable,
        ${Portable.round6RatioDuck("n_removable", "n_docs")} AS dup_rate
      FROM st ORDER BY source"""),
    (s, d) => {
      val raw = Tables.documents(s, d).selectExpr(
        "doc_id", "source", s"${rawUrlSql("doc_id", "div", "STRING")} AS url")
      urlDedupStats(raw, "doc_id", "url", "source")
    })

  /** Composed crawl-ingest funnel census (r10): the order a real crawl
    * pipeline runs its dedup ladder —
    *   raw → URL-grain exact dedup (cheapest key first: canonical URL,
    *   no content touched) → repeated-span EXCISION (the Lee et al.
    *   rewrite; docs excised to empty drop out) → exact CONTENT dedup
    *   on the rewritten text (boilerplate no longer masks identical
    *   organic content) —
    * reporting per (stage, source) doc counts, the funnel a data team
    * reads to see where each feed's volume goes. Input must carry
    * (id, source, text, url).
    *
    * 100 TB shape: each stage is the already-gated operator unchanged
    * (one keyed min-aggregate + join for each dedup; the one doc-keyed
    * reassembly the rewrite owes); stages chain as ONE Catalyst graph
    * with the multiply-consumed frames persisted via the caller's
    * [[graft.CacheScope]]. */
  def crawlIngestCensus(docs: DataFrame, id: String = "doc_id", urlCol: String = "url",
      textCol: String = "text", sourceCol: String = "source",
      spanDf: Int = graft.functions.TextAnalysis.SpanDf)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val base = scope.persist(docs.select(col(id).as("doc_id"),
      col(sourceCol).as("source"), col(textCol).as("text"), col(urlCol).as("url")))
    val kp = withCanonicalUrl(base, "url")
      .groupBy(coalesce(col("url_canon"), col("url")).as("uk"))
      .agg(min(col("doc_id")).as("doc_id"))
    val u = scope.persist(base.join(kp.select(col("doc_id")), Seq("doc_id")))
    val rw = graft.functions.TextAnalysis.dedupSpans(u.select(col("doc_id"), col("text")), "text", spanDf)
    val sp = scope.persist(u.select(col("doc_id"), col("source"))
      .join(rw.filter(col("rewritten") =!= "").select(col("doc_id"), col("rewritten")), Seq("doc_id")))
    val kx = sp.groupBy(md5(col("rewritten")).as("hh")).agg(min(col("doc_id")).as("doc_id"))
    val ex = sp.join(kx.select(col("doc_id")), Seq("doc_id"))
    def cen(stage: String, df: DataFrame): DataFrame =
      df.groupBy(col("source")).agg(count(lit(1)).cast("long").as("n_docs"))
        .select(lit(stage).as("stage"), col("source"), col("n_docs"))
    cen("0_raw", base).unionAll(cen("1_url_dedup", u))
      .unionAll(cen("2_span_excise", sp)).unionAll(cen("3_exact_dedup", ex))
      .orderBy(col("stage"), col("source"))
  }

  val crawlIngest = QueryDef(
    "pipeline_crawl_ingest",
    Some {
      val plant = graft.functions.TextAnalysis.FooterPlantSql
      s"""WITH raw AS (SELECT doc_id, source, ${rawUrlSql("doc_id", "//", "VARCHAR")} AS url FROM documents),
        $canonCtesDuck,
        kp AS (SELECT coalesce(url_canon, url) AS uk, min(doc_id) AS keep FROM c
          GROUP BY coalesce(url_canon, url)),
        u AS (SELECT d.doc_id, d.source, $plant AS t FROM documents d
          JOIN kp ON d.doc_id = kp.keep),
        ${graft.functions.TextAnalysis.spanExciseCtesDuck("u")},
        rw AS (SELECT doc_id,
            coalesce(string_agg(CASE WHEN hit = 0 THEN seg END, '.' ORDER BY pos), '') AS rewritten
          FROM m GROUP BY doc_id),
        sp AS (SELECT u.doc_id, u.source, rw.rewritten FROM u
          JOIN rw ON u.doc_id = rw.doc_id WHERE rw.rewritten <> ''),
        kx AS (SELECT md5(rewritten) AS hh, min(doc_id) AS keep FROM sp GROUP BY hh),
        ex AS (SELECT sp.doc_id, sp.source FROM sp JOIN kx ON sp.doc_id = kx.keep),
        census AS (
          SELECT '0_raw' AS stage, source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
          UNION ALL SELECT '1_url_dedup', source, CAST(count(*) AS BIGINT) FROM u GROUP BY source
          UNION ALL SELECT '2_span_excise', source, CAST(count(*) AS BIGINT) FROM sp GROUP BY source
          UNION ALL SELECT '3_exact_dedup', source, CAST(count(*) AS BIGINT) FROM ex GROUP BY source)
        SELECT stage, source, n_docs FROM census ORDER BY stage, source"""
    },
    (s, d) => {
      val docs = Tables.documents(s, d).selectExpr("doc_id", "source",
        s"${graft.functions.TextAnalysis.FooterPlantSql} AS text",
        s"${rawUrlSql("doc_id", "div", "STRING")} AS url")
      crawlIngestCensus(docs)
    })

  val defs: Seq[QueryDef] = Seq(urlDedup, crawlIngest, domainStatsQ)
}
