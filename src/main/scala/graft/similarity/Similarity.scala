package graft.similarity

import graft.{Portable, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (SURVEY.md §2.4):
  * brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH (Charikar 2002) bucketed variant as the
  * scale path. Vector math is the native [[graft.functions.DotExpr]]
  * (`graft_dot`) — no UDFs; Spark's higher-order array functions
  * never enter whole-stage codegen, so the composed
  * `zip_with`/`aggregate` folds they replace ran interpreted
  * per element (bit-identity with them is property-tested).
  *
  * Scale: probes are broadcast (a probe set is small by definition);
  * the corpus is never shuffled for brute-force. For LSH, the only
  * shuffle is corpus→bucket, and bucket sizes are tuned by the number
  * of hyperplanes.
  */
object Similarity {

  /** Deterministic ±1 hyperplane matrix, derived from the md5-based
    * portable hash so the oracle shares it by construction. Multi-table
    * LSH (Indyk–Motwani): `NumTables` independent tables of
    * `PlanesPerTable` hyperplanes; candidates are the union of bucket
    * matches across tables, which trades one extra shuffle fan-out for
    * much higher recall than a single wide code. */
  val NumTables = 4
  val PlanesPerTable = 4
  val Planes = NumTables * PlanesPerTable
  val Dim = 64
  private def sign(p: Int, i: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane_${p}_$i".getBytes("UTF-8"))
    if ((md(0) & 1) == 1) 1 else -1
  }
  private val signs: IndexedSeq[IndexedSeq[Int]] =
    (0 until Planes).map(p => (0 until Dim).map(i => sign(p, i)))

  private def normDf(s: SparkSession, d: String): DataFrame = {
    graft.functions.Natives.ensure(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
  }

  private[graft] val normSqlCte =
    """vx AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       nx AS (SELECT vec_id, label, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm FROM vx)"""

  private val dotSpark = "graft_dot(a.v, b.v)"
  private val dotSql =
    "list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)"

  // ----------------------------------------------------- brute top-k
  /** Exact cosine top-5 neighbors for the probe set (vec_id < 10). */
  val bruteTopK = QueryDef(
    "ann_brute_topk",
    Some(s"""WITH $normSqlCte
      SELECT id_p, rk, id_c, round(c, 6) AS cos FROM (
        SELECT a.vec_id AS id_p, b.vec_id AS id_c, $dotSql / (a.nrm * b.nrm) AS c,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY $dotSql / (a.nrm * b.nrm) DESC, b.vec_id) AS rk
        FROM nx a JOIN nx b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) t
      WHERE rk <= 5 ORDER BY id_p, rk"""),
    (s, d) => AnnApi.bruteTopK(Tables.embeddings(s, d), "vec_id", "embedding",
      Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id"))), bench = false)

  // --------------------------------------------------- hard negatives
  /** vec_hard_negatives: contrastive hard-negative mining — per probe
    * the top-5 most-similar vectors with a DIFFERENT label (the
    * "similar but wrong" examples metric-learning / embedding
    * fine-tuning trains against; see [[AnnApi.hardNegatives]]).
    * Identical determinism contract as `ann_brute_topk` (shared
    * left-to-right cosine folds, id tiebreak); the oracle adds only
    * the label-mismatch predicate, so a hash-green row pins the
    * mining semantics exactly. */
  val hardNegatives = QueryDef(
    "vec_hard_negatives",
    Some(s"""WITH $normSqlCte
      SELECT id_p, rk, id_c, round(c, 6) AS cos FROM (
        SELECT a.vec_id AS id_p, b.vec_id AS id_c, $dotSql / (a.nrm * b.nrm) AS c,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY $dotSql / (a.nrm * b.nrm) DESC, b.vec_id) AS rk
        FROM nx a JOIN nx b ON a.vec_id < 10 AND a.vec_id <> b.vec_id AND a.label <> b.label) t
      WHERE rk <= 5 ORDER BY id_p, rk"""),
    (s, d) => AnnApi.hardNegatives(Tables.embeddings(s, d), "vec_id", "embedding", "label",
      Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id"))))

  // ------------------------------------------------------------ mips
  /** ann_mips: maximum-inner-product top-5 (see [[AnnApi.mipsTopK]])
    * — the recsys retrieval objective, distinct from cosine: the raw
    * dot keeps the magnitude signal. Scores surface UNROUNDED (the
    * q71 contract); ranking compares the identical left-to-right
    * fold in both engines. */
  val mips = QueryDef(
    "ann_mips",
    Some(s"""WITH $normSqlCte
      SELECT id_p, rk, id_c, ip FROM (
        SELECT a.vec_id AS id_p, b.vec_id AS id_c, $dotSql AS ip,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY $dotSql DESC, b.vec_id) AS rk
        FROM nx a JOIN nx b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) t
      WHERE rk <= 5 ORDER BY id_p, rk"""),
    (s, d) => AnnApi.mipsTopK(Tables.embeddings(s, d), "vec_id", "embedding",
      Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id"))))

  // -------------------------------------------------- dim-trunc audit
  /** Prefix width for the truncation audit — half the embedding. */
  val DimAuditPrefix = 32

  /** ann_dim_audit: recall@5 of cosine ranking on the FIRST
    * [[DimAuditPrefix]] dims against the full-width exact ranking —
    * the "can we store half the vector?" readout (Matryoshka/MRL
    * embeddings ship exactly this trade; at 100 TB of vectors a
    * 2× dim cut halves index memory AND scan cost, so this audit
    * gates the decision). Same audit shape as `ann_recall_audit`
    * (probe-sample-sized by construction); the truncated ranking
    * recomputes norms over the slice — left-to-right folds over the
    * same 32 doubles in both engines. */
  val dimAudit = QueryDef(
    "ann_dim_audit",
    Some {
      val dot32 =
        "list_reduce(list_transform(range(1, 33), i -> a.vt[i] * b.vt[i]), (x, y) -> x + y)"
      s"""WITH $normSqlCte,
      tx AS (SELECT vec_id, v[1:$DimAuditPrefix] AS vt FROM nx),
      tn AS (SELECT vec_id, vt,
          sqrt(list_reduce(list_transform(vt, x -> x * x), (a, b) -> a + b)) AS nrm FROM tx),
      tr AS (SELECT id_p, id_c FROM (
        SELECT a.vec_id AS id_p, b.vec_id AS id_c,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY $dot32 / (a.nrm * b.nrm) DESC, b.vec_id) AS rk
        FROM tn a JOIN tn b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) t
        WHERE rk <= 5),
      ${bruteRankSql("id_p, id_c", 5)}
      SELECT bru.id_p, CAST($DimAuditPrefix AS BIGINT) AS dims,
        CAST(count(tr.id_c) AS BIGINT) AS n_hits,
        CAST(count(tr.id_c) AS DOUBLE) / 5.0 AS recall
      FROM bru LEFT JOIN tr ON tr.id_p = bru.id_p AND tr.id_c = bru.id_c
      GROUP BY bru.id_p ORDER BY bru.id_p"""
    },
    (s, d) => {
      graft.functions.Natives.ensure(s)
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 10).select(col("vec_id"))
      val full = AnnApi.bruteTopK(emb, "vec_id", "embedding", probes)
        .select(col("id_p"), col("id_c"))
      val tn = emb.select(col("vec_id"),
          expr(s"transform(slice(embedding, 1, $DimAuditPrefix), x -> CAST(x AS DOUBLE))").as("vt"))
        .withColumn("nrm", expr("sqrt(graft_dot(vt, vt))"))
      val tp = tn.join(probes, Seq("vec_id"), "left_semi")
      val tr = tp.as("a").join(tn.as("b"), col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("tp_"), col("b.vec_id").as("tc_"),
          expr("graft_dot(a.vt, b.vt) / (a.nrm * b.nrm)").as("c"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("tp_"))
            .orderBy(col("c").desc, col("tc_"))))
        .filter(col("rk") <= 5)
        .select(col("tp_"), col("tc_"))
      full.join(broadcast(tr), col("id_p") === col("tp_") && col("id_c") === col("tc_"), "left")
        .groupBy(col("id_p"))
        .agg(count(col("tc_")).as("nh"))
        .selectExpr("id_p", s"CAST($DimAuditPrefix AS BIGINT) AS dims",
          "CAST(nh AS BIGINT) AS n_hits", "CAST(nh AS DOUBLE) / 5.0 AS recall")
        .orderBy(col("id_p"))
    })

  // ------------------------------------------------ matryoshka curve
  /** Prefix widths for the truncation CURVE (the full width 64 rides
    * along as the trivially-1.0 baseline row that pins the join). */
  val MrlWidths: Seq[Int] = Seq(8, 16, 32, 64)

  /** vec_matryoshka_eval: recall@5 per PREFIX WIDTH against the
    * full-width exact ranking — `ann_dim_audit` (one width) extended
    * to the curve the storage decision actually reads (Kusupati et
    * al. 2022, Matryoshka Representation Learning: MRL models are
    * trained so prefixes stay usable; the deployment question is
    * "which width first clears the recall bar?", answered by exactly
    * this table). Per width: truncated cosine top-5 over the probe
    * sample (probe-sample-sized audit cost, the published recipe),
    * hits against the full ranking, ONE (dims) row with exact counts
    * and the 6-dp pooled recall. */
  val matryoshkaEval = QueryDef(
    "vec_matryoshka_eval",
    Some {
      def block(w: Int) = {
        val dotW =
          s"list_reduce(list_transform(range(1, ${w + 1}), i -> a.vt[i] * b.vt[i]), (x, y) -> x + y)"
        s"""t$w AS (SELECT vec_id, v[1:$w] AS vt FROM nx),
        n$w AS (SELECT vec_id, vt,
            sqrt(list_reduce(list_transform(vt, x -> x * x), (a, b) -> a + b)) AS nrm FROM t$w),
        r$w AS (SELECT id_p, id_c FROM (
          SELECT a.vec_id AS id_p, b.vec_id AS id_c,
            row_number() OVER (PARTITION BY a.vec_id ORDER BY $dotW / (a.nrm * b.nrm) DESC, b.vec_id) AS rk
          FROM n$w a JOIN n$w b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) t
          WHERE rk <= 5),
        h$w AS (SELECT CAST($w AS BIGINT) AS dims,
            CAST(count(DISTINCT bru.id_p) AS BIGINT) AS n_probes,
            CAST(count(r$w.id_c) AS BIGINT) AS n_hits
          FROM bru LEFT JOIN r$w ON r$w.id_p = bru.id_p AND r$w.id_c = bru.id_c)"""
      }
      val blocks = MrlWidths.map(block).mkString(",\n        ")
      val union = MrlWidths.map(w => s"SELECT * FROM h$w").mkString(" UNION ALL ")
      s"""WITH $normSqlCte,
      ${bruteRankSql("id_p, id_c", 5)},
      $blocks
      SELECT dims, n_probes, n_hits,
        ${graft.Portable.round6RatioDuck("n_hits", "5 * n_probes")} AS recall
      FROM ($union) ORDER BY dims"""
    },
    (s, d) => {
      graft.functions.Natives.ensure(s)
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 10).select(col("vec_id"))
      val full = graft.CacheScope.untracked.persist(
        AnnApi.bruteTopK(emb, "vec_id", "embedding", probes)
          .select(col("id_p"), col("id_c")))
      val rows = MrlWidths.map { w =>
        val tn = emb.select(col("vec_id"),
            expr(s"transform(slice(embedding, 1, $w), x -> CAST(x AS DOUBLE))").as("vt"))
          .withColumn("nrm", expr("sqrt(graft_dot(vt, vt))"))
        val tp = tn.join(probes, Seq("vec_id"), "left_semi")
        val tr = tp.as("a").join(tn.as("b"), col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("tp_"), col("b.vec_id").as("tc_"),
            expr("graft_dot(a.vt, b.vt) / (a.nrm * b.nrm)").as("c"))
          .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("tp_"))
              .orderBy(col("c").desc, col("tc_"))))
          .filter(col("rk") <= 5)
          .select(col("tp_"), col("tc_"))
        full.join(broadcast(tr),
            col("id_p") === col("tp_") && col("id_c") === col("tc_"), "left")
          .agg(countDistinct(col("id_p")).cast("long").as("n_probes"),
            count(col("tc_")).cast("long").as("n_hits"))
          .selectExpr(s"CAST($w AS BIGINT) AS dims", "n_probes", "n_hits")
      }
      rows.reduce(_ unionAll _)
        .selectExpr("dims", "n_probes", "n_hits",
          s"${graft.Portable.round6RatioSpark("n_hits", "5 * n_probes")} AS recall")
        .orderBy(col("dims"))
    })

  // ------------------------------------------------------------- lsh
  /** Random-hyperplane LSH ANN: per table, a 4-bit sign-code bucket;
    * candidates are the union of same-bucket matches over the 4
    * tables, then an exact cosine re-rank picks top-5. One shuffle
    * into (table, bucket), candidate set bounded by bucket sizes.
    * Deterministic plane matrix ⇒ oracle-able; recall vs the brute
    * baseline asserted in EngineSpec. */
  /** Fold over a literal ±1 array instead of a 64-term inline sum:
    * identical left-to-right addition order (so identical doubles and
    * oracle parity), but far smaller codegen — the inline form emitted
    * 16 × 64-term expression trees per row and its generated method
    * dominated query time at small scale. */
  def bucketExprSparkFor(table: Int): String = bucketExprSparkFor(table, PlanesPerTable)

  /** Width-parameterized variant: the md5 sign derivation extends to
    * ANY plane index, so wider codes (AnnApi.planesFor's
    * log₂(n/target) scaling) reuse the same deterministic matrix —
    * at `planesPerTable` = [[PlanesPerTable]] this is bit-identical
    * to the fixed matrix the oracles share. */
  def bucketExprSparkFor(table: Int, planesPerTable: Int): String = {
    val bits = (0 until planesPerTable).map { b =>
      val p = table * planesPerTable + b
      val signArr = (0 until Dim).map(i => s"CAST(${sign(p, i)} AS DOUBLE)")
        .mkString("array(", ", ", ")")
      s"""IF(graft_dot($signArr, v) > CAST(0 AS DOUBLE),
           shiftleft(CAST(1 AS BIGINT), $b), CAST(0 AS BIGINT))"""
    }
    bits.mkString(" + ")
  }
  /** DuckDB twin of [[bucketExprSparkFor]] (same left-to-right sum
    * order, so signs agree bit-for-bit); shared with the dedup
    * oracle's LSH-blocked cosine query. */
  def bucketExprSql(table: Int): String = {
    val bits = (0 until PlanesPerTable).map { b =>
      val p = table * PlanesPerTable + b
      val terms = signs(p).zipWithIndex
        .map { case (sg, i) => if (sg > 0) s"v[${i + 1}]" else s"(- v[${i + 1}])" }
        .mkString(" + ")
      s"CASE WHEN ($terms) > CAST(0 AS DOUBLE) THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END"
    }
    bits.mkString(" + ")
  }

  /** Oracle of the LSH index over `nx`: each vector's bucket per
    * table (`bk`) and one (vec_id, t, bk) row per table in `tb`. */
  private def lshBucketsSql(tb: String): String = {
    val bkCols = (0 until NumTables).map(t => s"${bucketExprSql(t)} AS bk_$t").mkString(", ")
    val tbs = (0 until NumTables)
      .map(t => s"SELECT vec_id, $t AS t, bk_$t AS bk FROM bk")
      .mkString(" UNION ALL ")
    s"""bk AS (SELECT vec_id, $bkCols FROM nx),
      $tb AS ($tbs)"""
  }

  /** Oracle: `cand(id_p, id_c)` — each probe (vec_id < 10) with every
    * other vector that shares one of its buckets in `tb`. */
  private def lshCandSql: String =
    """cand AS (SELECT DISTINCT ca.vec_id AS id_p, cb.vec_id AS id_c
        FROM tb ca JOIN tb cb ON ca.t = cb.t AND ca.bk = cb.bk
          AND ca.vec_id < 10 AND ca.vec_id <> cb.vec_id)"""

  /** Oracle: `lshk` — the top-`k` of `cand` by exact cosine. */
  private def lshRankSql(cols: String, k: Int): String =
    s"""lshk AS (SELECT $cols FROM (
        SELECT cd.id_p, cd.id_c,
          row_number() OVER (PARTITION BY cd.id_p ORDER BY $dotSql / (a.nrm * b.nrm) DESC, cd.id_c) AS rk
        FROM cand cd JOIN nx a ON a.vec_id = cd.id_p JOIN nx b ON b.vec_id = cd.id_c) t
        WHERE rk <= $k)"""

  /** Oracle: the final SELECT of the LSH gates — each probe's top 5
    * of `cand(id_p, id_c)` by exact cosine. */
  private def candTop5Sql: String =
    s"""SELECT id_p, rk, id_c, round(c, 6) AS cos FROM (
        SELECT cd.id_p, cd.id_c, $dotSql / (a.nrm * b.nrm) AS c,
          row_number() OVER (PARTITION BY cd.id_p ORDER BY $dotSql / (a.nrm * b.nrm) DESC, cd.id_c) AS rk
        FROM cand cd JOIN nx a ON a.vec_id = cd.id_p JOIN nx b ON b.vec_id = cd.id_c) t
      WHERE rk <= 5 ORDER BY id_p, rk"""

  /** Oracle: `bru` — each probe's exact cosine top-`k`. */
  private def bruteRankSql(cols: String, k: Int, alias: String = "t"): String =
    s"""bru AS (SELECT $cols FROM (
        SELECT a.vec_id AS id_p, b.vec_id AS id_c,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY $dotSql / (a.nrm * b.nrm) DESC, b.vec_id) AS rk
        FROM nx a JOIN nx b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) $alias
        WHERE rk <= $k)"""

  /** Oracle twin of [[AnnApi.ndcgReadout]]'s per-hit terms: `tm(id_p,
    * rel, term)` for a ranked `list(id_p, id_c, rk)` graded against
    * `bru`'s depth-10 ranks. */
  private def ndcgTermsSql(list: String): String =
    s"""tm AS (SELECT l.id_p, CAST(coalesce(11 - b.brk, 0) AS BIGINT) AS rel,
          CAST(CAST(coalesce(11 - b.brk, 0) AS BIGINT) * ${AnnApi.ndcgCaseSql("l.rk", 10)} AS DECIMAL(28,12)) AS term
        FROM $list l LEFT JOIN bru b ON b.id_p = l.id_p AND b.id_c = l.id_c)"""

  val lsh = QueryDef(
    "ann_lsh",
    Some(s"""WITH $normSqlCte,
      ${lshBucketsSql("tb")},
      $lshCandSql
      $candTop5Sql"""),
    (s, d) => AnnApi.lshTopK(Tables.embeddings(s, d), "vec_id", "embedding",
      Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id"))))

  // --------------------------------------------------- multiprobe lsh
  /** ann_multiprobe_lsh: see [[AnnApi.multiProbeTopK]] — ONE table
    * probed at the query's bucket plus all Hamming-1 neighbors,
    * instead of four tables. The oracle derives table 0's codes from
    * the shared plane matrix and unions the bucket with its
    * [[PlanesPerTable]] single-bit flips (DuckDB `xor` / Spark `^` —
    * same two's-complement integers). */
  val multiprobeLsh = QueryDef(
    "ann_multiprobe_lsh",
    Some {
      val flips = (0 until PlanesPerTable)
        .map(b => s"SELECT vec_id, xor(bk, ${1 << b}) AS pbk FROM bkp")
        .mkString(" UNION ALL ")
      s"""WITH $normSqlCte,
      bk AS (SELECT vec_id, ${bucketExprSql(0)} AS bk FROM nx),
      bkp AS (SELECT vec_id, bk FROM bk WHERE vec_id < 10),
      pb AS (SELECT vec_id, bk AS pbk FROM bkp UNION ALL $flips),
      cand AS (SELECT DISTINCT pb.vec_id AS id_p, cb.vec_id AS id_c
        FROM pb JOIN bk cb ON pb.pbk = cb.bk AND pb.vec_id <> cb.vec_id)
      $candTop5Sql"""
    },
    (s, d) => {
      AnnApi.multiProbeTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id")))
    })

  // ----------------------------------------------------- recall audit
  /** ann_recall_audit: per-probe recall@5 of the LSH index against
    * the exact brute-force ranking — the index-quality readout every
    * ANN deployment monitors (recall is THE accept/reject metric for
    * an approximate index; EngineSpec asserts a floor, this gate pins
    * the exact per-probe VALUES). Composes the `ann_brute_topk` and
    * `ann_lsh` plans on the same probe sample and counts overlaps —
    * the audit is probe-sample-sized by construction (the published
    * recipe: recall is estimated on a query sample, never the full
    * corpus), so the only corpus-scale work is the two candidate
    * scans the audited operators already define. Recall surfaces as
    * one exact IEEE division (n_hits/5.0). */
  val recallAudit = QueryDef(
    "ann_recall_audit",
    Some(s"""WITH $normSqlCte,
      ${lshBucketsSql("tb")},
      $lshCandSql,
      ${lshRankSql("id_p, id_c", 5)},
      ${bruteRankSql("id_p, id_c", 5)}
      SELECT bru.id_p, CAST(5 AS BIGINT) AS k, CAST(count(lshk.id_c) AS BIGINT) AS n_hits,
        CAST(count(lshk.id_c) AS DOUBLE) / 5.0 AS recall
      FROM bru LEFT JOIN lshk ON lshk.id_p = bru.id_p AND lshk.id_c = bru.id_c
      GROUP BY bru.id_p ORDER BY bru.id_p"""),
    (s, d) => {
      val probes = Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id"))
      val brute = AnnApi.bruteTopK(Tables.embeddings(s, d), "vec_id", "embedding", probes)
        .select(col("id_p"), col("id_c"))
      val l = AnnApi.lshTopK(Tables.embeddings(s, d), "vec_id", "embedding", probes)
        .select(col("id_p").as("lp"), col("id_c").as("lc"))
      // probe-sample-sized sides — hint the broadcast (r8: this and
      // the dim audit's twin fell to a 50-row sort-merge otherwise)
      brute.join(broadcast(l), col("id_p") === col("lp") && col("id_c") === col("lc"), "left")
        .groupBy(col("id_p"))
        .agg(count(col("lc")).as("nh"))
        .selectExpr("id_p", "CAST(5 AS BIGINT) AS k", "CAST(nh AS BIGINT) AS n_hits",
          "CAST(nh AS DOUBLE) / 5.0 AS recall")
        .orderBy(col("id_p"))
    })

  // ------------------------------------------------------------- ivf
  /** IVF-style ANN: coarse quantizer = per-label centroids (the
    * inverted-file cells), probes search only their 2 nearest cells,
    * exact cosine re-rank inside. All reductions are decimal-exact
    * (row order across partitions must not matter), so the whole
    * index build + search is oracle-verifiable. At 100 TB the cells
    * come from k-means and the per-cell candidate lists are the
    * partition pruning — same plan shape. */
  val ivf = QueryDef(
    "ann_ivf",
    Some(s"""WITH $normSqlCte,
      pos AS (SELECT vec_id, label, i, v[i] AS x FROM nx, (SELECT unnest(range(1, 65)) AS i)),
      cent AS (SELECT label, i, CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
               FROM pos GROUP BY label, i),
      crow AS (SELECT label, list(m ORDER BY i) AS cm FROM cent GROUP BY label),
      cnorm AS (SELECT label, sqrt(list_reduce(list_transform(cm, x -> x * x), (a, b) -> a + b)) AS cn
                FROM crow),
      pdot AS (SELECT n.vec_id AS id_p, r.label,
                 list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * r.cm[i]), (a, b) -> a + b) AS dt
               FROM nx n, crow r WHERE n.vec_id < 10),
      top2 AS (SELECT id_p, label FROM (
                 SELECT d.id_p, d.label,
                   row_number() OVER (PARTITION BY d.id_p
                     ORDER BY d.dt / (n.nrm * cn.cn) DESC, d.label) AS crk
                 FROM pdot d JOIN nx n ON n.vec_id = d.id_p JOIN cnorm cn ON cn.label = d.label) t
               WHERE crk <= 2)
      SELECT id_p, rk, id_c, round(c, 6) AS cos FROM (
        SELECT a.vec_id AS id_p, b.vec_id AS id_c, $dotSql / (a.nrm * b.nrm) AS c,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY $dotSql / (a.nrm * b.nrm) DESC, b.vec_id) AS rk
        FROM top2 t JOIN nx a ON a.vec_id = t.id_p
        JOIN nx b ON b.label = t.label AND b.vec_id <> a.vec_id) t
      WHERE rk <= 5 ORDER BY id_p, rk"""),
    (s, d) => AnnApi.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding", "label",
      Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id"))))

  // ---------------------------------------------------------- kmeans
  /** Unrolled Lloyd-iteration CTEs mirroring [[AnnApi.kmeansCells]]
    * (same sample init, same decimal centroid means, same
    * index-ordered array folds for dots/norms, same tie-breaks —
    * the window argmax here equals Spark's hash-aggregate argmax
    * value-for-value). Returns the CTE block and the name of the
    * final full-corpus assignment relation (`ka<iters>`). Assumes
    * `nx` (vec_id, v, nrm) is already in scope; `kpos` is emitted
    * for downstream decimal centroid recomputes. */
  def kmeansSqlCtes(k: Int, iters: Int, trainMod: Int): (String, String) = {
    val sb = new StringBuilder(
      s"""kpos AS (SELECT vec_id, i, v[i] AS x FROM nx, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
      ka0 AS (SELECT vec_id, vec_id % $k AS cell FROM nx WHERE vec_id % $trainMod = 0)""")
    for (it <- 1 to iters) {
      val scope = if (it == iters) "" else s" WHERE vec_id % $trainMod = 0"
      sb.append(s""",
      kc$it AS (SELECT a.cell, p.i, CAST(sum(CAST(p.x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
        FROM kpos p JOIN ka${it - 1} a ON a.vec_id = p.vec_id GROUP BY a.cell, p.i),
      kr$it AS (SELECT cell, list(m ORDER BY i) AS cm FROM kc$it GROUP BY cell),
      kn$it AS (SELECT cell, sqrt(list_reduce(list_transform(cm, x -> x * x), (a, b) -> a + b)) AS cn
        FROM kr$it),
      ka$it AS (SELECT vec_id, cell FROM (
        SELECT x.vec_id, r.cell,
          row_number() OVER (PARTITION BY x.vec_id ORDER BY
            list_reduce(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * r.cm[i]), (a, b) -> a + b)
              / (x.nrm * n.cn) DESC, r.cell) AS rk
        FROM (SELECT vec_id, v, nrm FROM nx$scope) x, kr$it r, kn$it n WHERE n.cell = r.cell) t
        WHERE rk = 1)""")
    }
    (sb.toString, s"ka$iters")
  }

  val KmeansCells = 8
  val KmeansIters = 2
  /** Quantizer trains on the `vec_id % 4 == 0` sample; the final
    * Lloyd pass assigns the full corpus. */
  val KmeansTrainMod = 4

  // ------------------------------------------------ product quantization
  val PqSubspaces = 8
  val PqSubDim = Dim / PqSubspaces
  val PqCodes = 16
  val PqIters = 2
  val PqTrainMod = 4

  /** Unrolled PQ CTEs mirroring [[AnnApi.pqCodebooks]] +
    * [[AnnApi.pqTopK]]: per-subspace Lloyd codebooks (decimal means,
    * L2 argmin `cn2 − 2·x·c` with row_number ≡ Spark's (score, code)
    * struct-min), full-corpus codes from the final codebook, probe
    * distance tables, and the ADC decimal partial-sum. Assumes `nx`
    * in scope. Returns (cteBlock, codesRel, padtRel). */
  private def pqFoldSql(subDim: Int)(vs: String, cm: String): String =
    s"list_reduce(list_transform(range(1, ${subDim + 1}), i -> $vs[i] * $cm[i]), (a, b) -> a + b)"

  private def pqAssignRelSql(src: String, rel: String, it: Int, subDim: Int): String = {
    val fold = pqFoldSql(subDim) _
    s"""$rel AS (SELECT vec_id, s, code FROM (
        SELECT x.vec_id, x.s, r.code,
          row_number() OVER (PARTITION BY x.vec_id, x.s
            ORDER BY n.cn2 - 2 * ${fold("x.vs", "r.cm")} ASC, r.code) AS ark
        FROM $src x JOIN pr$it r ON r.s = x.s
        JOIN pn$it n ON n.s = r.s AND n.code = r.code) t WHERE ark = 1)"""
  }

  /** The codebook-training CTE loop over any (vec_id, s, vs) relation
    * — shared by the raw ([[pqSqlCtes]]) and residual
    * ([[pqResidualSqlCtes]]) planes, mirroring
    * `AnnApi.pqCodebooksFromSub`. Emits ptrain/ppos/pa0 + per-
    * iteration pc/pr/pn/pa and the final `pcodes` assignment of the
    * full relation. */
  private def pqLoopSqlCtes(subRel: String, subDim: Int, kCodes: Int, iters: Int, trainMod: Int): String = {
    val sb = new StringBuilder(
      s"""ptrain AS (SELECT * FROM $subRel WHERE vec_id % $trainMod = 0),
      ppos AS (SELECT vec_id, s, i, vs[i] AS x FROM ptrain, (SELECT unnest(range(1, ${subDim + 1})) AS i)),
      pa0 AS (SELECT vec_id, s, vec_id % $kCodes AS code FROM ptrain)""")
    for (it <- 1 to iters) {
      sb.append(s""",
      pc$it AS (SELECT a.s, a.code, p.i, CAST(sum(CAST(p.x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mn
        FROM ppos p JOIN pa${it - 1} a ON a.vec_id = p.vec_id AND a.s = p.s
        GROUP BY a.s, a.code, p.i),
      pr$it AS (SELECT s, code, list(mn ORDER BY i) AS cm FROM pc$it GROUP BY s, code),
      pn$it AS (SELECT s, code, list_reduce(list_transform(cm, x -> x * x), (a, b) -> a + b) AS cn2
        FROM pr$it),
      ${pqAssignRelSql("ptrain", s"pa$it", it, subDim)}""")
    }
    sb.append(s""",
      ${pqAssignRelSql(subRel, "pcodes", iters, subDim)}""")
    sb.toString
  }

  def pqSqlCtes(m: Int, subDim: Int, kCodes: Int, iters: Int, trainMod: Int): (String, String, String) = {
    val fold = pqFoldSql(subDim) _
    val cte = s"""pnv AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS v FROM nx),
      psub AS (SELECT vec_id, s, list_slice(v, s * $subDim + 1, (s + 1) * $subDim) AS vs
        FROM pnv, (SELECT unnest(range(0, $m)) AS s)),
      ${pqLoopSqlCtes("psub", subDim, kCodes, iters, trainMod)},
      padt AS (SELECT q.vec_id AS id_p, q.s, r.code,
          n.cn2 - 2 * ${fold("q.vs", "r.cm")} AS partial
        FROM psub q JOIN pr$iters r ON r.s = q.s
        JOIN pn$iters n ON n.s = r.s AND n.code = r.code
        WHERE q.vec_id < 10)"""
    (cte, "pcodes", "padt")
  }

  /** Residual-IVFADC CTEs, mirroring `AnnApi.ivfPqResidualTopK`.
    * Assumes `nx`, the k-means loop's `kpos`, the final assignment
    * `kaFinal`, and the probe-cell relation `top2 (id_p, cell)` are
    * in scope. Emits the unit vectors, per-cell unit centroids,
    * residual sub-vectors, the shared codebook loop, the per-probed-
    * cell distance tables (`rpadt`), and candidate rows (`rcand`). */
  def pqResidualSqlCtes(kaFinal: String, m: Int, subDim: Int, kCodes: Int,
      iters: Int, trainMod: Int): String = {
    val fold = pqFoldSql(subDim) _
    s"""pu AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM nx),
      rupos AS (SELECT vec_id, i, u[i] AS x FROM pu, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
      rcc AS (SELECT a.cell, p.i, CAST(sum(CAST(p.x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mn
        FROM rupos p JOIN $kaFinal a ON a.vec_id = p.vec_id GROUP BY a.cell, p.i),
      rcr AS (SELECT cell, list(mn ORDER BY i) AS cu FROM rcc GROUP BY cell),
      rres AS (SELECT pu.vec_id, list_transform(range(1, ${Dim + 1}), i -> pu.u[i] - r.cu[i]) AS rv
        FROM pu JOIN $kaFinal a ON a.vec_id = pu.vec_id JOIN rcr r ON r.cell = a.cell),
      rsub AS (SELECT vec_id, s, list_slice(rv, s * $subDim + 1, (s + 1) * $subDim) AS vs
        FROM rres, (SELECT unnest(range(0, $m)) AS s)),
      ${pqLoopSqlCtes("rsub", subDim, kCodes, iters, trainMod)},
      prres AS (SELECT t.id_p, t.cell AS pcell,
          list_transform(range(1, ${Dim + 1}), i -> pu.u[i] - r.cu[i]) AS rv
        FROM top2 t JOIN pu ON pu.vec_id = t.id_p JOIN rcr r ON r.cell = t.cell),
      prsub AS (SELECT id_p, pcell, s, list_slice(rv, s * $subDim + 1, (s + 1) * $subDim) AS vs
        FROM prres, (SELECT unnest(range(0, $m)) AS s)),
      rpadt AS (SELECT q.id_p, q.pcell, q.s, r.code,
          n.cn2 - 2 * ${fold("q.vs", "r.cm")} AS partial
        FROM prsub q JOIN pr$iters r ON r.s = q.s
        JOIN pn$iters n ON n.s = r.s AND n.code = r.code),
      rcand AS (SELECT t.id_p, t.cell AS pcell, kb.vec_id AS id_c
        FROM top2 t JOIN $kaFinal kb ON kb.cell = t.cell AND kb.vec_id <> t.id_p)"""
  }

  /** PQ-ANN by asymmetric distance over the learned codebooks — the
    * memory-compression tier of the similarity suite (8 bytes-ish per
    * vector instead of 64 floats). The gated ranking is the PURE PQ
    * score so the oracle checks the quantization math end to end;
    * recall vs brute (with the standard exact re-rank) is asserted in
    * `PqSpec`. */
  val annPq = QueryDef(
    "ann_pq",
    Some {
      val (ctes, codes, padt) = pqSqlCtes(PqSubspaces, PqSubDim, PqCodes, PqIters, PqTrainMod)
      s"""WITH $normSqlCte, $ctes,
      adc AS (SELECT d.id_p, c.vec_id AS id_c,
          CAST(sum(CAST(d.partial AS DECIMAL(28,12))) AS DOUBLE) AS adc
        FROM $codes c JOIN $padt d ON d.s = c.s AND d.code = c.code
        WHERE d.id_p <> c.vec_id
        GROUP BY d.id_p, c.vec_id)
      $adcTop5Sql"""
    },
    (s, d) => AnnApi.pqTopK(Tables.embeddings(s, d), "vec_id", "embedding",
      Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id")),
      k = 5, m = PqSubspaces, subDim = PqSubDim, kCodes = PqCodes,
      iters = PqIters, trainMod = PqTrainMod))

  /** The k-means assignment itself, oracle-verified end to end —
    * this is what makes the IVF "coarse quantizer" claim real when no
    * label column exists. */
  val vecKmeans = QueryDef(
    "vec_kmeans",
    Some {
      val (ctes, ka) = kmeansSqlCtes(KmeansCells, KmeansIters, KmeansTrainMod)
      s"""WITH $normSqlCte, $ctes
      SELECT vec_id, cell FROM $ka ORDER BY vec_id"""
    },
    (s, d) => AnnApi.kmeansCells(Tables.embeddings(s, d), "vec_id", "embedding",
        KmeansCells, KmeansIters, KmeansTrainMod)
      .orderBy(col("vec_id")), bench = false)

  /** Oracle of the k-means cell pruning shared by the IVF gates:
    * [[AnnApi.ivfTopK]] recomputes DECIMAL centroids and norms from
    * the final full-corpus assignment `kaFinal` (`kcf`, `krf`, `knf`),
    * and each probe keeps its 2 nearest cells, `top2(id_p, cell)`. */
  private def ivfTop2SqlCtes(kaFinal: String): String =
    s"""kcf AS (SELECT a.cell, p.i, CAST(sum(CAST(p.x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
        FROM kpos p JOIN $kaFinal a ON a.vec_id = p.vec_id GROUP BY a.cell, p.i),
      krf AS (SELECT cell, list(m ORDER BY i) AS cm FROM kcf GROUP BY cell),
      knf AS (SELECT cell, sqrt(list_reduce(list_transform(cm, x -> x * x), (a, b) -> a + b)) AS cn
        FROM krf),
      pdot AS (SELECT n.vec_id AS id_p, r.cell,
          list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * r.cm[i]), (a, b) -> a + b) AS dt
        FROM nx n, krf r WHERE n.vec_id < 10),
      top2 AS (SELECT id_p, cell FROM (
          SELECT d.id_p, d.cell,
            row_number() OVER (PARTITION BY d.id_p
              ORDER BY d.dt / (n.nrm * cn.cn) DESC, d.cell) AS crk
          FROM pdot d JOIN nx n ON n.vec_id = d.id_p JOIN knf cn ON cn.cell = d.cell) t
        WHERE crk <= 2)"""

  /** Oracle: the 5 smallest ADC distances per probe off `adc(id_p,
    * id_c, adc)` — the final SELECT of the PQ gates. */
  private def adcTop5Sql: String =
    """SELECT id_p, rk, id_c, round(adc, 6) AS adc FROM (
        SELECT id_p, id_c, adc,
          row_number() OVER (PARTITION BY id_p ORDER BY adc ASC, id_c) AS rk
        FROM adc) t
      WHERE rk <= 5 ORDER BY id_p, rk"""

  /** IVF search over k-means cells: [[AnnApi.ivfTopK]] recomputes
    * centroids from the final assignment, so the oracle ranks probe
    * cells with iteration `iters+1` centroids over `ka<iters>`
    * membership. */
  val ivfKmeans = QueryDef(
    "ann_ivf_kmeans",
    Some {
      val (ctes, kaFinal) = kmeansSqlCtes(KmeansCells, KmeansIters, KmeansTrainMod)
      s"""WITH $normSqlCte, $ctes,
      ${ivfTop2SqlCtes(kaFinal)}
      SELECT id_p, rk, id_c, round(c, 6) AS cos FROM (
        SELECT a.vec_id AS id_p, b.vec_id AS id_c, $dotSql / (a.nrm * b.nrm) AS c,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY $dotSql / (a.nrm * b.nrm) DESC, b.vec_id) AS rk
        FROM top2 t JOIN nx a ON a.vec_id = t.id_p
        JOIN $kaFinal kb ON kb.cell = t.cell
        JOIN nx b ON b.vec_id = kb.vec_id AND b.vec_id <> a.vec_id) t
      WHERE rk <= 5 ORDER BY id_p, rk"""
    },
    (s, d) => {
      val cells = AnnApi.kmeansCells(Tables.embeddings(s, d), "vec_id", "embedding",
        KmeansCells, KmeansIters, KmeansTrainMod)
      AnnApi.ivfTopK(Tables.embeddings(s, d).join(cells, "vec_id"),
        "vec_id", "embedding", "cell",
        Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id")))
    })

  /** IVF+PQ (IVFADC): coarse k-means cells prune the corpus to each
    * probe's 2 nearest cells, the PQ ADC scan scores only those
    * cells' codes. The oracle is literally the composition of the
    * `ann_ivf_kmeans` cell-pruning CTEs and the `ann_pq` codebook/ADC
    * CTEs — both halves already gate standalone. */
  val annIvfPq = QueryDef(
    "ann_ivfpq",
    Some {
      val (kmCtes, kaFinal) = kmeansSqlCtes(KmeansCells, KmeansIters, KmeansTrainMod)
      val (pqCtes, pcodes, padt) = pqSqlCtes(PqSubspaces, PqSubDim, PqCodes, PqIters, PqTrainMod)
      s"""WITH $normSqlCte, $kmCtes,
      ${ivfTop2SqlCtes(kaFinal)},
      $pqCtes,
      cand AS (SELECT t.id_p, kb.vec_id AS id_c
        FROM top2 t JOIN $kaFinal kb ON kb.cell = t.cell AND kb.vec_id <> t.id_p),
      adc AS (SELECT c.id_p, c.id_c,
          CAST(sum(CAST(d.partial AS DECIMAL(28,12))) AS DOUBLE) AS adc
        FROM cand c
        JOIN $pcodes pc ON pc.vec_id = c.id_c
        JOIN $padt d ON d.id_p = c.id_p AND d.s = pc.s AND d.code = pc.code
        GROUP BY c.id_p, c.id_c)
      $adcTop5Sql"""
    },
    (s, d) => AnnApi.ivfPqTopK(Tables.embeddings(s, d), "vec_id", "embedding",
      Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id")),
      k = 5, nProbeCells = 2, kCells = KmeansCells, kmIters = KmeansIters,
      m = PqSubspaces, subDim = PqSubDim, kCodes = PqCodes,
      pqIters = PqIters, trainMod = PqTrainMod), bench = false)

  /** Residual IVFADC — the FULL Jégou et al. recipe (codebooks learn
    * `u − centroid(cell)`, so the code budget captures local structure
    * instead of re-encoding cell position). Oracle = the ann_ivfpq
    * cell-pruning block + the residual codebook/ADC CTEs, hash-exact. */
  val annIvfPqResidual = QueryDef(
    "ann_ivfpq_residual",
    Some {
      val (kmCtes, kaFinal) = kmeansSqlCtes(KmeansCells, KmeansIters, KmeansTrainMod)
      s"""WITH $normSqlCte, $kmCtes,
      ${ivfTop2SqlCtes(kaFinal)},
      ${pqResidualSqlCtes(kaFinal, PqSubspaces, PqSubDim, PqCodes, PqIters, PqTrainMod)},
      adc AS (SELECT c.id_p, c.id_c,
          CAST(sum(CAST(d.partial AS DECIMAL(28,12))) AS DOUBLE) AS adc
        FROM rcand c
        JOIN pcodes pc ON pc.vec_id = c.id_c
        JOIN rpadt d ON d.id_p = c.id_p AND d.pcell = c.pcell
          AND d.s = pc.s AND d.code = pc.code
        GROUP BY c.id_p, c.id_c)
      $adcTop5Sql"""
    },
    (s, d) => AnnApi.ivfPqResidualTopK(Tables.embeddings(s, d), "vec_id", "embedding",
      Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id")),
      k = 5, nProbeCells = 2, kCells = KmeansCells, kmIters = KmeansIters,
      m = PqSubspaces, subDim = PqSubDim, kCodes = PqCodes,
      pqIters = PqIters, trainMod = PqTrainMod))

  // ------------------------------------------------------- vec stats
  /** Per-label vector statistics (decimal-exact mean norm). */
  val vecStats = QueryDef(
    "vec_stats",
    Some(s"""WITH $normSqlCte
      SELECT label, count(*) AS n,
        round(CAST(sum(CAST(nrm AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS mean_norm,
        round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm
      FROM nx GROUP BY label ORDER BY label"""),
    (s, d) => normDf(s, d)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("nrm").cast(DecimalType(18, 9))).cast(DoubleType) / count(lit(1)), 6).as("mean_norm"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"))
      .orderBy(col("label")), bench = false)

  /** Scalar quantization (SQ8) ANN — see [[AnnApi.sq8TopK]]. The
    * oracle unrolls the identical quantizer: per-dimension min/max
    * over the unit corpus (exact doubles), the same
    * floor((x−mn)/(mx−mn)·256) byte codes, the same bin-center
    * reconstruction, and the same left-to-right ADC dot — every
    * floating-point op appears in the same order on both engines, so
    * the ranking is hash-exact (no recall hedge needed for the gate;
    * recall vs brute is asserted separately in PqSpec). */
  val annSq8 = QueryDef(
    "ann_sq8",
    Some {
      val quant =
        """CASE WHEN m.mx = m.mn THEN CAST(0 AS BIGINT)
             ELSE least(CAST(floor((p.x - m.mn) / (m.mx - m.mn) * 256.0) AS BIGINT),
               CAST(255 AS BIGINT)) END"""
      s"""WITH $normSqlCte,
      pnv AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS v FROM nx),
      pos AS (SELECT vec_id, i, v[i] AS x FROM pnv, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
      mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM pos GROUP BY i),
      cds AS (SELECT p.vec_id, p.i, $quant AS c
        FROM pos p JOIN mm m ON m.i = p.i),
      recon AS (SELECT c.vec_id,
          list(m.mn + (CAST(c.c AS DOUBLE) + 0.5) * (m.mx - m.mn) / 256.0 ORDER BY c.i) AS rv
        FROM cds c JOIN mm m ON m.i = c.i GROUP BY c.vec_id)
      SELECT id_p, rk, id_c, round(s, 6) AS score FROM (
        SELECT a.vec_id AS id_p, b.vec_id AS id_c,
          list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.rv[i]), (x, y) -> x + y) AS s,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.rv[i]), (x, y) -> x + y) DESC,
            b.vec_id) AS rk
        FROM pnv a JOIN recon b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) t
      WHERE rk <= 5 ORDER BY id_p, rk"""
    },
    (s, d) => AnnApi.sq8TopK(Tables.embeddings(s, d), "vec_id", "embedding",
      Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id"))))

  /** Oracle of the exact covariance moments: embedding coordinates
    * `x(vec_id, i, x)`, DECIMAL cross sums `p(i, j, n, sxy)` for
    * i ≤ j, and coordinate sums `s(i, sx)`. */
  private def covMomentsSql: String =
    s"""x AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
      p AS (SELECT a.i AS i, b.i AS j, count(*) AS n,
          sum(CAST(a.x * b.x AS DECIMAL(28,12))) AS sxy
        FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY a.i, b.i),
      s AS (SELECT i, sum(CAST(x AS DECIMAL(28,12))) AS sx FROM x GROUP BY i)"""

  /** Exact corpus covariance matrix (upper triangle, 1-based dims) —
    * the second-moment audit behind whitening/PCA decisions on an
    * embedding corpus. Both moments come from ONE corpus scan via the
    * native decimal aggregates ([[graft.functions.VecSumDec]] for
    * Σx, [[graft.functions.OuterSumDec]] for Σxy): exact decimal
    * sums are merge-order-free, so the matrix is bit-identical under
    * any partitioning, and the exchange carries one fixed-size
    * triangle buffer per partition instead of the corpus×dim² rows
    * of the posexplode self-join the oracle runs. `cov = (Σxy −
    * ΣxΣy/n)/n` evaluated in the same operation order on both
    * engines from the same exact sums. The oracle adds `+ 0.0` after
    * its round: a near-zero negative covariance rounds to IEEE −0.0
    * in DuckDB, while Spark's BigDecimal-based round can only produce
    * +0.0 — the add normalizes −0.0 to +0.0 and is exact for every
    * other double. */
  val vecCovariance = QueryDef(
    "vec_covariance",
    Some(s"""WITH $covMomentsSql
      SELECT p.i, p.j,
        round((CAST(sxy AS DOUBLE) - CAST(sa.sx AS DOUBLE) * CAST(sb.sx AS DOUBLE) / n) / n, 6) + 0.0 AS cov
      FROM p JOIN s sa ON p.i = sa.i JOIN s sb ON p.j = sb.i
      ORDER BY p.i, p.j"""),
    (s, d) => {
      graft.functions.Natives.ensure(s)
      Tables.embeddings(s, d)
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .agg(call_function("graft_vecsum_dec", col("v")).as("sv"),
          call_function("graft_outer_sum_dec", col("v")).as("so"))
        .select(col("sv.sum").as("sx"), explode(col("so")).as("c"))
        .select(col("c.i").as("i"), col("c.j").as("j"),
          round((col("c.sum").cast("double")
            - element_at(col("sx"), col("c.i").cast("int")).cast("double")
              * element_at(col("sx"), col("c.j").cast("int")).cast("double") / col("c.cnt"))
            / col("c.cnt"), 6).as("cov"))
        .orderBy(col("i"), col("j"))
    })

  // ------------------------------------------------------------- mmr
  /** MMR gate constants: λ = 0.5 (exact in binary, so `1 − λ` is too),
    * pool 20, k = 5, probes `vec_id < 3`. */
  val MmrPool = 20
  val MmrK = 5

  /** Unrolled MMR rounds as CTEs: `cum_t` is the selected set after
    * step t; each round scores the not-yet-selected pool rows by
    * `0.5·cos − 0.5·max_sim_to_selected` and picks the per-probe
    * argmax with id tie-break — the same greedy
    * [[AnnApi.mmrTopK]] executes distributed. */
  private def mmrSqlCtes: String = {
    val dotRS = "list_reduce(list_transform(range(1, len(r.v) + 1), i -> r.v[i] * s.v[i]), (x, y) -> x + y)"
    val sb = new StringBuilder(
      s"""pool0 AS (SELECT a.vec_id AS id_p, b.vec_id AS id_c, $dotSql / (a.nrm * b.nrm) AS cos,
          b.v AS v, b.nrm AS nrm,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY $dotSql / (a.nrm * b.nrm) DESC, b.vec_id) AS rk
        FROM nx a JOIN nx b ON a.vec_id < 3 AND a.vec_id <> b.vec_id),
      p AS (SELECT id_p, id_c, cos, v, nrm FROM pool0 WHERE rk <= $MmrPool),
      cum1 AS (SELECT id_p, 1 AS step, id_c, 0.5 * cos AS mmr, cos, v, nrm FROM pool0 WHERE rk = 1)""")
    for (t <- 2 to MmrK) {
      sb.append(s""",
      ms$t AS (SELECT r.id_p, r.id_c, max($dotRS / (r.nrm * s.nrm)) AS msim
        FROM p r JOIN cum${t - 1} s ON s.id_p = r.id_p
        WHERE NOT EXISTS (SELECT 1 FROM cum${t - 1} c WHERE c.id_p = r.id_p AND c.id_c = r.id_c)
        GROUP BY r.id_p, r.id_c),
      pick$t AS (SELECT id_p, $t AS step, id_c, mmr, cos, v, nrm FROM (
        SELECT m.id_p, m.id_c, 0.5 * r.cos - 0.5 * m.msim AS mmr, r.cos, r.v, r.nrm,
          row_number() OVER (PARTITION BY m.id_p ORDER BY 0.5 * r.cos - 0.5 * m.msim DESC, m.id_c) AS rk
        FROM ms$t m JOIN p r ON r.id_p = m.id_p AND r.id_c = m.id_c) z WHERE rk = 1),
      cum$t AS (SELECT * FROM cum${t - 1} UNION ALL SELECT * FROM pick$t)""")
    }
    sb.toString
  }

  /** Diversity-aware top-k: greedy Maximal Marginal Relevance over the
    * exact top-[[MmrPool]] pool per probe — see [[AnnApi.mmrTopK]] for
    * the algorithm and scale shape (corpus scanned once for the pool;
    * the greedy rounds are probe-keyed joins on the persisted pool).
    * The oracle unrolls the identical greedy rounds as CTEs; scores
    * agree bit-for-bit because every cosine is the shared
    * left-to-right fold, the per-candidate max over selected is
    * order-independent, and λ = 0.5 keeps the MMR combination an
    * exactly-representable fixed-order expression. */
  val annMmr = QueryDef(
    "ann_mmr",
    Some(s"""WITH $normSqlCte, $mmrSqlCtes
      SELECT id_p, step, id_c, round(cos, 6) AS cos, round(mmr, 6) AS mmr
      FROM cum$MmrK ORDER BY id_p, step"""),
    (s, d) => {
      AnnApi.mmrTopK(Tables.embeddings(s, d), "vec_id", "embedding",
          Tables.embeddings(s, d).filter(col("vec_id") < 3).select(col("vec_id")),
          poolSize = MmrPool, k = MmrK, lambda = 0.5)
    })

  // ------------------------------------------------------ pca project
  /** Power-iteration count for the gated PCA projection (matches the
    * [[AnnApi.principalComponent]] default). */
  val PcaIters = 100

  /** PCA projection gated end to end — the r5 round shipped
    * `principalComponent` as API-only (spec-verified); this puts the
    * WHOLE path under the DuckDB gate: exact decimal moments →
    * covariance → 100 driver-side power-iteration rounds → centered
    * per-vector projection. The oracle rebuilds the covariance from
    * the same decimal sums (the `vec_covariance` CTEs, unrounded),
    * then replays the identical power iteration as a RECURSIVE CTE —
    * matrix-vector products and norms as the same left-to-right
    * folds, the same 1/√d start vector, the same first-nonzero-
    * positive sign convention — and projects with the same
    * `(x − mean) · e` ordered fold. A hash-green row therefore proves
    * the driver-side linear algebra reproduces bit-for-bit outside
    * the JVM, not just inside it. */
  val vecPcaProject = QueryDef(
    "vec_pca_project",
    Some(s"""WITH $covMomentsSql,
      nn AS (SELECT count(*) AS n FROM embeddings),
      cv AS (SELECT p.i AS i, p.j AS j,
          (CAST(sxy AS DOUBLE) - CAST(sa.sx AS DOUBLE) * CAST(sb.sx AS DOUBLE) / p.n) / p.n AS c
        FROM p JOIN s sa ON p.i = sa.i JOIN s sb ON p.j = sb.i),
      cf AS (SELECT i, j, c FROM cv UNION ALL SELECT j AS i, i AS j, c FROM cv WHERE i <> j),
      mr AS (SELECT i, list(c ORDER BY j) AS r FROM cf GROUP BY i),
      mm AS (SELECT list(r ORDER BY i) AS m FROM mr),
      mn AS (SELECT list(CAST(s.sx AS DOUBLE) / nn.n ORDER BY s.i) AS mean FROM s, nn),
      pw AS (SELECT 0 AS it, list_transform(range(1, ${Dim + 1}), i -> 1.0 / sqrt(${Dim}.0)) AS v
        UNION ALL
        SELECT b.it + 1, list_transform(b.w, x -> x / b.nrm) AS v FROM (
          SELECT a.it, a.w,
            sqrt(list_reduce(list_transform(a.w, y -> y * y), (acc, z) -> acc + z)) AS nrm FROM (
            SELECT pw.it, list_transform(range(1, ${Dim + 1}), i ->
                list_reduce(list_transform(range(1, ${Dim + 1}), j -> mm.m[i][j] * pw.v[j]),
                  (acc, z) -> acc + z)) AS w
            FROM pw, mm WHERE pw.it < $PcaIters) a) b),
      ev AS (SELECT CASE WHEN len(list_filter(v, x -> x <> 0.0)) > 0
            AND list_filter(v, x -> x <> 0.0)[1] < 0
          THEN list_transform(v, x -> -x) ELSE v END AS e
        FROM pw WHERE it = $PcaIters)
      SELECT em.vec_id,
        round(list_reduce(list_transform(range(1, ${Dim + 1}), k ->
          (CAST(em.embedding[k] AS DOUBLE) - mn.mean[k]) * ev.e[k]), (acc, z) -> acc + z), 6) AS proj
      FROM embeddings em, mn, ev ORDER BY em.vec_id""".replaceFirst("WITH ", "WITH RECURSIVE ")),
    (s, d) => AnnApi.pcaProject(Tables.embeddings(s, d), "vec_id", "embedding", iters = PcaIters)
      .select(col("vec_id"), round(col("proj"), 6).as("proj"))
      .orderBy(col("vec_id")))

  // ----------------------------------------------------- range search
  /** Cosine threshold for the range-search gate — sized to the test
    * embeddings (probe-pair cosine tops out near 0.49 at sf0.01, p99
    * ≈ 0.29), so the radius keeps the top ~1% while exercising real
    * boundary decisions. */
  val RangeTau = 0.3

  /** Radius search: every candidate within cosine ≥ [[RangeTau]] of a
    * probe, via the same 4-table hyperplane buckets as [[lsh]] — the
    * answer is similarity-bounded instead of count-bounded (top-k's
    * contract). The oracle mirrors the bucket join, so hash equality
    * pins candidate generation AND the threshold verify; recall vs a
    * brute threshold scan is asserted in `EngineSpec` (bucketed recall
    * is the documented trade, same as [[lsh]]). */
  val annRange = QueryDef(
    "ann_range_search",
    Some(s"""WITH $normSqlCte,
      ${lshBucketsSql("tb")},
      $lshCandSql
      SELECT id_p, id_c, round(c, 6) AS cos FROM (
        SELECT cd.id_p, cd.id_c, $dotSql / (a.nrm * b.nrm) AS c
        FROM cand cd JOIN nx a ON a.vec_id = cd.id_p JOIN nx b ON b.vec_id = cd.id_c) t
      WHERE c >= $RangeTau ORDER BY id_p, c DESC, id_c"""),
    (s, d) => AnnApi.lshRange(Tables.embeddings(s, d), "vec_id", "embedding",
      Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id")),
      tau = RangeTau))

  // ---------------------------------------------------- rp projection
  /** JL random projection: output dimensionality and the
    * deterministic ±1 matrix (Achlioptas 2003 — database-friendly
    * random projections: ±1 entries preserve pairwise distances in
    * expectation like Gaussians, and the md5-derived signs make the
    * matrix portable to the oracle by construction). */
  val RpDim = 8
  private def rpSign(j: Int, i: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp_plane_${j}_$i".getBytes("UTF-8"))
    if ((md(0) & 1) == 1) 1 else -1
  }
  private val rpSigns: IndexedSeq[IndexedSeq[Int]] =
    (0 until RpDim).map(j => (0 until Dim).map(i => rpSign(j, i)))

  /** vec_rp_project: Johnson–Lindenstrauss ±1 random projection
    * 64 → 8 dims — the cheap dimensionality-reduction staple feeding
    * coarse clustering / visualization / pre-LSH whitening. Purely
    * MAP-ONLY: each output coordinate is one `graft_dot` fold against
    * a broadcast-literal sign row over the scaled input — zero
    * shuffles at any corpus size (the ORDER BY exists only for oracle
    * determinism). Determinism: the fold is the same left-to-right
    * IEEE sum in both engines (±1·x = ±x exactly), the 1/√8 scaling
    * is one correctly-rounded division. */
  val vecRpProject = QueryDef(
    "vec_rp_project",
    Some {
      val cols = (0 until RpDim).map { j =>
        val terms = rpSigns(j).zipWithIndex
          .map { case (sg, i) => if (sg > 0) s"v[${i + 1}]" else s"(- v[${i + 1}])" }
          .mkString(" + ")
        s"round(($terms) / sqrt(CAST($RpDim AS DOUBLE)), 6) AS p$j"
      }.mkString(", ")
      s"""WITH $normSqlCte
      SELECT vec_id, $cols FROM nx ORDER BY vec_id"""
    },
    (s, d) => {
      graft.functions.Natives.ensure(s)
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val cols = (0 until RpDim).map { j =>
        val arr = rpSigns(j).map(sg => s"CAST($sg AS DOUBLE)").mkString("array(", ", ", ")")
        expr(s"round(graft_dot($arr, v) / sqrt(CAST($RpDim AS DOUBLE)), 6)").as(s"p$j")
      }
      base.select(col("vec_id") +: cols: _*).orderBy(col("vec_id"))
    })

  // ------------------------------------------------------- knn graph
  /** k for the corpus-wide neighbor graph. */
  val KnnGraphK = 3
  /** Per-(table, bucket) population cap for the gated graph (r7 —
    * closes the r6 "unguarded Σ|bucket|²" verdict item): buckets
    * above this never enter the self-join, in ENGINE AND ORACLE
    * alike, so the gate pins the cap semantics too. Generous at gate
    * scale (sf0.1 averages ≈ n/16 ≈ 400/bucket) — it is the
    * megabucket pathology guard, not a recall tuner; production runs
    * scale the plane count as well via `AnnApi.knnGraphScaled`. */
  val KnnGraphMaxBucket = 1024

  /** ann_knn_graph: the corpus-wide k-NN GRAPH — every vector's top-k
    * bucket-mates plus the MUTUAL flag (reverse edge also present),
    * the precursor structure for SemDeDup-style clustering, kNN
    * classification, and graph-based ANN. Candidates come from the
    * identical 4-table hyperplane buckets as [[lsh]] with EVERY
    * vector as a probe: one corpus→(table, bucket) shuffle, candidate
    * volume Σ|bucket|² bounded by the plane count AND the
    * [[KnnGraphMaxBucket]] population cap (dropped buckets are
    * excluded by both engines — the cap is part of the gated
    * semantics), exact-cosine re-rank per source (window frame ≤
    * candidate count). The mutual flag is ONE pairs-scale self-join
    * on the reversed key — never a corpus re-shuffle. The oracle
    * mirrors buckets, cap, ranking, and the reverse join, so hash
    * equality pins the full graph. */
  val annKnnGraph = QueryDef(
    "ann_knn_graph",
    Some(s"""WITH $normSqlCte,
      ${lshBucketsSql("tb0")},
      bsz AS (SELECT t, bk, count(*) AS bn FROM tb0 GROUP BY t, bk),
      tb AS (SELECT tb0.* FROM tb0 JOIN bsz ON tb0.t = bsz.t AND tb0.bk = bsz.bk
        WHERE bsz.bn <= $KnnGraphMaxBucket),
      cand AS (SELECT DISTINCT ca.vec_id AS src, cb.vec_id AS dst
        FROM tb ca JOIN tb cb ON ca.t = cb.t AND ca.bk = cb.bk AND ca.vec_id <> cb.vec_id),
      topk AS (SELECT src, dst, c, rk FROM (
        SELECT cd.src, cd.dst, $dotSql / (a.nrm * b.nrm) AS c,
          row_number() OVER (PARTITION BY cd.src ORDER BY $dotSql / (a.nrm * b.nrm) DESC, cd.dst) AS rk
        FROM cand cd JOIN nx a ON a.vec_id = cd.src JOIN nx b ON b.vec_id = cd.dst) t
        WHERE rk <= $KnnGraphK)
      SELECT k.src, k.rk, k.dst, round(k.c, 6) AS cos,
        (r.src IS NOT NULL) AS mutual
      FROM topk k LEFT JOIN topk r ON r.src = k.dst AND r.dst = k.src
      ORDER BY k.src, k.rk"""),
    (s, d) => {
      AnnApi.knnGraph(Tables.embeddings(s, d), "vec_id", "embedding", KnnGraphK,
          maxBucketSize = KnnGraphMaxBucket)
    })

  // ------------------------------------------------------ silhouette
  /** vec_silhouette: centroid-based simplified silhouette per label
    * cluster — see [[AnnApi.silhouette]] for the algorithm and the
    * broadcast/map-only scale argument. The oracle rebuilds the
    * decimal centroid means with the ivf machinery and replays the
    * identical distance folds, so a hash-green row pins centroids,
    * distances, and the per-cluster means end to end. */
  val vecSilhouette = QueryDef(
    "vec_silhouette",
    Some(s"""WITH $normSqlCte,
      pos AS (SELECT vec_id, label, i, v[i] AS x FROM nx, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
      cent AS (SELECT label, i, CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
        FROM pos GROUP BY label, i),
      crow AS (SELECT label AS cl, list(m ORDER BY i) AS cm FROM cent GROUP BY label),
      ccn AS (SELECT cl, cm, list_reduce(list_transform(cm, x -> x * x), (a, b) -> a + b) AS cc FROM crow),
      d AS (SELECT n.vec_id, n.label, c.cl,
          sqrt(greatest(list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * n.v[i]), (a, b) -> a + b)
            - 2 * list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cm[i]), (a, b) -> a + b)
            + c.cc, CAST(0 AS DOUBLE))) AS d
        FROM nx n, ccn c),
      ab AS (SELECT vec_id, label,
          min(CASE WHEN cl = label THEN d END) AS a,
          min(CASE WHEN cl <> label THEN d END) AS b
        FROM d GROUP BY vec_id, label),
      sil AS (SELECT label,
          CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b) ELSE CAST(0 AS DOUBLE) END AS s
        FROM ab)
      SELECT label, count(*) AS n,
        round(CAST(sum(CAST(round(s, 12) AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS mean_sil
      FROM sil GROUP BY label ORDER BY label"""),
    (s, d) => AnnApi.silhouette(Tables.embeddings(s, d), "vec_id", "embedding", "label"))

  // -------------------------------------------------------- outliers
  /** vec_outliers: embedding-corpus outlier audit — per-label counts
    * of vectors farther than mean + 2σ from the GLOBAL centroid (the
    * embedding-QA pass that catches corrupt encodes / wrong-modality
    * rows before they poison ANN recall). One `graft_vecsum_dec`
    * centroid aggregate (one row, broadcast), a MAP-ONLY distance
    * pass (the silhouette folds, NaN-guarded), 12-dp/8-dp-rounded
    * DECIMAL distance moments (merge-order-free), and a map-only
    * flag — the corpus is never joined or shuffled. The threshold
    * is one fixed-order IEEE expression shared with the oracle, so
    * every boundary decision lands identically. */
  val vecOutliers = QueryDef(
    "vec_outliers",
    Some(s"""WITH $normSqlCte,
      pos AS (SELECT vec_id, i, v[i] AS x FROM nx, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
      cent AS (SELECT i, CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m FROM pos GROUP BY i),
      crow AS (SELECT list(m ORDER BY i) AS cm FROM cent),
      ccn AS (SELECT cm, list_reduce(list_transform(cm, x -> x * x), (p, q) -> p + q) AS c2 FROM crow),
      dd AS (SELECT n.vec_id, n.label,
          sqrt(greatest(list_reduce(list_transform(range(1, ${Dim + 1}), i -> n.v[i] * n.v[i]), (p, q) -> p + q)
            - 2 * list_reduce(list_transform(range(1, ${Dim + 1}), i -> n.v[i] * c.cm[i]), (p, q) -> p + q)
            + c.c2, CAST(0 AS DOUBLE))) AS d
        FROM nx n, ccn c),
      mo AS (SELECT count(*) AS n,
          CAST(sum(CAST(round(d, 12) AS DECIMAL(28,12))) AS DOUBLE) AS s1,
          CAST(sum(CAST(round(d * d, 8) AS DECIMAL(28,8))) AS DOUBLE) AS s2
        FROM dd),
      th AS (SELECT s1 / n + 2 * sqrt((s2 - s1 * s1 / n) / (n - 1)) AS thr FROM mo)
      SELECT label, count(*) AS n,
        CAST(sum(CASE WHEN d > thr THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dd, th GROUP BY label ORDER BY label"""),
    (s, d) => {
      graft.functions.Natives.ensure(s)
      val n = AnnApi.normalized(Tables.embeddings(s, d), "vec_id", "embedding", Seq("label"))
      val cents = n.agg(call_function("graft_vecsum_dec", col("v")).as("sv"))
        .select(expr("zip_with(sv.sum, sv.cnt, (x, c) -> CAST(x AS DOUBLE) / c)").as("cm"))
        .select(col("cm"), expr("graft_dot(cm, cm)").as("c2"))
      val dd = graft.CacheScope.untracked.persist(n.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("label"),
          expr("""sqrt(greatest(graft_dot(v, v) - 2 * graft_dot(v, cm) + c2,
                 CAST(0 AS DOUBLE)))""").as("d")))
      val mo = dd.agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(d, 12) AS DECIMAL(28,12))")).cast("double").as("s1"),
        sum(expr("CAST(round(d * d, 8) AS DECIMAL(28,8))")).cast("double").as("s2"))
      val th = mo.selectExpr("s1 / n + 2 * sqrt((s2 - s1 * s1 / n) / (n - 1)) AS thr")
      dd.crossJoin(broadcast(th))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("d") > col("thr"), 1L).otherwise(0L)).as("n_outliers"))
        .orderBy(col("label"))
    })

  // ------------------------------------------------- hybrid RRF
  /** Retrieval depth of each list feeding the fusion, the RRF
    * constant (Cormack et al. 2009's k = 60), and the fused cut. */
  val HybridDepth = 20
  val RrfK = 60
  val HybridTopK = 10

  /** Oracle twin of [[AnnApi.bm25TopK]]'s scoring for the probe docs
    * (doc_id < 10): `lexsc(id_p, doc_id, s)`, each candidate's exact
    * DECIMAL BM25 sum over the probe's distinct tokens. */
  private def bm25ScoresSql: String =
    s"""t AS (SELECT doc_id, string_split(${Portable.normTextSql("text")}, ' ') AS toks FROM documents),
      tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS tok FROM t),
      st AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(CAST(len(toks) AS BIGINT)) AS DOUBLE) / count(*) AS avgdl FROM t),
      qv AS (SELECT DISTINCT doc_id AS id_p, tok FROM tok WHERE doc_id < 10),
      tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf FROM tok
        WHERE tok IN (SELECT tok FROM qv) GROUP BY doc_id, dl, tok),
      dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
      term AS (SELECT qv.id_p, tf.doc_id, CAST(${graft.operators.Insights.bm25Frag} AS DECIMAL(28,12)) AS ts
        FROM qv JOIN tf ON qv.tok = tf.tok JOIN dft ON tf.tok = dft.tok, st
        WHERE tf.doc_id <> qv.id_p),
      lexsc AS (SELECT id_p, doc_id, sum(ts) AS s FROM term GROUP BY id_p, doc_id)"""

  /** ann_hybrid_rrf: hybrid lexical+vector retrieval fused by
    * reciprocal rank (r9) — the RAG-stack retrieval shape: per probe
    * document, (a) a BM25 ranking of the corpus against the probe's
    * own token set (the query-by-document form; scoring is q73's
    * exact [[graft.operators.Insights.bm25Frag]] discipline — 12-dp
    * terms summed as DECIMAL, ranked on the exact sum), (b) the
    * exact cosine ranking of its embedding (the baseline generator —
    * swap [[AnnApi.lshTopK]]/ivf in at corpus scale, the tier's
    * documented composition point), then [[AnnApi.rrfFuse]] unites
    * them at 1/(60+rank), no score calibration across modalities.
    *
    * 100 TB shape: the probe vocabulary is broadcast (a query set is
    * small by definition) and the lexical candidate volume is the
    * postings mass Σ_t df(t)·qf(t) — the inverted-index query bound,
    * never corpus×corpus; one corpus tokenize scan feeds tf/df/stats
    * as shrinking aggregates; the fusion itself is a UNION + one
    * (probe, doc)-grain map-combinable aggregate, never a join. */
  val hybridRrf = QueryDef(
    "ann_hybrid_rrf",
    Some(s"""WITH $bm25ScoresSql,
      lex AS (SELECT id_p, doc_id, rk FROM (SELECT id_p, doc_id,
          row_number() OVER (PARTITION BY id_p ORDER BY s DESC, doc_id) AS rk FROM lexsc) z
        WHERE rk <= $HybridDepth),
      $normSqlCte,
      vec AS (SELECT id_p, doc_id, rk FROM (
          SELECT a.vec_id AS id_p, b.vec_id AS doc_id,
            row_number() OVER (PARTITION BY a.vec_id ORDER BY $dotSql / (a.nrm * b.nrm) DESC, b.vec_id) AS rk
          FROM nx a JOIN nx b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) z
        WHERE rk <= $HybridDepth),
      u AS (SELECT id_p, doc_id, CAST(1 AS DOUBLE) / ($RrfK + rk) AS term,
          CAST(rk AS BIGINT) AS lex_rk, CAST(NULL AS BIGINT) AS vec_rk FROM lex
        UNION ALL SELECT id_p, doc_id, CAST(1 AS DOUBLE) / ($RrfK + rk),
          CAST(NULL AS BIGINT), CAST(rk AS BIGINT) FROM vec),
      f AS (SELECT id_p, doc_id, sum(term) AS rrf, min(lex_rk) AS lex_rk,
        min(vec_rk) AS vec_rk FROM u GROUP BY id_p, doc_id)
      SELECT id_p, rk, doc_id, rrf, lex_rk, vec_rk FROM (
        SELECT id_p, doc_id, rrf, lex_rk, vec_rk,
          row_number() OVER (PARTITION BY id_p ORDER BY rrf DESC, doc_id) AS rk FROM f) z
      WHERE rk <= $HybridTopK ORDER BY id_p, rk"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val lex = AnnApi.bm25TopK(docs, "doc_id", "text",
          docs.filter(col("doc_id") < 10).select(col("doc_id")), HybridDepth)
        .select(col("id_p"), col("id_c").as("doc_id"), col("rk"))
      val probes = Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id"))
      val vec = AnnApi.bruteTopK(Tables.embeddings(s, d), "vec_id", "embedding",
          probes, HybridDepth)
        .select(col("id_p"), col("id_c").as("doc_id"), col("rk"))
      AnnApi.rrfFuse(lex, vec, RrfK, HybridTopK)
    })

  // ---------------------------------------------------- nDCG audit
  /** ann_ndcg: nDCG@10 of the LSH index's ranking against the exact
    * cosine ranking (r9) — the ORDER-quality companion to
    * `ann_recall_audit`'s set-quality readout (Järvelin–Kekäläinen
    * 2002): the exact top-10 neighbor at rank r carries graded gain
    * 11−r, the approximate list's DCG divides by the ideal. Recall
    * can stay flat while the index scrambles the head — this is the
    * metric that catches it. Discounts 1/log₂(i+1) are pinned 12-dp
    * literals and the DCG is exact decimal algebra; the only IEEE op
    * is the final division by the ideal-DCG literal, so a perfect
    * list scores exactly 1.0 in both engines ([[AnnApi.ndcgReadout]]).
    * Probe-sample-sized by construction — corpus-scale cost is the
    * two audited rankings themselves. */
  val ndcgAudit = QueryDef(
    "ann_ndcg",
    Some {
      val idcg = AnnApi.ndcgIdcg(10).toPlainString
      s"""WITH $normSqlCte,
      ${lshBucketsSql("tb")},
      $lshCandSql,
      ${lshRankSql("id_p, id_c, rk", 10)},
      ${bruteRankSql("id_p, id_c, rk AS brk", 10)},
      ${ndcgTermsSql("lshk")}
      SELECT id_p, CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        CAST(sum(term) AS DOUBLE) AS dcg,
        CAST(sum(term) AS DOUBLE) / CAST($idcg AS DOUBLE) AS ndcg
      FROM tm GROUP BY id_p ORDER BY id_p"""
    },
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 10).select(col("vec_id"))
      val brute = AnnApi.bruteTopK(emb, "vec_id", "embedding", probes, 10)
      val l = AnnApi.lshTopK(emb, "vec_id", "embedding", probes, 10)
      AnnApi.ndcgReadout(l, brute, 10)
    })

  /** pipeline_retrieval_eval: the composed index-quality report —
    * recall@5 + nDCG@10 off ONE persisted pair of depth-10 rankings
    * (r9; [[AnnApi.retrievalEval]]): the standalone `ann_recall_audit`
    * and `ann_ndcg` gates each rebuild the brute and LSH rankings by
    * gate-isolation design, so the composed gate costs ≈ one single,
    * not two — the `pipeline_ml_readouts` pattern on the ANN tier.
    * recall@5 sides are prefix FILTERS of the shared depth-10 lists. */
  // ------------------------------------------------- filtered search
  /** ann_filtered_search: metadata-filtered vector search — exact
    * cosine top-5 per probe among candidates whose DOCUMENT row
    * passes the source predicate (see [[AnnApi.filteredTopK]]: the
    * "WHERE clause on a vector query"; pre-filter semantics, so the
    * slice always yields k hits when k exist — post-filtering a
    * global top-k is the classic filtered-ANN recall bug). The
    * allowed-id list is cut from the `documents` table and
    * semi-joined into the candidate side BEFORE any distance is
    * computed; same determinism contract as `ann_brute_topk`
    * (shared cosine folds, id tiebreak, 6-dp display). */
  val filteredSearch = QueryDef(
    "ann_filtered_search",
    Some(s"""WITH $normSqlCte,
      al AS (SELECT doc_id FROM documents
        WHERE source IN ('src1', 'src2', 'src3', 'src4', 'src5'))
      SELECT id_p, rk, id_c, round(c, 6) AS cos FROM (
        SELECT a.vec_id AS id_p, b.vec_id AS id_c, $dotSql / (a.nrm * b.nrm) AS c,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY $dotSql / (a.nrm * b.nrm) DESC, b.vec_id) AS rk
        FROM nx a JOIN nx b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
        JOIN al ON b.vec_id = al.doc_id) t
      WHERE rk <= 5 ORDER BY id_p, rk"""),
    (s, d) => AnnApi.filteredTopK(Tables.embeddings(s, d), "vec_id", "embedding",
      Tables.embeddings(s, d).filter(col("vec_id") < 10).select(col("vec_id")),
      Tables.documents(s, d)
        .filter(col("source").isin("src1", "src2", "src3", "src4", "src5"))
        .select(col("doc_id").as("vec_id"))))

  val retrievalEval = QueryDef(
    "pipeline_retrieval_eval",
    Some {
      val idcg = AnnApi.ndcgIdcg(10).toPlainString
      s"""WITH $normSqlCte,
      ${lshBucketsSql("tb")},
      $lshCandSql,
      ${lshRankSql("id_p, id_c, rk", 10)},
      ${bruteRankSql("id_p, id_c, rk AS brk", 10)},
      rec AS (SELECT b.id_p, CAST(count(l.id_c) AS BIGINT) AS n_hits,
          CAST(count(l.id_c) AS DOUBLE) / 5.0 AS value
        FROM (SELECT id_p, id_c FROM bru WHERE brk <= 5) b
        LEFT JOIN (SELECT id_p, id_c FROM lshk WHERE rk <= 5) l
          ON l.id_p = b.id_p AND l.id_c = b.id_c
        GROUP BY b.id_p),
      ${ndcgTermsSql("lshk")},
      nd AS (SELECT id_p, CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
          CAST(sum(term) AS DOUBLE) / CAST($idcg AS DOUBLE) AS value
        FROM tm GROUP BY id_p)
      SELECT 'ndcg10' AS readout, id_p, n_hits, value FROM nd
      UNION ALL SELECT 'recall5', id_p, n_hits, value FROM rec
      ORDER BY readout, id_p"""
    },
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 10).select(col("vec_id"))
      AnnApi.retrievalEval(emb, "vec_id", "embedding", probes)
    })

  // --------------------------------------------------- BM25 retrieval
  /** text_bm25_topk: standalone BM25 top-10 retrieval per probe doc
    * (r11; [[AnnApi.bm25TopK]] — the lexical arm `ann_hybrid_rrf`
    * fuses, surfaced as its own ranked readout) PLUS the
    * nDCG@10-vs-cosine comparison row per probe: how well the lexical
    * ranking reproduces the EXACT semantic (cosine) neighbor order —
    * the agreement readout a hybrid-retrieval designer reads to set
    * fusion weights (low agreement = the modalities are complementary
    * and fusion has headroom; the tier's existing nDCG audits grade
    * an INDEX against its own exact metric — this row grades one
    * modality against the other).
    *
    * Determinism: scores are q73's 12-dp-decimal term sums ranked on
    * the EXACT decimal with candidate-id tiebreak (equal-score ties
    * order by id — fixture-pinned); the nDCG row is exact-decimal
    * gains/discounts with one final IEEE division
    * ([[AnnApi.ndcgReadout]]). Output keyed
    * (readout, id_p, k, ref, value): ('topk', probe, rank, doc,
    * score) rows and ('ndcg10_vs_cosine', probe, 0, n_hits, ndcg)
    * rows in one uniform schema.
    *
    * 100 TB shape: the lexical side is the inverted-index access path
    * (corpus tokenizes once, semi-joined to the broadcast probe
    * vocabulary — candidate volume is the postings mass, never
    * corpus²); the cosine side is the audited brute ranking (swap
    * LSH/IVF at scale); the comparison is probe-sample-sized. */
  val bm25TopKQ = QueryDef(
    "text_bm25_topk",
    Some {
      val idcg = AnnApi.ndcgIdcg(10).toPlainString
      s"""WITH $bm25ScoresSql,
      lexk AS (SELECT id_p, doc_id AS id_c, s, rk FROM (SELECT id_p, doc_id, s,
          row_number() OVER (PARTITION BY id_p ORDER BY s DESC, doc_id) AS rk FROM lexsc) z
        WHERE rk <= 10),
      $normSqlCte,
      ${bruteRankSql("id_p, id_c, rk AS brk", 10, "z")},
      ${ndcgTermsSql("lexk")},
      nd AS (SELECT id_p, CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
          CAST(sum(term) AS DOUBLE) / CAST($idcg AS DOUBLE) AS ndcg
        FROM tm GROUP BY id_p)
      SELECT readout, id_p, k, ref, value FROM (
        SELECT 'topk' AS readout, id_p, CAST(rk AS BIGINT) AS k, id_c AS ref,
          CAST(s AS DOUBLE) AS value FROM lexk
        UNION ALL SELECT 'ndcg10_vs_cosine', id_p, CAST(0 AS BIGINT), n_hits,
          ndcg FROM nd) u
      ORDER BY readout, id_p, k, ref"""
    },
    (s, d) => {
      val docs = Tables.documents(s, d)
      val lex = graft.CacheScope.untracked.persist(AnnApi.bm25TopK(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 10).select(col("doc_id")), 10))
      val emb = Tables.embeddings(s, d)
      val brute = AnnApi.bruteTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10).select(col("vec_id")), 10)
      val nd = AnnApi.ndcgReadout(lex.select(col("id_p"), col("rk"), col("id_c")), brute, 10)
      val top = lex.select(lit("topk").as("readout"), col("id_p"),
        col("rk").cast(LongType).as("k"), col("id_c").as("ref"),
        col("s").cast(DoubleType).as("value"))
      val cmp = nd.select(lit("ndcg10_vs_cosine").as("readout"), col("id_p"),
        lit(0L).as("k"), col("n_hits").as("ref"), col("ndcg").as("value"))
      top.unionAll(cmp).orderBy(col("readout"), col("id_p"), col("k"), col("ref"))
    })

  val defs: Seq[QueryDef] = Seq(bruteTopK, lsh, ivf, vecKmeans, ivfKmeans, annPq, annIvfPq, annIvfPqResidual, annSq8, vecStats, vecCovariance, annMmr, vecPcaProject, annRange, vecRpProject, annKnnGraph, vecSilhouette, vecOutliers, hardNegatives, recallAudit, mips, dimAudit, hybridRrf, ndcgAudit, retrievalEval, filteredSearch, bm25TopKQ, multiprobeLsh, matryoshkaEval)
}
