package graft.sources

import graft.{Portable, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink layer (SURVEY.md §2 sources): unified schema-checked
  * readers and scale-aware writers for parquet/csv/json/orc. Paths go
  * through Hadoop FS, so the same calls read `s3a://`/`hdfs://` URIs
  * on a real cluster.
  */
object Sources {

  /** Read with an explicit schema (never infer on a 100 TB lake —
    * inference is a full extra pass for csv/json). */
  def read(spark: SparkSession, format: String, path: String,
      schema: Option[StructType] = None, options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format(format).options(options)
    schema.fold(r)(s => r.schema(s)).load(path)
  }

  /** Write with layout control: `partitionBy` prunes future reads on
    * the partition key; `repartition` sizes output files (target
    * 128 MB–1 GB per file at scale, never thousands of tiny files). */
  def write(df: DataFrame, format: String, path: String,
      partitionBy: Seq[String] = Nil, repartition: Option[Int] = None,
      options: Map[String, String] = Map.empty): Unit = {
    val sized = repartition.fold(df)(n =>
      if (partitionBy.nonEmpty) df.repartition(n, partitionBy.map(col): _*) else df.repartition(n))
    val w = sized.write.format(format).mode(SaveMode.Overwrite).options(options)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(path)
  }

  /** Compact a parquet dataset's small files: size-aware repartition
    * and rewrite (the maintenance job every streaming sink needs).
    * Target file count = ceil(bytes / targetFileBytes), min 1. */
  def compact(spark: SparkSession, path: String, targetFileBytes: Long = 512L << 20): Long = {
    val df = spark.read.parquet(path)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = math.max(1L, (bytes / BigInt(targetFileBytes)).toLong +
      (if (bytes % BigInt(targetFileBytes) > 0) 1L else 0L))
    val tmp = path.stripSuffix("/") + "__compacting"
    df.repartition(files.toInt).write.mode(SaveMode.Overwrite).parquet(tmp)
    // atomic-ish swap (a real lake table does this via table commit).
    // Every rename is checked: an unchecked failure here would either
    // silently skip the compaction or — worse — let the rm(bak) below
    // delete the only surviving copy of the data.
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    val fs = new java.io.File(path)
    val bak = new java.io.File(path.stripSuffix("/") + "__old")
    if (!fs.renameTo(bak)) {
      rm(new java.io.File(tmp))
      sys.error(s"compact: could not move $path aside to $bak; dataset left untouched")
    }
    if (!new java.io.File(tmp).renameTo(fs)) {
      val restored = bak.renameTo(fs)
      sys.error(s"compact: could not swap $tmp into $path" +
        (if (restored) "; original restored" else s"; ORIGINAL LEFT AT $bak"))
    }
    rm(bak)
    files
  }

  /** CSV round-trip: events key columns → csv sink → schema-checked
    * csv source → aggregate. The oracle reads the original parquet, so
    * a pass proves the csv path is lossless for these types. */
  val csvRoundtrip = QueryDef(
    "src_csv_roundtrip",
    Some("""SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_users
      FROM events GROUP BY event_type ORDER BY event_type"""),
    (s, d) => {
      val tmp = s"/root/repo/target/graft_tmp/csv_roundtrip_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      val src = Tables.events(s, d).select(col("event_id"), col("user_id"), col("event_type"))
      write(src, "csv", tmp, repartition = Some(2), options = Map("header" -> "true"))
      read(s, "csv", tmp, Some(src.schema), Map("header" -> "true"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_users"))
        .orderBy(col("event_type"))
    }, bench = false)

  /** Hive-style partitioned write + partition-PRUNED read — the
    * layout contract every 100 TB lake depends on: `partitionBy`
    * lays one directory per key, and a reader filtering on the key
    * must touch ONLY those directories (the scan's PartitionFilters,
    * not a post-scan filter — `CompactSpec` pins the plan shape).
    * The gate aggregates the pruned read back against DuckDB over
    * the unpartitioned original, so path-encoded values (the
    * partition column round-trips through directory NAMES, not
    * data pages) are proven lossless. */
  val partitionedPrune = QueryDef(
    "src_partitioned_prune",
    Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        CAST(sum(doc_id) AS BIGINT) AS sum_ids
      FROM documents WHERE lang IN ('en', 'de') GROUP BY lang ORDER BY lang"""),
    (s, d) => {
      val tmp = s"/root/repo/target/graft_tmp/partitioned_prune_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      val src = Tables.documents(s, d).select(col("doc_id"), col("n_chars"), col("lang"))
      write(src, "parquet", tmp, partitionBy = Seq("lang"))
      // no explicit schema: the partition column's type comes from
      // directory discovery, the data columns from the parquet footer
      read(s, "parquet", tmp)
        .filter(col("lang").isin("en", "de"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang"))
    }, bench = false)

  /** Parquet schema-evolution read — the LAKE-side twin of the schema
    * engine's `union_by_name` diff: two writers with compatible but
    * different schemas (v2 adds a column) land in one dataset, and a
    * `mergeSchema` read reconciles them by NAME, nulling the missing
    * column for v1 files. The gate aggregates the merged read with
    * null-aware sums against DuckDB reconstructing the same union —
    * proving added-column evolution works end-to-end at the file
    * level, not just in the diff engine. */
  val mergeSchemaRead = QueryDef(
    "src_mergeschema_read",
    Some("""WITH v1 AS (SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
        FROM documents WHERE doc_id % 2 = 0),
      v2 AS (SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1),
      u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
      SELECT lang, count(*) AS n, count(n_chars) AS n_with_chars,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM u GROUP BY lang ORDER BY lang"""),
    (s, d) => {
      val tmp = s"/root/repo/target/graft_tmp/mergeschema_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      val docs = Tables.documents(s, d)
      // two writers, two schemas: v1 lacks n_chars (the pre-evolution
      // files), v2 carries it
      write(docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang")),
        "parquet", s"$tmp/part=v1")
      write(docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("lang"), col("n_chars")),
        "parquet", s"$tmp/part=v2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/part=v1", s"$tmp/part=v2")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), count(col("n_chars")).as("n_with_chars"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }, bench = false)

  /** JSON round-trip on string/long columns via the documents table. */
  val jsonRoundtrip = QueryDef(
    "src_json_roundtrip",
    Some("""SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang, source ORDER BY lang, source"""),
    (s, d) => {
      val tmp = s"/root/repo/target/graft_tmp/json_roundtrip_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      val src = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      write(src, "json", tmp, repartition = Some(2))
      read(s, "json", tmp, Some(src.schema))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("source"))
    }, bench = false)

  /** ORC round-trip (the columnar non-parquet lake format Spark ships
    * natively): long/string/double columns through an ORC sink and
    * schema-checked source, decimal-exact money aggregation. The
    * oracle reads the original parquet — a pass proves the ORC path
    * is lossless for these types. */
  val orcRoundtrip = QueryDef(
    "src_orc_roundtrip",
    Some(s"""SELECT l_returnflag, count(*) AS n, ${Portable.decSum2Sql("l_extendedprice")} AS sum_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => {
      val tmp = s"/root/repo/target/graft_tmp/orc_roundtrip_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      val src = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
      write(src, "orc", tmp, repartition = Some(2))
      read(s, "orc", tmp, Some(src.schema))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), Portable.decSum2(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag"))
    }, bench = false)

  /** Z-order layout keys: the multi-dimension clustering sort key for
    * data laid out so parquet min/max skipping prunes on EITHER of two
    * columns (a single-column sort clusters stats for that column
    * only). The gated query pins the interleave math against the
    * DuckDB twin; `ZOrderSpec` measures the actual layout effect —
    * per-file bounding-box shrinkage vs a single-column sort on real
    * written files. At 100 TB this is a write-path decision:
    * `repartitionByRange(zkey).sortWithinPartitions(zkey)` before the
    * sink, nothing at read time. */
  val zorderKeys = QueryDef(
    "src_zorder_keys",
    Some(s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        ${graft.functions.ZOrder.zkeySql("l_partkey", "l_suppkey")} AS zkey
      FROM lineitem ORDER BY zkey, l_orderkey, l_linenumber"""),
    (s, d) => {
      graft.functions.Natives.ensure(s)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          graft.functions.ZOrder.zkey(col("l_partkey"), col("l_suppkey")).as("zkey"))
        .orderBy(col("zkey"), col("l_orderkey"), col("l_linenumber"))
    }, bench = false)

  /** binaryFile-source round-trip — the blob-ingestion path every
    * multimodal pipeline starts from (image/audio files landed on
    * object storage, read as (path, length, content) rows). Blobs are
    * deterministic md5-derived bytes written one file per doc by a
    * `foreachPartition` export (the real shard-export shape — no
    * driver loop, each task writes only its partition), then read
    * back via Spark's built-in `binaryFile` format; the gate compares
    * (file name, length, hex(content)) against the same derivation in
    * the oracle, so a pass proves the export AND the binary source
    * preserve bytes exactly. At scale the reader parallelizes over
    * files and prunes `content` when unselected ([[graft.multimodal]]
    * plumbing relies on the same pruning, plan-guarded there). */
  val binaryFileRoundtrip = QueryDef(
    "src_binaryfile_roundtrip",
    Some("""SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS fname,
        CAST(32 AS BIGINT) AS length,
        hex(unhex(md5(CAST(doc_id AS VARCHAR)) || md5(CAST(doc_id AS VARCHAR) || ':tail'))) AS content_hex
      FROM documents WHERE doc_id % 5 = 0 ORDER BY fname"""),
    (s, d) => {
      val tmp = s"/root/repo/target/graft_tmp/binaryfile_roundtrip_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      val dir = new java.io.File(tmp)
      if (dir.exists()) { dir.listFiles().foreach(_.delete()); dir.delete() }
      dir.mkdirs()
      Tables.documents(s, d).filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id"),
          unhex(concat(md5(col("doc_id").cast("string")),
            md5(concat(col("doc_id").cast("string"), lit(":tail"))))).as("bytes"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(tmp, s"doc_${r.getLong(0)}.bin"),
              r.getAs[Array[Byte]](1))
          }
        }
      read(s, "binaryFile", tmp)
        .select(element_at(split(col("path"), "/"), -1).as("fname"),
          col("length"), hex(col("content")).as("content_hex"))
        .orderBy(col("fname"))
    }, bench = false)

  /** Line-text round-trip: documents.text → `text` sink (one line per
    * row — the raw-corpus interchange format every crawl pipeline
    * ingests) → `spark.read.text` → order-free checksum aggregate.
    * Line identity is proven by an order-INDEPENDENT md5-sum (the
    * portable h60 hash summed as BIGINT — the sink does not preserve
    * row order, and text carries no id column by design); the oracle
    * computes the same checksum over the original table, so a green
    * row proves the text path is byte-lossless for the corpus (the
    * driver corpus is newline-free — a real crawl would escape or
    * length-prefix, which is the json/parquet path's job). */
  val textRoundtrip = QueryDef(
    "src_text_roundtrip",
    Some(s"""SELECT count(*) AS n_lines,
      CAST(sum(${graft.Portable.h60Sql("text")} % 1000000007) AS BIGINT) AS line_hash_sum,
      CAST(sum(length(text)) AS BIGINT) AS total_chars
      FROM documents"""),
    (s, d) => {
      val tmp = s"/root/repo/target/graft_tmp/text_roundtrip_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      val src = Tables.documents(s, d).select(col("text"))
      write(src, "text", tmp, repartition = Some(2))
      read(s, "text", tmp)
        .agg(count(lit(1)).as("n_lines"),
          sum(graft.Portable.h60(col("value")) % 1000000007L).cast("long").as("line_hash_sum"),
          sum(length(col("value"))).cast("long").as("total_chars"))
    })

  val defs: Seq[QueryDef] = Seq(csvRoundtrip, jsonRoundtrip, orcRoundtrip,
    zorderKeys, binaryFileRoundtrip, partitionedPrune, mergeSchemaRead,
    textRoundtrip)
}
