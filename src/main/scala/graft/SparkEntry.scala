package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Every capability row maps to one entry here; names match the
  * SURVEY tables. Oracle SQL is DuckDB dialect over the same parquet
  * tables, generated next to each Spark plan (shared constants) so
  * the two sides agree by construction.
  */
object SparkEntry {
  private lazy val all: Seq[QueryDef] = {
    val defs =
      operators.Relational.defs ++
        operators.Extra.defs ++
        operators.Analytics.defs ++
        operators.Insights.defs ++
        operators.Insights2.defs ++
        functions.TextAnalysis.defs ++
        functions.Corpus.defs ++
        functions.Pipeline.defs ++
        functions.LangModel.defs ++
        functions.UrlCanon.defs ++
        sources.Sources.defs ++
        dedup.Dedup.defs ++
        similarity.Similarity.defs ++
        multimodal.Multimodal.defs ++
        operators.Sketches.defs ++
        operators.Graph.defs ++
        schema.SchemaQueries.defs
    // a duplicate name would silently shadow a capability in the
    // `queries`/`oracleSql` maps (toMap last-wins) — fail fast instead
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    defs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q1.build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each
    * builder returns a lazy frame whose intermediates may be persisted
    * untracked; the caller runs it and then frees its blocks with
    * [[Harness.dropAllBlocks]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** Every query name, in registry order. */
  def names: Seq[String] = all.map(_.name)

  /** The bench set, in registry order: every query not marked
    * `bench = false` (see [[QueryDef]]). */
  def benchNames: Seq[String] = all.filter(_.bench).map(_.name)

  /** DuckDB-runnable equivalent SQL for each hash-checked query. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
}
