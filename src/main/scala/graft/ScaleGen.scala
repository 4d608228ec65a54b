package graft

import org.apache.spark.sql.functions._

/** sf1.0-equivalent test-data builder (r12 verdict item: "a real sf
  * jump also grows key cardinality"): materializes factor× copies of
  * the sf0.1 tables under target/ with
  *   - fact KEYS re-spaced per replica (orderkeys, doc/vec/event/user
  *     ids) so key cardinality scales with volume, and
  *   - the GD feature grain DIVERSIFIED: each lineitem replica adds a
  *     tiny deterministic `__rep/1000` offset to l_quantity, so the
  *     distinct (quantity, discount) score grid — and with it every
  *     value-grain structure downstream (ROC cumulatives, rank maps,
  *     the spearman broadcast guard's key count) — grows ×factor
  *     instead of collapsing onto the sf0.1 grid under replication.
  * Dims stay 1× (the realistic star shape). Both engines read the SAME
  * parquet, so the DuckDB oracle gate is as binding here as at sf0.01.
  *
  * A language-skew knob (r13 verdict item #3) plants ONE rare slice:
  * `skewLang`/`skewMod` keep only 1-in-`skewMod` documents of that
  * language (deterministic `doc_id % skewMod == 0` — stable across
  * replicas since the 10⁷ key re-spacing is divisible by any
  * power-of-two mod), so the uniform-flattening mixture's repetition
  * factor for that slice exceeds the old fixed copyStride=8 and the
  * derived-stride path ([[graft.functions.Pipeline]] `copyStrideOf`)
  * is exercised at scale, not just in the toy spec fixture.
  *
  * `docMutate` (5th arg, default false) diversifies DOCUMENT TEXT per
  * replica: every 5th token gets a replica-tag suffix, so cross-replica
  * copies drop below every near-dup threshold (word-3-shingle Jaccard
  * ≈ 0.25, char-5-gram ≈ 0.5, 60-bit simhash far apart) while
  * WITHIN-replica near-dup structure is preserved (two docs of one
  * replica mutate at the same token positions). Without it, a ×100
  * replication gives every doc 100 identical copies, every MinHash
  * band bucket blows past `LshBucketCap` = 15, and the dedup tier
  * degenerates to a vacuous 0-pair run — the mutated corpus is the
  * honest 100× shape: 100 content shards, pair volume linear in
  * factor, cap/banding mechanics exercised at full scale.
  *
  * Usage: runMain graft.ScaleGen [factor=10] [outDir=target/graft_tmp/sfgen_x<factor>]
  *                               [skewLang] [skewMod=16] [docMutate=false]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    val skewLang = if (args.length > 2) Some(args(2)) else None
    val skewMod = if (args.length > 3) args(3).toInt else 16
    val docMutate = args.length > 4 && Set("true", "1").contains(args(4).toLowerCase)
    val out = if (args.length > 1) args(1)
      else defaultOut(factor) + skewLang.map(l => s"_skew_$l").getOrElse("")
    val spark = Sessions.local(Harness.cores, logLevel = "ERROR")
    build(spark, factor, out, skewLang, skewMod, docMutate)
    spark.stop()
  }

  /** The 1× data every build replicates. */
  val Base = "/root/testdata/sf0.1"

  /** Where a plain `factor`× build goes (also what the Harness `scale` mode reads). */
  def defaultOut(factor: Int): String = s"target/graft_tmp/sfgen_x$factor"

  /** Materializes `factor`× sf0.1 under `out`; the last table written
    * is `part.parquet`, so its presence marks a finished build. */
  def build(spark: org.apache.spark.sql.SparkSession, factor: Int, out: String,
      skewLang: Option[String] = None, skewMod: Int = 16, docMutate: Boolean = false): Unit = {

    // single FILE per table (the /root/testdata layout): the DuckDB
    // oracle reads '<dir>/<table>.parquet' as one file, not a Spark
    // part-file directory — write to a staging dir, promote the part
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = s"$out/_stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $stage"))
      val dest = java.nio.file.Paths.get(s"$out/$name.parquet")
      java.nio.file.Files.deleteIfExists(dest)
      java.nio.file.Files.move(part.toPath, dest)
      new java.io.File(stage).listFiles().foreach(_.delete())
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(stage))
    }
    def replicate(name: String, keyCols: Seq[String],
        extra: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity): Unit = {
      val df = Tables.table(spark, Base, name)
      val rep = df.crossJoin(spark.range(factor).toDF("__rep"))
      val shifted = keyCols.foldLeft(rep) { (d, k) =>
        d.withColumn(k, col(k) + col("__rep") * 10000000L)
      }
      writeOne(extra(shifted).drop("__rep"), name)
    }
    println(s"building ${factor}x sf0.1 (~sf${factor / 10.0}) under $out ...")
    replicate("lineitem", Seq("l_orderkey"),
      _.withColumn("l_quantity",
        col("l_quantity") + col("__rep").cast("double") / 1000.0))
    replicate("orders", Seq("o_orderkey"))
    replicate("documents", Seq("doc_id"), d => {
      val skewed = skewLang match {
        case Some(l) =>
          d.filter(col("lang") =!= l || pmod(col("doc_id"), lit(skewMod)) === 0)
        case None => d
      }
      if (!docMutate) skewed
      else skewed.withColumn("text", expr(
        // every 5th token tagged with the replica index: deterministic,
        // position-keyed (two same-replica docs mutate identically at
        // shared positions, preserving their mutual near-dup structure)
        """concat_ws(' ', transform(split(text, ' '),
           (w, i) -> CASE WHEN i % 5 = 4 THEN concat(w, '~r', CAST(__rep AS STRING)) ELSE w END))"""))
    })
    replicate("embeddings", Seq("vec_id"))
    replicate("events", Seq("event_id", "user_id"))
    for (dim <- Seq("customer", "region", "nation", "supplier", "part"))
      writeOne(Tables.table(spark, Base, dim), dim)
    println(s"done: $out")
  }
}
