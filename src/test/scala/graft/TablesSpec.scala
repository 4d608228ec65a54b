package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` reads parquet with the schema Spark's own inference gave,
  * run once per file version: the schema is always the one
  * `spark.read.parquet` would infer, and a read of a known version
  * starts no Spark job. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Runs `body` with a fresh `t.parquet` path under a temp directory. */
  private def withPath[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toFile
    try body(new java.io.File(dir, "t.parquet").getPath)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!Harness.isDrainMarker(e)) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      body
      assert(Harness.drainListenerBus(spark), "listener bus did not drain within 10s")
    } finally spark.sparkContext.removeSparkListener(counter)
    jobs.get
  }

  test("every driver table reads with the schema spark.read.parquet infers") {
    val names = new java.io.File(TestSpark.sfDir).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(names.contains("events") && names.contains("lineitem"), names)
    for (n <- names)
      assert(Tables.table(spark, TestSpark.sfDir, n).schema ==
        spark.read.parquet(s"${TestSpark.sfDir}/$n.parquet").schema, n)
  }

  test("a file rewritten at the same path with another schema is inferred again") {
    withPath { path =>
      Seq((1L, "a")).toDF("id", "s").write.parquet(path)
      assert(Tables.parquet(spark, path).schema.fieldNames.toSeq == Seq("id", "s"))
      Seq((2.5, 3)).toDF("x", "n").write.mode("overwrite").parquet(path)
      val t = Tables.parquet(spark, path)
      assert(t.schema == spark.read.parquet(path).schema)
      assert(t.collect().toSeq == Seq(Row(2.5, 3)))
    }
  }

  test("a changed parquet conf gives Spark's schema under the new conf") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a binary column with no string annotation and no Spark schema in
    // the footer: only binaryAsString decides BINARY or STRING
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val key = "spark.sql.parquet.binaryAsString"
    val saved = spark.conf.getOption(key)
    withPath { path =>
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x")) finally w.close()
      try {
        spark.conf.set(key, "false")
        assert(Tables.parquet(spark, path).schema("b").dataType == BinaryType)
        spark.conf.set(key, "true")
        val t = Tables.parquet(spark, path)
        assert(t.schema == spark.read.parquet(path).schema)
        assert(t.schema("b").dataType == StringType)
        assert(t.collect().toSeq == Seq(Row("x")))
      } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("a second read of an unchanged file starts no Spark job") {
    val path = s"${TestSpark.sfDir}/nation.parquet"
    Tables.parquet(spark, path)
    assert(jobsOf(Tables.parquet(spark, path).schema) == 0)
    // the bare reader infers again, by a job, on every read
    assert(jobsOf(spark.read.parquet(path).schema) >= 1)
  }

  test("two Par threads reading one table both get its schema") {
    withPath { path =>
      Seq((1L, "a")).toDF("id", "s").write.parquet(path)
      val want = spark.read.parquet(path).schema // leaves the memo cold
      val got = Par.all(() => Tables.parquet(spark, path).schema,
        () => Tables.parquet(spark, path).schema)
      assert(got == IndexedSeq(want, want))
    }
  }
}
