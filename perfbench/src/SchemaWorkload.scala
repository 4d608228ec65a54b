package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.schema._

/** One seeded evolution: a schema and the target it is evolved to. */
private final case class Case(name: String, cur: GSchema, target: GSchema)

/** `schema_evolve`: seeded schemas of the given widths, each evolved
  * by [[SchemaGen.evolve]]. Every pass dry-runs each evolution, creates
  * a fresh `GraftCatalog` table and applies the DDL with
  * `Evolver.executeDdl`, then migrates `lineitem` through
  * `Evolver.evolve(data = ...)` into parquet. */
final class SchemaWorkload(spark: SparkSession, tracer: Tracer, seed: Long, dir: String,
    widths: Seq[Int], out: Path) extends Workload {

  private val cases: Seq[Case] = {
    val rnd = new Random(seed)
    widths.map { w =>
      val cur = SchemaGen.schema(w, rnd)
      Case(s"w$w", cur, SchemaGen.evolve(cur, rnd))
    }
  }
  private val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")
  private val lineitemRows = lineitem.count()
  private val liCur = GSchema.fromSpark(lineitem.schema)
  private val liTarget = SchemaGen.evolve(liCur, new Random(seed + 1), share = 0.3)
  private var tables = 0

  def verify(): (Int, Seq[String]) = {
    val failures = mutable.ArrayBuffer.empty[String]
    for (c <- cases) {
      try {
        val table = evolution(c, 0L)._3
        val evolved = Evolver.evolve(c.cur, c.target, table = table, allowBreaking = true).schema
        val back = strip(spark.table(table).schema)
        val want = strip(GSchema.toSpark(evolved))
        if (back != want) failures += s"${c.name}: read-back schema differs:\n  got  ${back.sql}\n  want ${want.sql}"
        // added fields get allocator-assigned ids, so compare with
        // positional ids on both sides
        val rest = SchemaDiff.byId(positional(evolved), positional(c.target))
        if (!rest.isEmpty) failures += s"${c.name}: evolved schema still differs from the target: $rest"
        spark.sql(s"DROP TABLE $table")
      } catch { case e: Exception => failures += s"${c.name}: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    }
    try {
      migrate(0L, mutable.Map.empty[String, Double].withDefaultValue(0.0))
      val n = spark.read.parquet(migrated.toString).count()
      if (n != lineitemRows) failures += s"migrate: wrote $n rows, read $lineitemRows"
    } catch { case e: Exception => failures += s"migrate: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    (cases.size * 2 + 1, failures.toSeq)
  }

  def pass(idx: Int, rnd: Random, passSpan: Long): PassOut = {
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val dry, apply, create = mutable.ArrayBuffer.empty[Double]
    var stmts = 0
    for (c <- rnd.shuffle(cases)) {
      val (dryNs, applyNs, table, createNs, n) = evolution(c, passSpan)
      spark.sql(s"DROP TABLE $table")
      dry += Main.ms(dryNs); apply += Main.ms(applyNs); create += Main.ms(createNs)
      stmts += n
    }
    migrate(passSpan, layer)
    val probe = new ProbeTime
    if (tracer.enabled) {
      // layer probes: extra calls into graft.schema, outside the pass's time
      val ms = Seq("diff", "plan", "json_roundtrip", "spark_roundtrip")
        .map(k => k -> mutable.ArrayBuffer.empty[Double]).toMap
      def timed(k: String)(f: => Any): Unit = ms(k) += Main.ms(probe.time(f))
      for (c <- cases) {
        var diff: SchemaDiff = null
        timed("diff") { diff = SchemaDiff.byId(c.cur, c.target) }
        timed("plan")(Evolver.plan(diff, allowBreaking = true))
        timed("json_roundtrip")(SchemaJson.fromJson(SchemaJson.toJson(c.cur)))
        timed("spark_roundtrip")(GSchema.fromSpark(GSchema.toSpark(c.cur)))
      }
      ms.foreach { case (k, v) => layer(s"schema.${k}_ms") = Stats.median(v.toSeq) }
    }
    layer("schema.dryrun_ms.p50") = Stats.quantile(dry.toSeq, 0.5)
    layer("schema.dryrun_ms.p90") = Stats.quantile(dry.toSeq, 0.9)
    layer("catalog.apply_ms.p50") = Stats.quantile(apply.toSeq, 0.5)
    layer("catalog.apply_ms.p90") = Stats.quantile(apply.toSeq, 0.9)
    layer("catalog.create_ms") = Stats.median(create.toSeq)
    layer("catalog.stmt_ms") = apply.sum / math.max(1, stmts)
    layer("catalog.statements") = stmts.toDouble
    PassOut(cases.size + 1, layer.toMap, probe)
  }

  def cleanup(): Unit = spark.catalog.clearCache()

  /** Dry-run, create and apply one evolution. Each DDL statement is
    * its own `executeDdl` call, so a traced pass gives it its own span.
    * Returns (dry-run ns, apply ns, table, create ns, statements). */
  private def evolution(c: Case, parent: Long) =
    tracer.span(parent, "evolution", c.name) { eid =>
      tables += 1
      val table = s"graftcat.bench.t$tables"
      val t0 = System.nanoTime()
      val dry = tracer.span(eid, "dryrun", c.name)(_ =>
        Evolver.evolve(c.cur, c.target, table = table, allowBreaking = true, dryRun = true))
      val t1 = System.nanoTime()
      tracer.span(eid, "create", table)(_ => spark.sql(CreateTableDdl(c.cur, table)))
      val t2 = System.nanoTime()
      dry.ddl.foreach { stmt =>
        tracer.span(eid, "ddl", stmt.take(60))(id => Main.tagged(spark, id, "ddl")(Evolver.executeDdl(spark, Seq(stmt))))
      }
      val t3 = System.nanoTime()
      (t1 - t0, t3 - t2, table, t2 - t1, dry.ddl.size)
    }

  private def migrated: Path = out.resolve("migrated")

  /** Evolve `lineitem` and write the conformed rows to parquet. */
  private def migrate(parent: Long, layer: mutable.Map[String, Double]): Unit =
    tracer.span(parent, "migrate", "lineitem") { mid =>
      val t0 = System.nanoTime()
      val df = tracer.span(mid, "conform", "lineitem") { _ =>
        val res = Evolver.evolve(liCur, liTarget, data = Some(lineitem), allowBreaking = true)
        val d = res.data.get
        d.queryExecution.executedPlan
        d
      }
      val t1 = System.nanoTime()
      tracer.span(mid, "write", "lineitem") { id =>
        Main.tagged(spark, id, "write")(df.write.mode("overwrite").parquet(migrated.toString))
      }
      val t2 = System.nanoTime()
      val bytes = Files.list(migrated).iterator().asScala.map(p => Files.size(p)).sum
      layer("schema.conform_plan_ms") = Main.ms(t1 - t0)
      layer("migrate.write_s") = (t2 - t1) / 1e9
      layer("migrate.bytes_written_mb") = bytes / 1048576.0
      layer("migrate.rows_per_s") = lineitemRows / ((t2 - t0) / 1e9)
    }

  private def positional(s: GSchema): GSchema =
    GSchema.fromSpark(strip(GSchema.toSpark(s)).asInstanceOf[StructType])

  /** Keep comments, drop field-id and other metadata, recursively:
    * tables created through DDL never carry field ids. */
  private def strip(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map { f =>
      val mb = new MetadataBuilder()
      if (f.metadata.contains("comment")) mb.putString("comment", f.metadata.getString("comment"))
      f.copy(dataType = strip(f.dataType), metadata = mb.build())
    })
    case a: ArrayType => a.copy(elementType = strip(a.elementType))
    case m: MapType => m.copy(keyType = strip(m.keyType), valueType = strip(m.valueType))
    case other => other
  }
}
