package graftbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `barrier_chain` and `scan_compute`: a list of engine queries, run
  * through `SparkEntry.queries(name)(spark, dir)` and executed with the
  * `noop` sink, in a seeded order that changes every pass. */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, dir: String, queries: Seq[String], out: Path)
    extends Workload {

  /** Dump each result to parquet, and each query's oracle SQL to
    * `oracle.json`; the caller compares the two in DuckDB. */
  def verify(): (Int, Seq[String]) = {
    val sql = SparkEntry.oracleSql
    java.nio.file.Files.writeString(out.resolve("oracle.json"),
      Json.obj(queries.map(q => q -> sql.get(q).map(Json.str).getOrElse("null"))))
    val failures = queries.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve("dump").resolve(name).toString)
        None
      } catch { case e: Exception => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally cleanup()
    }
    (queries.size, failures)
  }

  def pass(idx: Int, rnd: Random, passSpan: Long): PassOut = {
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val probe = new ProbeTime
    for (name <- rnd.shuffle(queries)) {
      tracer.span(passSpan, "query", name) { qid =>
        val t0 = System.nanoTime()
        val df = tracer.span(qid, "build", name) { id =>
          Main.tagged(spark, id, "build")(SparkEntry.queries(name)(spark, dir))
        }
        val t1 = System.nanoTime()
        if (tracer.enabled) layer("planner.final_plan_s") +=
          probe.time(tracer.span(qid, "plan", name)(_ => df.queryExecution.executedPlan)) / 1e9
        val t2 = System.nanoTime()
        tracer.span(qid, "execute", name) { id =>
          Main.tagged(spark, id, "execute")(df.write.format("noop").mode("overwrite").save())
        }
        val t3 = System.nanoTime()
        val wallNs = (t1 - t0) + (t3 - t2)
        layer("builder.build_s") += (t1 - t0) / 1e9
        layer(s"query.$name.wall_s") = wallNs / 1e9
      }
      cleanup()
    }
    PassOut(queries.size, layer.toMap, probe)
  }

  /** What the engine's batch entry points do between queries: drop
    * catalog caches and every persisted or checkpointed RDD. */
  def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
