package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** What the entry points (Bench, Verify, JobProfile, Plans, PlanDump,
  * ScaleProbe, ScaleGen) share: the core count, the timed noop run,
  * the between-query block drop and the executed-plan capture. */
object Harness {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cores: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** Builds `df` and forces it through the `noop` sink so the full
    * plan executes (a bare count() would let Catalyst prune every
    * computed column away); returns wall seconds, build included —
    * loop builders run eager barriers. */
  def runNoop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Drops every cached block between queries: the lifetime rule for
    * query builders, whose persists are untracked. clearCache() only
    * drops catalog-tracked cache entries; the localCheckpoint(true)
    * RDDs of loop builders would otherwise wait on the GC-driven
    * ContextCleaner and pile up block-manager memory across a session.
    * blocking = true, so no block removal bleeds into the next timed run. */
  def dropAllBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def formatted(qe: QueryExecution): String =
    qe.explainString(ExplainMode.fromString("formatted"))

  /** Markdown `explain("formatted")` of `df`, built inside the call.
    * Builders return lazy frames, so the static plan is the real one,
    * except where a loop checkpoints its state while building: those
    * stages ran eagerly and show as a Scan ExistingRDD, so the static
    * plan is blind there. Dataset.checkpoint runs through
    * withAction("checkpoint", qe), so a QueryExecutionListener sees
    * every pre-checkpoint QueryExecution; each captured stage follows
    * the static plan. */
  def explainExecuted(spark: SparkSession, df: => DataFrame): String = {
    val caught = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "checkpoint" || funcName == "localCheckpoint") caught.add(formatted(qe))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val plan = formatted(df.queryExecution)
      val sb = new StringBuilder(s"```\n$plan```\n")
      if (plan.contains("ExistingRDD")) {
        // the listener bus is asynchronous: wait until the capture
        // count stops moving before reading it
        var last = -1; var same = 0
        val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
        while (same < 2 && System.nanoTime() < deadline) {
          Thread.sleep(100)
          val now = caught.size
          if (now == last) same += 1 else { same = 0; last = now }
        }
        val stages = caught.toArray(Array.empty[String])
        if (stages.isEmpty)
          // loud, never silent; an ExistingRDD can also come from an
          // RDD-backed frame with no checkpoint executed in this build
          sb ++= "\n### WARNING: pre-checkpoint plan NOT captured — either the " +
            "listener drain exceeded its 5s deadline (rerun on a quiet box), or " +
            "this plan's ExistingRDD is RDD-backed without a checkpoint/localCheckpoint " +
            "executed during this build (no pre-checkpoint plan exists to capture)\n"
        stages.zipWithIndex.foreach { case (p, i) =>
          sb ++= s"\n### executed pre-checkpoint stage ${i + 1} of ${stages.length}\n\n```\n$p```\n"
        }
      }
      sb.toString
    } finally spark.listenerManager.unregister(listener)
  }
}
