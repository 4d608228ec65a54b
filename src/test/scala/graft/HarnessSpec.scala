package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The shared entry-point harness: the one query loop checks its
  * names first and leaves no block behind, the bench set comes from
  * the registry, and the bench record counts completed sweeps only. */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("eachQuery rejects an unknown name before running any query") {
    var ran = 0
    val e = intercept[IllegalArgumentException] {
      Harness.eachQuery(spark, Seq("q1_pricing_summary", "no_such_query")) { (_, _) => ran += 1 }
    }
    assert(e.getMessage.contains("no_such_query"))
    assert(ran == 0)
  }

  test("eachQuery drops every block when its body throws mid-query") {
    val e = intercept[IllegalStateException] {
      Harness.eachQuery(spark, Seq("graph_label_prop")) { (_, q) =>
        q(TestSpark.sfDir) // checkpoints every round while it builds
        assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("the bench set is 224 queries without the all-pairs references") {
    val bench = SparkEntry.benchNames
    assert(bench.size == 224 && bench.distinct.size == 224)
    assert(bench.forall(SparkEntry.queries.contains))
    assert(!bench.contains("dedup_embed_cosine") && !bench.contains("ann_brute_topk"))
  }

  test("dropAllBlocks after runNoop leaves no persistent RDD behind a localCheckpointing query") {
    Harness.runNoop(SparkEntry.queries("graph_label_prop")(spark, TestSpark.sfDir))
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty, "graph_label_prop checkpoints every round")
    Harness.dropAllBlocks(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("query builders return lazy frames: no terminal localCheckpoint, the real plan is visible") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val checkpointed = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") checkpointed.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      for (name <- Seq("graph_triangles", "pipeline_ml_scorecard")) {
        checkpointed.clear()
        val df = SparkEntry.queries(name)(spark, TestSpark.sfDir)
        assert(Harness.drainListenerBus(spark), "listener bus did not drain within 10s")
        // loop checkpoints stay; a terminal one checkpoints the result itself
        val terminal = checkpointed.toArray(Array.empty[QueryExecution])
          .count(_.analyzed.schema == df.schema)
        assert(terminal == 0, s"$name checkpointed its result while building")
        if (name == "graph_triangles")
          assert(df.queryExecution.executedPlan.toString.contains("graft_sorted_inter_size"),
            "the static plan must show the merge-walk intersect, not a Scan ExistingRDD")
        Harness.dropAllBlocks(spark)
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("Bench.record keeps only the completed sweeps of a budget-truncated sample map") {
    val run = Bench.Run(repsRequested = 3, loads = Seq(0.5, 0.6, 0.7), gcSec = Seq(0.1, 0.2, 0.3),
      loadWarn = false, sfDir = "sf", warmupShed = 0, budgetTruncated = true)
    // two sweeps completed; the third was cut after "a" and "b"; "b"
    // failed in sweep 2 (NaN) and "d" never ran
    val samples = Map(
      "a" -> Vector(1.0, 3.0, 100.0), "b" -> Vector(2.0, Double.NaN, 4.0), "c" -> Vector(5.0, 6.0))
    val r = Bench.record(Seq("a", "b", "c", "d"), samples, repsEff = 2, partial = false, run)
    assert(r.good == Seq(Bench.Stat("a", 2.0, 1.0, 3.0), Bench.Stat("c", 5.5, 5.0, 6.0)))
    assert(r.failed == Seq("b", "d"))
    assert(r.total == 7.5)

    val json = new ObjectMapper()
    val full = json.readTree(r.full)
    assert(full.get("value").asDouble == 7.5)
    assert(full.get("queries").toString == """{"a":2.0,"c":5.5}""")
    assert(full.get("spread").toString == """{"a":[1.0,3.0],"c":[5.0,6.0]}""")
    assert(full.get("failed").toString == """["b","d"]""")
    assert(full.get("reps").asInt == 2 && full.get("reps_requested").asInt == 3)
    assert(full.get("budget_truncated").asBoolean && !full.has("partial"))
    assert(!r.full.contains("common_"))

    val compact = json.readTree(r.compact("out.json"))
    assert(compact.get("queries_slowest").toString == """{"c":5.5,"a":2.0}""")
    assert(compact.get("n_queries").asInt == 2 && compact.get("full_result").asText == "out.json")
    assert(compact.get("value").asDouble == full.get("value").asDouble)
  }

  test("eachQuery describes every job by its query, and Small's collects by their step") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!Harness.isDrainMarker(e)) descriptions.add(Harness.description(e))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Harness.eachQuery(spark, Seq("q91_theil_sen"))((_, q) => Harness.runNoop(q(TestSpark.sfDir)))
      assert(Harness.drainListenerBus(spark), "listener bus did not drain within 10s")
    } finally spark.sparkContext.removeSparkListener(listener)
    val seen = descriptions.toArray(Array.empty[String]).toSeq
    // the Theil–Sen medians' percentile passes are Small collects
    assert(seen.contains("q91_theil_sen/percentile pass"), seen)
    assert(seen.forall(d => d == "q91_theil_sen" || d.startsWith("q91_theil_sen/")), seen)
    assert(spark.sparkContext.getLocalProperty(Harness.JobDescription) == null)
  }

  test("jobs a Par thread starts under labelled carry the caller's description") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!Harness.isDrainMarker(e)) descriptions.add(Harness.description(e))
    }
    def job(n: Int) = () => { spark.range(n).count(); Thread.currentThread.getName }
    spark.sparkContext.addSparkListener(listener)
    val threads = try {
      val t = Harness.labelled(spark.sparkContext, "par caller")(Par.all(job(10), job(20)))
      assert(Harness.drainListenerBus(spark), "listener bus did not drain within 10s")
      t
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(threads.forall(_.startsWith("graft-par-")), threads)
    val seen = descriptions.toArray(Array.empty[String]).toSeq
    assert(seen.size >= 2 && seen.forall(_ == "par caller"), seen)
  }

  test("explainExecuted prints the stages a builder collects while it builds") {
    // q90 collects its transition cells and iterates on the driver:
    // the static plan is one LocalTableScan, the work is in the collect
    val Seq(p) = Harness.eachQuery(spark, Seq("q90_markov_stationary")) { (_, q) =>
      Harness.explainExecuted(spark, q(TestSpark.sfDir))
    }
    val at = p.indexOf("### executed build stage 1 of 1")
    assert(at >= 0, p)
    val stage = p.substring(at)
    assert(stage.contains("Window") && stage.contains("hashpartitioning(user_id"), s"no window Exchange:\n$p")
    assert(stage.contains("HashAggregate") && stage.contains("count(1)"), s"no cell aggregate:\n$p")
    assert(!p.contains("WARNING"), p)
  }
}
