package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The shared entry-point harness: name lists resolve through the
  * registry, the block drop leaves nothing behind, and the bench
  * record counts completed sweeps only. */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("every Bench headline and ScaleProbe probe name is a SparkEntry query") {
    val qs = SparkEntry.queries
    assert(Bench.headline.filterNot(qs.contains).isEmpty)
    assert(ScaleProbe.probeNames.filterNot(qs.contains).isEmpty)
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
    val sentinel = s"harness_sentinel_${System.nanoTime()}"
    @volatile var drained = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") checkpointed.add(qe)
        else if (qe.analyzed.schema.fieldNames.sameElements(Seq(sentinel))) drained = true
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      for (name <- Seq("graph_triangles", "pipeline_ml_scorecard")) {
        checkpointed.clear(); drained = false
        val df = SparkEntry.queries(name)(spark, TestSpark.sfDir)
        // the listener bus delivers in order: once the sentinel action
        // is seen, every checkpoint the build ran has been seen too
        spark.range(1).toDF(sentinel).collect()
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (!drained && System.nanoTime() < deadline) Thread.sleep(20)
        assert(drained, "listener bus did not drain within 10s")
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
}
