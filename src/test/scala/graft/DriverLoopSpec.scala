package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Loops whose state the domain bounds (q90's types² transition cells,
  * the GD chain's 3 weights, the Lloyd loops' k centroids, the
  * percentile selection's targets) run their recurrences on the
  * driver: only the passes over data are Spark jobs, and degenerate
  * inputs give what the Spark-side loops gave. */
class DriverLoopSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q90 runs its power-iteration rounds without a Spark job") {
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!Harness.isDrainMarker(e)) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      Harness.eachQuery(spark, Seq("q90_markov_stationary"))((_, q) => Harness.runNoop(q(TestSpark.sfDir)))
      assert(Harness.drainListenerBus(spark), "listener bus did not drain within 10s")
    } finally spark.sparkContext.removeSparkListener(counter)
    // the window shuffle, the cell aggregate and its collect; the
    // rounds and the output are driver-side (58 jobs when each round
    // was a broadcast join)
    assert(jobs.get <= 5, s"q90 ran ${jobs.get} jobs")
  }

  /** `body`'s result and the QueryExecutionListener actions it ran. */
  private def actionsOf[T](body: => T): (T, Seq[String]) = {
    val actions = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val t = body
      assert(Harness.drainListenerBus(spark), "listener bus did not drain within 10s")
      (t, actions.toArray(Array.empty[String]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("the GD chain runs one collected gradient aggregate per round and no localCheckpoint") {
    val b = (0 until 50).map(i => ((i % 7).toDouble - 3, (i % 3).toDouble, (i % 2).toDouble))
      .toDF("x1", "x2", "y")
    val (chain, ran) = actionsOf(operators.Analytics.logregWeightsChain(b, rounds = 3))
    assert(ran == Seq.fill(3)("collect"), s"actions: $ran")
    assert(chain.size == 4)
    assert(chain.last.collect().head == operators.Analytics.logregWeights(b).collect().head)
  }

  test("percentile selection collects the bounds, then one row per target a pass, and checkpoints nothing") {
    // ExactPercentilesSpec's ulp trap: two doubles 1 dbits ulp apart
    val ulps = Seq((0L, 0.3), (0L, 0.1 + 0.2)).toDF("g", "x")
    val (passes, ran) = actionsOf(CacheScope.withScope { implicit s =>
      operators.ExactPercentiles.percentilesCounted(ulps, "g", "x", Seq(0.5))._2
    })
    assert(passes == 1, s"the ulp-apart pair must resolve on pass 1, took $passes")
    assert(ran == Seq.fill(1 + passes)("collect"), s"actions: $ran")
  }

  test("Small keeps an empty frame's schema and fails over its bound naming the step") {
    val df = spark.range(3).selectExpr("CAST(id AS DECIMAL(38,0)) AS d", "id",
      "CAST(IF(id = 1, NULL, id) AS DECIMAL(10,2)) AS n")
    assert(!df.schema("id").nullable && df.schema("n").nullable)
    val empty = Small(df.limit(0), 0, "empty step")
    assert(empty.schema == df.schema)
    assert(empty.collect().isEmpty)
    val all = Small(df, 3, "three rows")
    assert(all.schema == df.schema)
    assert(all.collect().toSet == df.collect().toSet)
    val e = intercept[IllegalArgumentException](Small(df, 2, "bounded step"))
    assert(e.getMessage.contains("bounded step: 3 rows, bound 2"), e.getMessage)
  }

  test("GD on an empty frame gives NULL weights") {
    val b = Seq.empty[(Double, Double, Double)].toDF("x1", "x2", "y")
    assert(operators.Analytics.logregWeights(b).collect().map(_.toSeq) ===
      Array(Seq(null, null, null)))
    assert(operators.Analytics.logregWeightsChain(b).head.collect().map(_.toSeq) ===
      Array(Seq(0.0, 0.0, 0.0)))
  }

  test("q90 on empty, one-event and NULL-typed input") {
    val ev = Seq("A", "B", null, "A", null, "B", "C").zipWithIndex
      .map { case (t, i) => (1L, java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0$i"), i.toLong, t) }
      .toDF("user_id", "ts", "event_id", "event_type")
    def run(df: org.apache.spark.sql.DataFrame, iters: Int = operators.Insights2.MarkovIters) =
      operators.Insights2.markovStationary(df, iters).collect().map(_.toSeq)
    assert(run(ev.limit(0)).isEmpty)
    assert(run(ev.limit(1)).isEmpty)
    // a NULL type is a state of the DISTINCT cur set (m = 3, so its
    // initial mass counts) but no equi-join row: only A→B survives
    // into p, round 1 moves A's mass to B, round 2 has no source
    val third = 333333333333L
    assert(run(ev, 0) === Array(Seq(null, third, 0.333333333333),
      Seq("A", third, 0.333333333333), Seq("B", third, 0.333333333333)))
    assert(run(ev, 1) === Array(Seq("B", third, 0.333333333333)))
    assert(run(ev).isEmpty)
  }

  test("k-means and topic clusters on fewer rows than k") {
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    def cells(trainMod: Int) = similarity.AnnApi.kmeansCells(emb, "vec_id", "embedding",
        kCells = 8, iters = 2, trainMod = trainMod)
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(cells(1) == Set((1L, Some(1L)), (2L, Some(2L)), (3L, Some(3L))))
    // trainMod 4 samples no row: no centroid, so no cell
    assert(cells(4) == Set((1L, None), (2L, None), (3L, None)))
    // doc_id % 4 makes three cells, one negative
    val docs = Seq((1L, "cat purr cat"), (2L, "dog bark"), (-3L, "cat dog")).toDF("doc_id", "text")
    assert(functions.Corpus.topicClustersOf(docs).collect().map(_.toSeq).toSeq == Seq(
      Seq(-3L, 1L, 1, "cat", 1L), Seq(-3L, 1L, 2, "dog", 1L),
      Seq(1L, 1L, 1, "cat", 2L), Seq(1L, 1L, 2, "purr", 1L),
      Seq(2L, 1L, 1, "bark", 1L), Seq(2L, 1L, 2, "dog", 1L)))
  }
}
