package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** The one loop that runs registered queries ([[eachQuery]]), what
  * every entry point shares (the core count, the timed noop run, the
  * between-query block drop, the listener-bus drain and the
  * executed-plan capture), and the developer tools as modes of one
  * main:
  *
  *   runMain graft.Harness jobs <sfDir> <name> [reps=2]
  *     one line per Spark job of each timed rep: wall, tasks, task
  *     time and description, after one untimed warm-up rep
  *   runMain graft.Harness plans <sfDir> <out.md> [q1,q2,...]
  *     `explain("formatted")` per query, on 8 cores so the text does
  *     not depend on the machine; with no names, every query plus the
  *     two streaming microbatch plans (PLANS.md)
  *   runMain graft.Harness scale [factor=10] [q1,q2,...]
  *     each query at 1× (sf0.1) and at factor× ([[ScaleGen]]'s data,
  *     built under target/ when missing) and the ratio, after one
  *     untimed run at each size; by default the bench set plus
  *     `dedup_semantic_kscaled`
  *
  * [[Bench]] and [[Verify]] keep their own mains and run their queries
  * through [[eachQuery]] too. */
object Harness {
  type Build = (SparkSession, String) => DataFrame

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
    * query builders, whose persists are untracked. clearCache() drops
    * the frames persisted through [[CacheScope]] (Dataset.persist
    * registers them with the session's cache manager). It does not see
    * RDD-level blocks: the localCheckpoint(true) RDDs of the loops whose
    * state the data sizes (the graph loops' per-vertex state, among
    * others) and any RDD persisted directly. Unpersisting every
    * persistent RDD drops those, which would otherwise wait on the
    * GC-driven ContextCleaner and pile up block-manager memory across a
    * session. blocking = true, so no block removal bleeds into the next
    * timed run. */
  def dropAllBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Runs `body` on each of `names` in order and returns its results.
    * The body gets the query bound to `spark`; applying it to a data
    * directory builds the frame, so a timed body times the build too.
    * Every name is resolved in `builds` before any query runs, and
    * every block is dropped after each body, also when it throws.
    * Every job the body runs on its own thread is described by the
    * query's name ([[Small]] extends it with its step). */
  def eachQuery[T](spark: SparkSession, names: Seq[String],
      builds: Map[String, Build] = SparkEntry.queries)(
      body: (String, String => DataFrame) => T): Seq[T] = {
    val unknown = names.filterNot(builds.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    names.map(n =>
      try labelled(spark.sparkContext, n)(body(n, builds(n)(spark, _))) finally dropAllBlocks(spark))
  }

  /** The local property a job's description is read from. */
  private[graft] val JobDescription = "spark.job.description"

  /** Runs `body` with the thread's job description set to `label`,
    * restoring the one it had before, also when `body` throws. */
  private[graft] def labelled[T](sc: SparkContext, label: String)(body: => T): T = {
    val description = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(description)
  }

  private val DrainMarker = "graft-listener-bus-drain"

  /** Waits until the listener bus has delivered every event posted
    * before the call; false if that takes over 10 s. Listeners added
    * with addSparkListener and QueryExecutionListeners share one
    * queue, which delivers in order, so once the end of a marker job
    * run here arrives, everything posted before it has arrived too.
    * Listeners that count jobs skip the marker by [[isDrainMarker]]. */
  private[graft] def drainListenerBus(spark: SparkSession): Boolean = {
    val sc = spark.sparkContext
    val ended = new CountDownLatch(1)
    val marker = new SparkListener {
      @volatile private var id = -1
      override def onJobStart(e: SparkListenerJobStart): Unit = if (isDrainMarker(e)) id = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (e.jobId == id) ended.countDown()
    }
    sc.addSparkListener(marker)
    try labelled(sc, DrainMarker) {
      sc.parallelize(Seq(0), 1).count()
      ended.await(10, TimeUnit.SECONDS)
    } finally sc.removeSparkListener(marker)
  }

  private[graft] def description(e: SparkListenerJobStart): String =
    Option(e.properties).flatMap(p => Option(p.getProperty(JobDescription))).getOrElse("")

  private[graft] def isDrainMarker(e: SparkListenerJobStart): Boolean = description(e) == DrainMarker

  private def formatted(qe: QueryExecution): String =
    qe.explainString(ExplainMode.fromString("formatted"))

  /** Markdown `explain("formatted")` of `df`, built inside the call.
    * Builders return lazy frames, so the static plan is the real one,
    * except where a loop runs its state eagerly while building: a
    * checkpointed stage shows as a Scan ExistingRDD, and loop state
    * collected to the driver shows only as the literal or local frame
    * it became, so the static plan is blind there. Dataset.checkpoint
    * and Dataset.collect run through withAction("checkpoint" /
    * "collect", qe), so a QueryExecutionListener sees each of those
    * QueryExecutions; the captured pre-checkpoint stages, then the
    * captured build stages (the collects), follow the static plan. */
  def explainExecuted(spark: SparkSession, df: => DataFrame): String = {
    val checkpoints, collects = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = funcName match {
        case "checkpoint" | "localCheckpoint" => checkpoints.add(formatted(qe))
        case "collect" => collects.add(formatted(qe))
        case _ =>
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val plan = formatted(df.queryExecution)
      val sb = new StringBuilder(s"```\n$plan```\n")
      val drained = drainListenerBus(spark)
      val stages = checkpoints.toArray(Array.empty[String])
      if (plan.contains("ExistingRDD") && stages.isEmpty)
        // loud, never silent; an ExistingRDD can also come from an
        // RDD-backed frame with no checkpoint executed in this build
        sb ++= "\n### WARNING: pre-checkpoint plan NOT captured — " + (if (!drained)
          "the listener bus did not drain within 10s (rerun on a quiet box)\n" else
          "this plan's ExistingRDD is RDD-backed without a checkpoint/localCheckpoint " +
          "executed during this build (no pre-checkpoint plan exists to capture)\n")
      def section(label: String, plans: Array[String]): Unit = plans.zipWithIndex.foreach { case (p, i) =>
        sb ++= s"\n### executed $label ${i + 1} of ${plans.length}\n\n```\n$p```\n"
      }
      section("pre-checkpoint stage", stages)
      section("build stage", collects.toArray(Array.empty[String]))
      sb.toString
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    def names(csv: Seq[String]) = csv.headOption.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    args.toList match {
      case "jobs" :: sfDir :: name :: reps => jobs(sfDir, name, reps.headOption.fold(2)(_.toInt))
      case "plans" :: sfDir :: out :: only => plans(sfDir, out, names(only))
      case "scale" :: rest => scale(rest.headOption.fold(10)(_.toInt), names(rest.drop(1)))
      case _ => sys.error("usage: graft.Harness jobs <sfDir> <name> [reps] | " +
        "plans <sfDir> <out.md> [names] | scale [factor] [names]")
    }
  }

  /** Job-grain profile of one query, so a slow bench entry can be
    * attributed to its passes instead of guessed at. */
  private def jobs(sfDir: String, name: String, reps: Int): Unit = {
    val spark = Sessions.local(cores)
    final case class Job(start: Long, desc: String, var end: Long = 0L,
        var tasks: Int = 0, var taskMs: Long = 0L, var cpuNs: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, Job] // guards itself and stageToJob
    val stageToJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (!isDrainMarker(e))
        jobs.synchronized {
          jobs(e.jobId) = Job(e.time, description(e))
          e.stageIds.foreach(stageToJob(_) = e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          if (e.taskMetrics != null) {
            j.taskMs += e.taskMetrics.executorRunTime
            j.cpuNs += e.taskMetrics.executorCpuTime
          }
        }
      }
    }
    eachQuery(spark, Seq(name))((_, q) => runNoop(q(sfDir))) // warm-up: JIT + page cache
    spark.sparkContext.addSparkListener(listener)
    val times = eachQuery(spark, Seq.fill(reps)(name)) { (_, q) =>
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      val t = runNoop(q(sfDir))
      if (!drainListenerBus(spark)) println("WARNING: listener bus not drained; job list may be short")
      val snap = jobs.synchronized(jobs.toVector)
      println(f"== $name rep: $t%.3f s, ${snap.size} jobs ==")
      snap.foreach { case (id, j) =>
        println(f"  job $id%3d  wall ${j.end - j.start}%6d ms  tasks ${j.tasks}%4d  taskTime ${j.taskMs}%7d ms  cpu ${j.cpuNs / 1000000}%7d ms  ${j.desc.take(80)}")
      }
      t
    }
    println(f"== $name min of $reps: ${times.min}%.3f s ==")
    spark.stop()
  }

  private def plans(sfDir: String, out: String, only: Option[Seq[String]]): Unit = {
    val spark = Sessions.local("8", logLevel = "ERROR")
    val sb = new StringBuilder
    sb ++= s"# PLANS — formatted physical plans at ${new java.io.File(sfDir).getName} " +
      "(generated by `graft.Harness plans`)\n"
    sb ++= "\nReview checklist per plan: filters/projection pushed to the scan,\n"
    sb ++= "dims broadcast, one shuffle per semantic key, whole-stage codegen spans.\n"
    sb ++= "\nReading notes: iterative index builds (ann_ivf_kmeans) print their\n"
    sb ++= "persisted subplans once per reference in the static explain — at\n"
    sb ++= "runtime each persisted stage executes once (CacheManager reuse), so\n"
    sb ++= "the rendered Exchange count overstates executed shuffles. Their\n"
    sb ++= "Lloyd rounds collect the <= kCells centroids to the driver, so each\n"
    sb ++= "assignment is a map-only array_max fold over a centroid literal.\n"
    sb ++= "Sections whose gate checkpoints loop state while it builds show a\n"
    sb ++= "Scan ExistingRDD where each checkpoint sits, plus the captured\n"
    sb ++= "PRE-CHECKPOINT plan (the plan that actually executed) as an 'executed\n"
    sb ++= "pre-checkpoint stage' subsection per checkpoint. Loop state a\n"
    sb ++= "builder collects to the driver (q90's transition cells, the GD\n"
    sb ++= "gradients, the Lloyd centroid means, every graft.Small frame such as\n"
    sb ++= "the percentile passes) shows as an 'executed build stage' subsection\n"
    sb ++= "per collect.\n"
    // with no names every query gets a section, in name order, so the
    // file never falls behind the inventory
    eachQuery(spark, only.getOrElse(SparkEntry.names.sorted)) { (n, q) =>
      sb ++= s"\n## $n\n\n${explainExecuted(spark, q(sfDir))}"
    }
    if (only.isEmpty) {
      sb ++= streamingNearDupPlan(spark)
      sb ++= streamingRepeatedSpanPlan(spark)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }

  /** Executed-microbatch plan of the streaming near-dup join (the one
    * headline operator whose plan only exists at trigger time): drives
    * a two-doc AvailableNow run against a raw signature table and
    * captures `query.explain()` — the shape to review is the stream
    * side's 84-row combo explode joining an `InMemoryTableScan` of the
    * persisted static combo keys (never a per-batch re-explode). */
  private def streamingNearDupPlan(spark: SparkSession): String = {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft-plans-stream").toString
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"),
        "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("doc_id", "ts", "text").coalesce(1).write.parquet(s"$in/b000")
    val sigs = dedup.DedupApi.simhashSignatures(
      Seq((10L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text"),
      "doc_id", "text")
    val planText = CacheScope.withScope { implicit scope =>
      microbatchPlan(streaming.Streams.nearDupPairsStream(
        spark.readStream.schema("doc_id LONG, ts TIMESTAMP, text STRING").parquet(s"$in/*"),
        sigs), "plans_neardup_out", "streaming near-dup")
    }
    s"\n## streaming_near_dup (executed microbatch plan)\n\n```\n$planText```\n"
  }

  /** Executed-microbatch plan of the streaming repeated-span join: the
    * shape to review is the stream side fingerprinting through the
    * NATIVE `graft_winnow` explode (the same expression as the batch
    * plane) hash-joining an `InMemoryTableScan` of the caller-persisted
    * static fingerprint snapshot (the refresh contract) on `fp` — no
    * cartesian, no per-batch winnow recompute of the corpus. */
  private def streamingRepeatedSpanPlan(spark: SparkSession): String = {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft-plans-span").toString
    val shared = "this exact boilerplate sentence is long enough to winnow reliably"
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        s"prefix words then $shared and a different tail"))
      .toDF("doc_id", "ts", "text").coalesce(1).write.parquet(s"$in/b000")
    val staticFps = dedup.DedupApi.winnowFingerprints(
        Seq((10L, s"corpus document one with $shared inside it and more text after"))
          .toDF("doc_id", "text"), "doc_id", "text")
      .select(col("doc_id").as("static_id"), col("fp"))
      .cache()
    staticFps.count() // materialize the snapshot before the stream starts
    try {
      val planText = microbatchPlan(streaming.Streams.repeatedSpanStream(
        spark.readStream.schema("doc_id LONG, ts TIMESTAMP, text STRING").parquet(s"$in/*"),
        staticFps), "plans_span_out", "streaming repeated-span")
      s"\n## streaming_repeated_span (executed microbatch plan)\n\n```\n$planText```\n"
    } finally staticFps.unpersist()
  }

  /** Runs `stream` to the end of its input into a memory sink and
    * returns `explain()` of its last microbatch. */
  private def microbatchPlan(stream: DataFrame, sink: String, what: String): String = {
    val q = stream.writeStream.format("memory").queryName(sink).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val finished = q.awaitTermination(120000)
    try {
      if (!finished)
        sys.error(s"$what plan run did not finish in 120s — refusing to dump a partial plan")
      val sw = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(sw))(q.explain())
      sw.toString
    } finally if (!finished) q.stop()
  }

  /** Times each query at 1× and factor× data (keys re-spaced so
    * cardinalities scale too, dims kept 1×): evidence that the plans
    * scale linearly-ish in data volume — constant shuffle rounds, no
    * quadratic blowups outside the intentionally quadratic pair scans.
    * Writes nothing outside target/. */
  private def scale(factor: Int, only: Option[Seq[String]]): Unit = {
    val spark = Sessions.local(cores, logLevel = "ERROR")
    val scaled = ScaleGen.defaultOut(factor)
    if (!new java.io.File(s"$scaled/part.parquet").exists) ScaleGen.build(spark, factor, scaled)
    val probes: Map[String, Build] = Map(
      // SemDeDup's scale knob: k grows with the corpus so cell size
      // stays constant — Σ|cell|² then grows linearly, not
      // quadratically (the fixed-k dedup_semantic run documents the
      // wrong-configuration cost: 38× at 20×)
      "dedup_semantic_kscaled" -> { (s, d) =>
        val k = if (d != ScaleGen.Base) 160 else 8
        dedup.DedupApi.semanticPairs(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.4, kCells = k, iters = 2, trainMod = 4)
      },
      // q42's gated instantiation reads customer (a 1× dim here) — this
      // applies the same scd2Apply shape to the N× orders table so the
      // base side actually scales
      "q42_scd2_merge" -> { (s, d) =>
        val o = Tables.orders(s, d)
        val accts = o.select(col("o_orderkey"), col("o_totalprice").as("c_acctbal"))
        val changes = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .select(col("o_orderkey"), (col("o_totalprice") + lit(100.0)).as("new_bal"))
        operators.Extra.scd2Apply(accts, changes, "o_orderkey", "c_acctbal", "new_bal")
      })
    def time(tag: String, df: => DataFrame): Double = {
      val s = runNoop(df)
      println(f"$tag: $s%.2f s")
      s
    }
    eachQuery(spark, only.getOrElse(SparkEntry.benchNames :+ "dedup_semantic_kscaled"),
        SparkEntry.queries ++ probes) { (n, q) =>
      // untimed warm-up at both sizes, as Bench and `jobs` do: JIT,
      // codegen and page cache must not land on the 1× run alone
      for (d <- Seq(ScaleGen.Base, scaled)) { runNoop(q(d)); dropAllBlocks(spark) }
      val t1 = time(s"$n @1x", q(ScaleGen.Base))
      dropAllBlocks(spark) // the 1× run's persists must not skew the N× run
      val tn = time(s"$n @${factor}x", q(scaled))
      println(f"$n scaling ratio: ${tn / t1}%.1fx for ${factor}x data")
    }
    spark.stop()
  }
}
