package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** What one timed pass of a workload reports besides its wall time. */
final case class PassOut(
    ops: Int,                       // user-level operations run (queries, evolutions, migrations)
    layer: Map[String, Double],     // per-layer values for this pass
    probe: ProbeTime)               // work done only to measure a layer; not part of the pass

/** Time a traced pass spends on work done only to measure a layer
  * (extra planning or `graft.schema` calls). It is taken out of the
  * pass's wall time and out of the window that `scheduler.idle_s` and
  * `scheduler.core_util` are read over. */
final class ProbeTime {
  var ns = 0L
  val intervalsMs = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms, as task times are

  /** Run `f` as probe work; return its duration in nanoseconds. */
  def time(f: => Any): Long = {
    val (m0, t0) = (System.currentTimeMillis(), System.nanoTime())
    f
    val d = System.nanoTime() - t0
    ns += d
    intervalsMs += ((m0, System.currentTimeMillis()))
    d
  }
}

trait Workload {
  /** The untimed first pass: warms the JVM and checks every output.
    * Returns (operations checked, failure messages). */
  def verify(): (Int, Seq[String])
  /** One timed pass. Throws if any operation fails. */
  def pass(idx: Int, rnd: Random, passSpan: Long): PassOut
  /** Release what the last pass left cached. */
  def cleanup(): Unit
}

/** JVM side of the benchmark. `perfbench/run.py` builds the classes,
  * generates the inputs and starts this with:
  *
  *   --kind query|schema --seed <n> --passes <n> --warm-passes <n>
  *   --trace 0|1 --cores <n> --data <dir> --out <dir> --t0-ms <epoch ms>
  *   [--queries a,b] [--widths 50,100]
  *
  * and reads `<out>/result.json` when it exits. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val cores = opt("cores")
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)

    val spark = graft.Sessions.local(cores)
    spark.conf.set("spark.sql.catalog.graftcat", "graft.catalog.GraftCatalog")
    val tracer = new Tracer
    val probes = if (traced) Some(new Probes(spark, tracer)) else None
    val wl: Workload = opt("kind") match {
      case "query" => new QueryWorkload(spark, tracer, opt("data"), opt("queries").split(',').toSeq, out)
      case "schema" => new SchemaWorkload(spark, tracer, seed, opt("data"),
        opt("widths").split(',').map(_.toInt).toSeq, out)
    }

    val (checked, verifyFailures) = wl.verify()
    // The JIT is still compiling after the first pass; untimed passes
    // keep that out of the timed ones.
    val warmRnd = new Random(~seed)
    val warmFailures = (1 to opt("warm-passes").toInt).flatMap { _ =>
      try { wl.pass(-1, warmRnd, 0L); None }
      catch { case e: Exception => Some(s"warm-up pass: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally wl.cleanup()
    }
    val failures = verifyFailures ++ warmFailures
    val firstPassMs = System.currentTimeMillis()
    val setupS = (firstPassMs - opt("t0-ms").toLong) / 1000.0

    // A run does a fixed number of passes, so both sides of a comparison
    // do the same work. Passes run to completion; a pass in which any
    // operation fails is dropped whole, so every kept sample has the
    // same operation count. A traced run alternates untraced and
    // traced passes (ABBA) so the tracing overhead can be read off:
    // the probes are attached only for the traced passes.
    val rnd = new Random(seed)
    val walls = mutable.Map(false -> mutable.ArrayBuffer.empty[Double], true -> mutable.ArrayBuffer.empty[Double])
    var opCount = 0
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val passErrors = mutable.ArrayBuffer.empty[String]
    for (idx <- 0 until opt("passes").toInt) {
      val tracedPass = traced && (idx % 4 == 1 || idx % 4 == 2)
      val passRnd = new Random(rnd.nextLong())
      tracer.pass = idx
      if (tracedPass) probes.foreach(_.begin())
      tracer.enabled = tracedPass
      val gc0 = Probes.gcMs()
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out0 = try Right(tracer.span(0L, "pass", s"pass $idx")(id => wl.pass(idx, passRnd, id)))
        catch { case e: Exception => Left(e) }
      val wallNs = System.nanoTime() - t0
      val t1Ms = System.currentTimeMillis()
      val gcS = (Probes.gcMs() - gc0) / 1000.0
      tracer.enabled = false
      val res = out0.flatMap { po =>
        try Right((po, if (tracedPass) probes.map(_.end()) else None)) catch { case e: Exception => Left(e) }
      }
      probes.foreach(_.detach())
      wl.cleanup()
      res match {
        case Left(e) =>
          passErrors += s"pass $idx: ${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[graftbench] pass $idx dropped: $e")
        case Right((po, totals)) =>
          val wallS = (wallNs - po.probe.ns) / 1e9
          walls(tracedPass) += wallS
          opCount += po.ops
          for ((t, warns) <- totals) {
            val idleS = Probes.idleSeconds(t.taskIntervals.toSeq, po.probe.intervalsMs.toSeq, t0Ms, t1Ms)
            layers += po.layer ++ tracer.selfSeconds(idx).map { case (k, v) => s"self.$k" + "_s" -> v } ++
              listenerLayers(t, warns, wallS, idleS, cores.toDouble) + ("gc.jvm_gc_s" -> gcS)
          }
      }
    }

    wl.cleanup()
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!traced) {
      val heapMb = retainedHeapMb()
      metrics("setup_s") = setupS
      metrics("pass_s") = Stats.median(walls(false).toSeq)
      metrics("heap_retained_mb") = heapMb
    } else if (layers.nonEmpty) {
      for (k <- layers.flatMap(_.keys).distinct.sorted)
        metrics(k) = Stats.median(layers.map(_.getOrElse(k, 0.0)).toSeq)
      metrics("trace.overhead_s") = Stats.median(walls(true).toSeq) - Stats.median(walls(false).toSeq)
    }
    if (traced) tracer.writeJsonl(out.resolve("spans.jsonl"))

    val kept = walls.values.map(_.size).sum
    val result = Json.obj(Seq(
      "checked" -> checked.toString,
      "failures" -> Json.arr((failures ++ passErrors).map(Json.str)),
      "passes" -> kept.toString,
      "passes_dropped" -> passErrors.size.toString,
      "operations" -> opCount.toString,
      "pass_walls_s" -> Json.arr((walls(false) ++ walls(true)).toSeq.map(Json.num)),
      "cores" -> cores,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(out.resolve("result.json"), result)
    spark.stop()
  }

  /** Live heap after a full GC, read from the pools' after-collection
    * usage, which allocations made after the GC do not disturb. The
    * least of three GCs, spaced so Spark's cleaner can release what
    * weakly-held broadcasts and shuffles kept in between. */
  private def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    val mb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
    Thread.sleep(300)
    mb
  }.min

  /** Per-layer values read from the listener totals of one pass. */
  private def listenerLayers(t: PassTotals, warns: Long, wallS: Double, idleS: Double,
      cores: Double): Map[String, Double] = Map(
    "planner.analysis_s" -> t.analysisMs / 1000.0,
    "planner.optimizer_s" -> t.optimizerMs / 1000.0,
    "planner.planning_s" -> t.planningMs / 1000.0,
    "planner.actions" -> t.qeActions.toDouble,
    "scheduler.jobs" -> t.jobs.toDouble,
    "scheduler.stages" -> t.stages.toDouble,
    "scheduler.tasks" -> t.tasks.toDouble,
    "scheduler.idle_s" -> idleS,
    "scheduler.core_util" -> t.taskRunMs / 1000.0 / (wallS * cores),
    "executor.task_run_s" -> t.taskRunMs / 1000.0,
    "executor.task_cpu_s" -> t.taskCpuNs / 1e9,
    "shuffle.read_mb" -> t.shuffleRead / 1048576.0,
    "shuffle.write_mb" -> t.shuffleWrite / 1048576.0,
    "shuffle.spill_mb" -> t.spill / 1048576.0,
    "shuffle.fetch_wait_s" -> t.fetchWaitMs / 1000.0,
    "storage.blocks" -> t.blocks.toDouble,
    "storage.block_mb" -> t.blockBytes / 1048576.0,
    "log.warn_lines" -> warns.toDouble,
    "builder.jobs" -> t.buildJobs.toDouble)

  /** Run `f` with the local properties that tie the jobs it starts to
    * `span` (and `phase`); threads started inside inherit them. */
  def tagged[A](spark: SparkSession, span: Long, phase: String)(f: => A): A = {
    if (span == 0L) return f
    val sc = spark.sparkContext
    val (ps, pp) = (sc.getLocalProperty(Probes.SpanKey), sc.getLocalProperty(Probes.PhaseKey))
    sc.setLocalProperty(Probes.SpanKey, span.toString)
    sc.setLocalProperty(Probes.PhaseKey, phase)
    try f
    finally { sc.setLocalProperty(Probes.SpanKey, ps); sc.setLocalProperty(Probes.PhaseKey, pp) }
  }

  def ms(ns: Long): Double = ns / 1e6
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
