package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener totals for one pass. Written only from the listener-bus
  * thread, read after a [[Probes.fence]]. */
final class PassTotals {
  var jobs, buildJobs, stages, tasks, qeActions, blocks = 0L
  var taskRunMs, taskCpuNs, shuffleRead, shuffleWrite, spill, fetchWaitMs, blockBytes = 0L
  var analysisMs, optimizerMs, planningMs = 0L
  val taskIntervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Everything the benchmark observes from outside the program in a
  * traced pass: a SparkListener for jobs, stages, tasks and block
  * updates, a QueryExecutionListener for Catalyst phase times, a log4j
  * appender counting WARN lines, and the JVM's GC counters. They are
  * attached by [[begin]] and detached by [[detach]], so untraced
  * passes run without them.
  *
  * Jobs carry the local property [[Probes.SpanKey]] (inherited by any
  * thread the program starts), so each job span is parented to the
  * query or evolution that was running. */
final class Probes(spark: SparkSession, tracer: Tracer) {
  import Probes._

  private val sc: SparkContext = spark.sparkContext
  @volatile private var totals = new PassTotals
  private val stageToJob = new ConcurrentHashMap[Int, Integer]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (span id, parent)
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val fenceJobs = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var fenceLatch: CountDownLatch = null
  private val warn = new WarnCounter

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(FenceKey) != null)) { fenceJobs.add(e.jobId); return }
      totals.jobs += 1
      if (props.exists(_.getProperty(PhaseKey) == "build")) totals.buildJobs += 1
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      val parent = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      jobSpan.put(e.jobId, (tracer.newId(), parent))
      jobStartMs.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      if (fenceJobs.remove(e.jobId)) { val l = fenceLatch; if (l != null) l.countDown(); return }
      val start = jobStartMs.remove(e.jobId)
      val span = jobSpan.remove(e.jobId)
      if (start != null && span != null)
        tracer.add(span._1, span._2, "job", s"job ${e.jobId}",
          tracer.fromEpochMs(start), tracer.fromEpochMs(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val job = stageToJob.get(info.stageId)
      if (job == null) return
      totals.stages += 1
      val parent = Option(jobSpan.get(job.intValue)).map(_._1).getOrElse(0L)
      for (s <- info.submissionTime; c <- info.completionTime)
        tracer.add(tracer.newId(), parent, "stage", s"stage ${info.stageId}",
          tracer.fromEpochMs(s), tracer.fromEpochMs(c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (stageToJob.get(e.stageId) == null) return
      val t = totals
      t.tasks += 1
      t.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        t.taskRunMs += m.executorRunTime
        t.taskCpuNs += m.executorCpuTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        totals.blocks += 1
        totals.blockBytes += b.memSize + b.diskSize
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val t = totals
      t.qeActions += 1
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(ps => ps.endTimeMs - ps.startTimeMs).getOrElse(0L)
      t.analysisMs += ms("analysis")
      t.optimizerMs += ms("optimization")
      t.planningMs += ms("planning")
    }
  }

  private val logCtx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private var attached = false
  warn.start()

  /** Run a one-task job tagged as a fence and wait until the listener
    * sees it end. The bus delivers events in order, so every event
    * posted before the fence (jobs, tasks, blocks, query executions)
    * has been counted once this returns. */
  def fence(): Unit = {
    val latch = new CountDownLatch(1)
    fenceLatch = latch
    val prev = sc.getLocalProperty(FenceKey)
    sc.setLocalProperty(FenceKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(FenceKey, prev)
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60 s")
    fenceLatch = null
  }

  /** Attach the probes, drain the bus, then start counting a new pass. */
  def begin(): Unit = {
    if (!attached) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      logCtx.getConfiguration.getRootLogger.addAppender(warn, Level.WARN, null)
      logCtx.updateLoggers()
      attached = true
    }
    fence()
    totals = new PassTotals
    warn.count.set(0)
  }

  /** Drain the bus and return the pass's totals. A pass is counted
    * only when every job it started has ended and it started one. */
  def end(): (PassTotals, Long) = {
    fence()
    val t = totals
    if (!jobStartMs.isEmpty)
      throw new IllegalStateException(s"${jobStartMs.size} jobs still running after the pass")
    if (t.jobs == 0) throw new IllegalStateException("no Spark job was seen in the pass")
    (t, warn.count.get)
  }

  /** Remove the probes; a no-op when they are not attached. Jobs that
    * were still open are forgotten, so the next pass starts clean. */
  def detach(): Unit = if (attached) {
    logCtx.getConfiguration.getRootLogger.removeAppender(warn.getName)
    logCtx.updateLoggers()
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
    Seq(stageToJob, jobSpan, jobStartMs).foreach(_.clear())
    fenceJobs.clear()
    attached = false
  }
}

object Probes {
  /** Local property naming the span that started a job. */
  val SpanKey = "graftbench.span"
  /** Local property naming the step (`build`, `execute`, ...) that started a job. */
  val PhaseKey = "graftbench.phase"
  val FenceKey = "graftbench.fence"

  /** Cumulative JVM garbage-collection time, in milliseconds. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Seconds of the window `[wallStartMs, wallEndMs)` during which no
    * task ran, leaving out the `excluded` intervals (probe work). */
  def idleSeconds(tasks: Seq[(Long, Long)], excluded: Seq[(Long, Long)], wallStartMs: Long,
      wallEndMs: Long): Double = {
    val notIdle = Intervals.unionLength((tasks ++ excluded).map { case (s, e) =>
      (math.max(s, wallStartMs), math.min(e, wallEndMs)) })
    math.max(0L, (wallEndMs - wallStartMs) - notIdle) / 1000.0
  }
}

private final class WarnCounter
    extends AbstractAppender("graftbench-warn", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: LogEvent): Unit = if (e.getLevel == Level.WARN) count.incrementAndGet()
}
