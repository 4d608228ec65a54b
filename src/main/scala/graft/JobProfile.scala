package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Job-grain profiler for one query: runs `<name>` against `<sfDir>`
  * through the noop sink (same timed action as Bench) and prints one
  * line per Spark job — wall ms, task count, summed task time, and the
  * job's first stage name — so a slow bench entry can be attributed to
  * its passes instead of guessed at (guide §1.1: find where the time
  * actually goes before changing anything).
  *
  * Usage: runMain graft.JobProfile <sfDir> <name> [reps]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    val q = SparkEntry.queries(name)

    final case class Job(start: Long, var end: Long = 0L,
        var tasks: Int = 0, var taskMs: Long = 0L, var desc: String = "")
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageToJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = Job(e.time)
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.synchronized { jobs(e.jobId) = j }
        e.stageIds.foreach(s => stageToJob.synchronized { stageToJob(s) = e.jobId })
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.synchronized { stageToJob.get(e.stageId) }
        jid.foreach { id => jobs.synchronized { jobs.get(id).foreach { j =>
          j.tasks += 1
          if (e.taskMetrics != null) j.taskMs += e.taskMetrics.executorRunTime
        } } }
      }
    }
    def run(): Double = {
      val t0 = System.nanoTime()
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup rep (JIT + page cache), untimed and unprofiled
    run()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sparkContext.addSparkListener(listener)
    val times = (1 to reps).map { _ =>
      jobs.synchronized(jobs.clear()); stageToJob.synchronized(stageToJob.clear())
      val t = run()
      // drain the listener bus: poll until at least one job was seen,
      // every observed job has its end time AND the snapshot is stable
      // across two polls (a fixed sleep could drop or misattribute late
      // task-end events; an empty map is not yet drained), with a
      // bounded wait as the backstop
      var prev = ""
      var stable = false
      val drainDeadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (!stable && System.nanoTime() < drainDeadline) {
        Thread.sleep(100)
        val sig = jobs.synchronized(
          jobs.map { case (id, j) => s"$id:${j.end}:${j.tasks}:${j.taskMs}" }.mkString(","))
        val allEnded = jobs.synchronized(jobs.values.forall(_.end != 0L))
        stable = sig.nonEmpty && allEnded && sig == prev
        prev = sig
      }
      val snap = jobs.synchronized(jobs.toVector)
      println(f"== $name rep: $t%.3f s, ${snap.size} jobs ==")
      snap.foreach { case (id, j) =>
        println(f"  job $id%3d  wall ${j.end - j.start}%6d ms  tasks ${j.tasks}%4d  taskTime ${j.taskMs}%7d ms  ${j.desc.take(80)}")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      t
    }
    println(f"== $name min of $reps: ${times.min}%.3f s ==")
    spark.stop()
  }
}
