package graft

/** Per-query `.explain("formatted")` dumper for the optimization-round
  * evidence files (`plans/r<N>/<query>_{before,after}.txt`) — the same
  * capture as [[Plans]] ([[Harness.explainExecuted]]: static plan +
  * executed pre-checkpoint plans for gates that checkpoint loop state),
  * one file per query instead of one monolithic PLANS.md.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, namesCsv) = args.take(4)
    val names = namesCsv.split(',').map(_.trim).filter(_.nonEmpty)
    val spark = Sessions.local("8", logLevel = "ERROR")
    val qs = SparkEntry.queries
    val missing = names.filterNot(qs.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val plan = Harness.explainExecuted(spark, qs(n)(spark, sfDir))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        s"# $n ($suffix) — explain(formatted) at $sfDir\n\n$plan")
      Harness.dropAllBlocks(spark)
      println(s"wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
