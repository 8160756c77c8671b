package graft.tools

/** Dev tool: time named SparkEntry queries run-by-run with Spark job
  * counts — answers "where do the seconds of a training-chain query
  * go" without the UI (which the sandbox can't serve).
  *
  * {{{ sbt "runMain graft.tools.Profile <sfDir> <runs> <query ...>" }}}
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    val names = args.drop(2).toSeq
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    graft.sources.Tables.normalize(spark)
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[(Double, String)]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobDur = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs += 1; jobStart.put(j.jobId, j.time)
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = jobStart.get(j.jobId)
        if (s > 0) jobDur.add((j.jobId, (j.time - s) / 1e3))
      }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages += 1; tasks += s.stageInfo.numTasks
        val i = s.stageInfo
        val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield (a - b) / 1e3).getOrElse(-1.0)
        val scopes = i.rddInfos.flatMap(r => r.scope.map(_.name)).distinct.mkString(">")
        stageRows.add((wall, f"s${i.stageId}%d[${i.numTasks}%d t, $wall%.2f s, " +
          f"run ${i.taskMetrics.executorRunTime / 1e3}%.1f cpu ${i.taskMetrics.executorCpuTime / 1e9}%.1f " +
          f"gc ${i.taskMetrics.jvmGCTime / 1e3}%.1f] ${scopes.take(180)}"))
      }
    })
    names.foreach { q =>
      for (r <- 1 to runs) {
        jobs = 0; stages = 0; tasks = 0; jobDur.clear(); jobStart.clear(); stageRows.clear()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        // listener events drain asynchronously — settle before reading
        Thread.sleep(300)
        import scala.jdk.CollectionConverters._
        val durs = jobDur.asScala.toSeq.sortBy(-_._2)
        val inJobs = durs.map(_._2).sum
        println(f"[profile] $q run$r: $dt%.3f s, $jobs jobs, $stages stages, " +
          f"$tasks tasks, $inJobs%.3f s inside jobs; slowest: " +
          durs.take(8).map { case (id, d) => f"j$id=$d%.2f" }.mkString(", "))
        if (r == runs)
          stageRows.asScala.toSeq.sortBy(-_._1).take(10)
            .foreach { case (_, s) => println(s"[stage] $s") }
      }
    }
    spark.stop()
  }
}
