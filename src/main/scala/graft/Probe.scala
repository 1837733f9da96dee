package graft

/** Ad-hoc per-query profiler: times named queries (3 runs each) and
  * optionally prints the executed plan. Usage:
  *
  *   runMain graft.Probe <sfDir> <name1,name2,...> [explain] [plans=<dir>:<suffix>] [jobs]
  *
  * `plans=plans/r15:before` writes each query's
  * `.explain("formatted")` output to `<dir>/<qNN>_<suffix>.txt` — the
  * artifact the optimization rounds commit next to the code. Given
  * without `explain` or `jobs`, it plans each query once and times
  * nothing.
  * `jobs` prints every Spark job's wall time and call site for the
  * third (warm) run, so per-round loop overhead is visible without the UI.
  *
  * Complements Bench (which times the whole surface): this is the
  * iterate-on-one-query loop.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val picked = SparkEntry.selector(args(1))
    val flags = args.drop(2)
    val explain = flags.contains("explain")
    val showJobs = flags.contains("jobs")
    val plansTo = flags.find(_.startsWith("plans=")).map(_.stripPrefix("plans="))
    val spark = GraftSession.create()
    // per-job wall-clock listener: job id → (description-or-callsite, ms)
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, String)]()
    val jobLog = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Long)]()
    // @volatile: written on the driver thread, read on the listener-bus
    // thread — without it the third-run capture can miss/bleed events
    @volatile var capture = false
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (capture) {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobLog.put(js.jobId, (desc, js.time, -1L))
        }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val prev = jobLog.get(je.jobId)
        if (prev != null) jobLog.put(je.jobId, (prev._1, prev._2, je.time))
      }
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (capture) {
          val si = sc.stageInfo
          val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
          val tm = si.taskMetrics
          val detail = f"gc=${tm.jvmGCTime} dser=${tm.executorDeserializeTime} " +
            f"cpu=${tm.executorCpuTime / 1000000} srT=${tm.shuffleReadMetrics.fetchWaitTime}"
          stageLog.add((si.stageId, si.numTasks, wall, tm.executorRunTime, detail))
        }
    })
    val timed = explain || showJobs || plansTo.isEmpty
    for (q <- SparkEntry.allQueries.filter(q => picked(q.name))) {
      if (timed) {
        val times = (1 to 3).map { i =>
          if (showJobs && i == 3) { jobLog.clear(); stageLog.clear(); capture = true }
          val t0 = System.nanoTime()
          q.fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          if (showJobs && i == 3) capture = false
          dt
        }
        // same per-query cleanup as Bench: localCheckpoint blocks otherwise
        // accumulate across queries and block-manager pressure skews the
        // later measurements (q198 measured 15.9 s here vs 3.7 s clean)
        org.apache.spark.sql.graft.GraftSqlBridge.releaseAll(spark)
        println(f"PROBE ${q.name}: ${times.map(t => f"$t%.2f").mkString(" ")} s")
        if (showJobs) {
          import scala.jdk.CollectionConverters._
          val rows = jobLog.asScala.toSeq.sortBy(_._1)
          val done = rows.collect { case (id, (d, s, e)) if e > 0 => (id, d, e - s) }
          println(f"  jobs: ${done.size}, total ${done.map(_._3).sum} ms")
          done.sortBy(-_._3).take(15).foreach { case (id, d, ms) =>
            println(f"  job $id%4d ${ms}%6d ms  ${d.take(90)}") }
          val stages = stageLog.toArray(Array.empty[(Int, Int, Long, Long, String)])
          val (nst, ntask) = (stages.length, stages.map(_._2).sum)
          println(f"  stages: $nst, tasks: $ntask, " +
            f"stageWall ${stages.map(_._3).sum} ms, taskRun ${stages.map(_._4).sum} ms")
          stages.sortBy(-_._4).take(10).foreach { case (id, n, w, r, nm) =>
            println(f"  stage $id%4d wall $w%5d ms run $r%6d ms tasks $n%3d  $nm") }
        }
      }
      if (explain || plansTo.isDefined) {
        val df = q.fn(spark, sfDir)
        if (explain) { df.count(); println(df.queryExecution.executedPlan.toString) }
        plansTo.foreach { spec =>
          val (dir, suffix) = spec.split(":") match {
            case Array(d, sfx) => (d, sfx)
            case Array(d) => (d, "plan")
          }
          val out = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val p = java.nio.file.Paths.get(dir, s"${SparkEntry.shortName(q.name)}_$suffix.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p,
            out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"  plan -> $p")
        }
        if (!timed) org.apache.spark.sql.graft.GraftSqlBridge.releaseAll(spark)
      }
    }
    spark.stop()
  }
}
