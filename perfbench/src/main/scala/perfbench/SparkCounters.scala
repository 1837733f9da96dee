package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark runtime counters collected by a listener the benchmark
  * registers. Events are kept with their own timestamps and attributed
  * to a pass afterwards by time, so listener-bus lag cannot move an
  * event into the wrong pass.
  */
final class SparkCounters extends SparkListener {
  private final case class TaskRec(finishMs: Long, cpuNs: Long, runMs: Long, gcMs: Long,
                                   shuffleWrite: Long, shuffleRead: Long, spill: Long)

  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def seen(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, e.time); seen()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add((s.longValue, e.time))); seen()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val t: Long = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    stages.add(t); seen()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.finishTime, m.executorCpuTime,
      m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled))
    seen()
  }

  /** Wait until the listener bus has been quiet for a moment. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() - lastEventMs < 300 &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Counters for the wall-clock interval [startMs, endMs]. */
  def forInterval(startMs: Long, endMs: Long): Map[String, Double] = {
    def in(t: Long) = t >= startMs && t <= endMs
    val js = jobs.asScala.toSeq.filter { case (s, _) => in(s) }
    val ts = tasks.asScala.toSeq.filter(t => in(t.finishMs))
    val covered = Tracer.union(js.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) })
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> stages.asScala.count(t => in(t.longValue)).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.executor_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "spark.executor_run_ms" -> ts.map(_.runMs).sum.toDouble,
      "spark.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb,
      "spark.driver_gap_ms" -> ((endMs - startMs) - covered).toDouble)
  }
}
