package graft.streaming

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.sources.Sinks

/** Usage demo / smoke main for the streaming path: stage the synthetic
  * events table as a file-stream source, run the watermarked hourly
  * aggregation with AvailableNow, export the result.
  *
  *   sbt "runMain graft.streaming.StreamingDemo /root/testdata/sf0.001"
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.create(cores = 4)
    val stage = java.nio.file.Files.createTempDirectory("graft-stream-demo").toString

    val events = Tables.load(spark, sfDir, "events")
    events.write.mode("overwrite").parquet(s"$stage/in")

    val hourly = StreamingOps.runAvailableNow(
      StreamingOps.hourlyEventStats(
        StreamingOps.eventStream(spark, s"$stage/in", events.schema)),
      "demo_hourly")
    println(s"== hourly windows: ${hourly.count()}")
    hourly.orderBy(desc("n_events")).show(5, truncate = false)

    Sinks.csv(hourly.select(col("hour").cast("string"), col("event_type"),
      col("n_events"), col("sum_value")), s"$stage/out", singleFile = true)
    println(s"== exported to $stage/out")
    spark.stop()
  }
}
