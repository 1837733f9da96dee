package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming surface: the reference's ingestion is a daily
  * batch re-pull (no true streaming — SURVEY §2.10), so this module is
  * the engine's one stream path: the same event schema used by the
  * batch q30 windowed aggregation, expressed as an incremental query
  * with a watermark over a file-stream source.
  *
  * Scale design: event-time windows + watermark bound state; the
  * grouped aggregation is the same partial/final hash agg as batch, so
  * a 1000-executor cluster shuffles only per-window partials.
  * `Trigger.AvailableNow` gives the reference's "daily batch" cadence
  * with streaming exactly-once bookkeeping.
  */
object StreamingOps {

  /** Hourly tumbling-window counts/sums per event type with a 1-hour
    * watermark — the streaming twin of CoreQueries.q30.
    */
  def hourlyEventStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** File-source stream over a directory of parquet events with the
    * given schema — at scale this is the bridge from a landing zone
    * (object store prefix) into the incremental query above.
    */
  def eventStream(spark: SparkSession, dir: String,
                  schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Run a streaming DataFrame to completion over the currently
    * available data (the reference's daily-batch cadence) into an
    * in-memory table; returns the result.
    */
  def runAvailableNow(df: DataFrame, queryName: String,
                      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(queryName)
  }
}
