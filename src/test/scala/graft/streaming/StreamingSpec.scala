package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, Tables}

/** Streaming parity: the watermarked hourly aggregation over a file
  * stream of the synthetic events table must produce exactly the batch
  * q30 result (same groups, same sums) when run with AvailableNow, and
  * the stateless operators (session windows, the codec decoders) give
  * the batch answer on a stream.
  */
class StreamingSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("hourlyEventStats over a file stream equals the batch aggregation") {
    // stage the events parquet into a stream-source directory
    val dir = Files.createTempDirectory("graft-stream").toFile
    val batchEvents = Tables.load(spark, sf, "events")
    batchEvents.write.mode("overwrite").parquet(s"$dir/in")

    val stream = StreamingOps.eventStream(spark, s"$dir/in", batchEvents.schema)
    val agg = StreamingOps.hourlyEventStats(stream)
    val q = agg.writeStream
      .format("memory").queryName("hourly_stats")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("hourly_stats")
      .orderBy("hour", "event_type")
      .select(col("hour").cast("string"), col("event_type"), col("n_events"))
    val batch = batchEvents
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("hour", "event_type")
      .select(col("hour").cast("string"), col("event_type"), col("n_events"))
    assertRowsEqual(rows(streamed), rows(batch))
  }

  test("streaming session_window aggregation equals the batch q162 operator") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-session-stream").toFile
    // user 99 is a watermark sentinel: append mode only emits sessions
    // the watermark has passed, so a far-future event flushes every
    // real session; the sentinel's own (still-open) session is
    // excluded from the comparison on both sides
    val events = Seq(
      (1L, "2024-01-01 10:00:00", 1.0), (1L, "2024-01-01 10:10:00", 2.0), // one session
      (1L, "2024-01-01 11:30:00", 3.0),                                   // gap > 30 min → new
      (2L, "2024-01-01 10:00:00", 5.0),
      (99L, "2024-01-02 00:00:00", 0.0))
      .toDF("user_id", "s", "value")
      .select(col("user_id"), col("s").cast("timestamp").as("ts"), col("value"))
    events.write.mode("overwrite").parquet(s"$dir/in")

    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
      .select(col("user_id"), col("sw.start").cast("long").as("start_sec"),
        col("n"), col("v"))

    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/in")
      .withWatermark("ts", "1 minute")
    val out = StreamingOps.runAvailableNow(sessions(stream), "session_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .filter(col("user_id") < 99).orderBy("user_id", "start_sec")
    assertRowsEqual(rows(out),
      rows(sessions(events).filter(col("user_id") < 99).orderBy("user_id", "start_sec")))
    assert(out.count() == 3) // (1, two sessions), (2, one)
  }

  test("media decode over a payload stream equals the batch codec features") {
    // the codec paths are stateless mapPartitions — the same call runs
    // unchanged on a streaming DataFrame, so a media-ingest pipeline
    // (decode on arrival, store features) needs no batch/stream fork;
    // AudioCodec/VideoCodec share the exact shape
    val dir = Files.createTempDirectory("graft-media-stream").toFile
    import spark.implicits._
    val payloads = (0L until 40L).map { id =>
      val k = (id % 10).toInt
      (id, graft.operators.MultimodalCodec.encodeGrayPng(
        8 + k, 6 + k, (x, y) => (k * 37 + x * 7 + y * 13) % 211))
    }
    val df = payloads.toDF("doc_id", "payload")
    val batch = graft.operators.MultimodalCodec
      .decodeImageFeatures(df, "doc_id", "payload")
      .collect().map(_.toSeq).toSet

    df.filter(col("doc_id") < 20).write.parquet(s"$dir/in/b1")
    Thread.sleep(1100) // distinct mtimes pin the file-stream order
    df.filter(col("doc_id") >= 20).write.parquet(s"$dir/in/b2")
    val stream = spark.readStream
      .schema("doc_id LONG, payload BINARY")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
    val q = graft.operators.MultimodalCodec
      .decodeImageFeatures(stream, "doc_id", "payload")
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.read.parquet(s"$dir/out").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.size == 40)
  }

  test("lossy-codec decode over a payload stream equals the batch features") {
    // same stateless-mapPartitions argument as the PNG parity test, now
    // through the REAL lossy codecs: ADPCM audio features and MJPEG
    // luma stats must be bit-identical batch vs decode-on-arrival
    val dir = Files.createTempDirectory("graft-lossy-stream").toFile
    import spark.implicits._
    val payloads = (0L until 40L).map { id =>
      val k = (id % 6).toInt
      (id % 4) match {
        case 0 =>
          (id, graft.operators.AudioCodec.encodeImaAdpcmWav(8000 * (1 + k % 3),
            Seq((k * 200 - 500, k * 11 % 89, Array.tabulate(20 + k)(j => (k + j * 5) % 16)))))
        case 1 =>
          (id, graft.operators.VideoCodec.encodeMjpegAvi(10 + k, 8 + k, 10,
            Seq.fill(2 + k % 3)(Array.fill((10 + k) * (8 + k))(if (k % 2 == 0) 220 else 30))))
        case 2 => // µ-law: same shared audio-feature path, third format tag
          (id, graft.operators.AudioCodec.encodeMulawWav(8000,
            Array.tabulate(30 + k)(j => (k * 11 + j * 7) % 256)))
        case _ => // RLE8: inter-frame skips must decode identically on a stream
          val (w, h) = (6 + k, 5 + k)
          val f0 = Array.tabulate(w * h)(i => (k * 37 + i * 7) % 211)
          val f1 = f0.clone(); (0 until w).foreach(x => f1(x) = (k * 53 + x * 11) % 199)
          (id, graft.operators.VideoCodec.encodeRle8Avi(w, h, 10, Seq(f0, f1, f1)))
      }
    }
    val df = payloads.toDF("doc_id", "payload")
    val audioBatch = graft.operators.AudioCodec
      .decodeAudioFeatures(df, "doc_id", "payload").collect().map(_.toSeq).toSet
    val videoBatch = graft.operators.VideoCodec
      .decodeVideoLumaStats(df, "doc_id", "payload").collect().map(_.toSeq).toSet
    df.write.parquet(s"$dir/in/b1")
    val stream = spark.readStream
      .schema("doc_id LONG, payload BINARY")
      .parquet(s"$dir/in/*")
    for ((name, out) <- Seq("audio" -> graft.operators.AudioCodec
        .decodeAudioFeatures(stream, "doc_id", "payload"),
      "video" -> graft.operators.VideoCodec
        .decodeVideoLumaStats(stream, "doc_id", "payload"))) {
      out.writeStream.format("parquet")
        .option("path", s"$dir/out-$name")
        .option("checkpointLocation", s"$dir/ckpt-$name")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(spark.read.parquet(s"$dir/out-audio").collect().map(_.toSeq).toSet == audioBatch)
    assert(spark.read.parquet(s"$dir/out-video").collect().map(_.toSeq).toSet == videoBatch)
    // the audio half (ADPCM + µ-law) decoded through the audio path,
    // the video half (MJPEG + RLE8) through the video path — not both
    assert(audioBatch.count(_(1) == true) == 20)
    assert(videoBatch.count(_(1) == true) == 20)
  }
}
