package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, Tables}

/** Streaming parity: the watermarked hourly aggregation over a file
  * stream of the synthetic events table must produce exactly the batch
  * q30 result (same groups, same sums) when run with AvailableNow.
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

  test("dedupWithinWatermark keeps one row per key over a replayed stream") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dedup-stream").toFile
    // duplicate deliveries of the same event ids (at-least-once producer)
    val rows0 = Seq(
      (1L, "2024-01-01 10:00:00", 5.0), (2L, "2024-01-01 10:00:10", 6.0),
      (1L, "2024-01-01 10:00:00", 5.0), (3L, "2024-01-01 10:00:20", 7.0),
      (2L, "2024-01-01 10:00:10", 6.0))
      .toDF("event_id", "ts_s", "value")
      .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"), col("value"))
    rows0.write.mode("overwrite").parquet(s"$dir/in")

    val stream = spark.readStream.schema(rows0.schema).parquet(s"$dir/in")
    val deduped = StreamingOps.dedupWithinWatermark(stream, Seq("event_id"), "ts", "10 minutes")
    val out = StreamingOps.runAvailableNow(deduped, "dedup_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    assert(out.select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("streamingNearDupCandidates flags later near-dups against the first-seen doc") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-neardup-stream").toFile
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (10L, base),
      (11L, base),                                  // exact dup of 10
      (12L, base + " tonight"),                     // near dup of 10
      (13L, "completely different content with nothing shared at all here"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/in")

    val stream = spark.readStream.schema(docs.schema).parquet(s"$dir/in")
    val cands = StreamingOps.streamingNearDupCandidates(stream, "doc_id", "text")
    val out = StreamingOps.runAvailableNow(cands.toDF(), "neardup_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val pairs = out.select("doc_id", "matches_doc").distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((11L, 10L)), s"exact dup not flagged: $pairs")
    assert(pairs.contains((12L, 10L)), s"near dup not flagged: $pairs")
    assert(!pairs.exists(p => p._1 == 13L || p._2 == 13L),
      s"unrelated doc flagged: $pairs")

    // stream and batch agree on who is a duplicate: every doc the batch
    // LSH (q36 machinery) pairs as the larger id must be flagged by the
    // stream too (the stream anchors to the bucket's first doc, so pair
    // endpoints differ inside one family, but the flagged set matches)
    val batchDups = graft.operators.Dedup
      .minhashLshPairs(docs, "doc_id", "text", n = 2, k = 12, rowsPerBand = 2,
        threshold = 0.0)
      .select(col("id_b").cast("long")).as[Long].collect().toSet
    val streamDups = pairs.map(_._1)
    assert(batchDups.subsetOf(streamDups), s"batch=$batchDups stream=$streamDups")
  }

  test("streamingWinnowCandidates over a two-batch file stream equals batch winnowPairs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-winnow-stream").toFile
    val span = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 a5 $span a6 a7 a8"),
      (2L, s"b1 b2 $span b3 b4 b5 b6 b7"),
      (3L, s"c1 c2 c3 $span c4 c5 c6"),
      (4L, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10"))
      .toDF("doc_id", "text")
    docs.filter(col("doc_id") <= 2).write.parquet(s"$dir/in/b1")
    Thread.sleep(1100) // distinct mtimes pin the file-stream order
    docs.filter(col("doc_id") > 2).write.parquet(s"$dir/in/b2")

    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in/*")
    val cands = StreamingOps.streamingWinnowCandidates(stream, "doc_id", "text",
      k = 4, w = 5)
    val q = cands.toDF().writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$dir/out")
      .select(col("matches_doc"), col("doc_id")).distinct()
      .as[(Long, Long)].collect().toSet

    // the shared 12-token run (>= w+k-1 = 8) forces candidates among
    // docs 1/2/3; doc 4 shares nothing — and the DISTINCT streamed pair
    // set must equal the batch generator's at minShared = 1
    val batch = graft.operators.Dedup
      .winnowPairs(docs, "doc_id", "text", k = 4, w = 5, minShared = 1)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(Set((1L, 2L), (1L, 3L), (2L, 3L)).subsetOf(streamed))
    assert(!streamed.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("streamingWinnowCandidates: a bucket crossing the cap latches and stops emitting") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-winnow-cap").toFile
    // 4 identical docs share every fingerprint; cap 2 means the third
    // arrival latches each bucket — only the (1,2) pair ever emits
    val docs = Seq.tabulate(4)(i => (i.toLong + 1, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$dir/in/b1")
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .parquet(s"$dir/in/*")
    val cands = StreamingOps.streamingWinnowCandidates(stream, "doc_id", "text",
      k = 4, w = 5, maxBucket = 2)
    val out = StreamingOps.runAvailableNow(cands.toDF(), "winnow_cap_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val pairs = out.select("matches_doc", "doc_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"cap not latched: $pairs")
  }

  test("stream-static dimension enrichment matches the batch broadcast join") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-enrich-stream").toFile
    val events = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("user_id", "value")
    events.write.mode("overwrite").parquet(s"$dir/in")
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "segment")

    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/in")
    val enriched = StreamingOps.enrichWithDim(stream, dim, Seq("user_id"))
    val out = StreamingOps.runAvailableNow(enriched, "enrich_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("user_id")
    assertRowsEqual(rows(out),
      rows(StreamingOps.enrichWithDim(events, dim, Seq("user_id")).orderBy("user_id")))
  }

  test("stream-static SCD2 as-of enrichment stamps each event with its era's version") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-asof-stream").toFile
    val events = Seq(
      (1L, "2024-01-01 10:00:00"), // before the tier change -> v1
      (1L, "2024-03-01 10:00:00"), // after -> v2
      (2L, "2024-02-01 10:00:00"), // user with one open version -> v1
      (3L, "2024-02-01 10:00:00")) // no dim row -> null tier
      .toDF("user_id", "s").select(col("user_id"), col("s").cast("timestamp").as("ts"))
    events.write.mode("overwrite").parquet(s"$dir/in")
    val dim = Seq(
      (1L, "bronze", "2023-01-01 00:00:00", "2024-02-01 00:00:00"),
      (1L, "gold", "2024-02-01 00:00:00", null),
      (2L, "silver", "2023-01-01 00:00:00", null))
      .toDF("user_id", "tier", "f", "t")
      .select(col("user_id"), col("tier"),
        col("f").cast("timestamp").as("valid_from"),
        col("t").cast("timestamp").as("valid_to"))

    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/in")
    val enriched = StreamingOps.enrichAsOf(stream, dim, "user_id",
      "ts", "valid_from", "valid_to")
      .select(col("s.user_id").as("user_id"), col("ts"), col("tier"))
    val out = StreamingOps.runAvailableNow(enriched, "asof_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("user_id", "ts")
    val got = out.select("user_id", "tier").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "bronze"), (1L, "gold"), (2L, "silver"), (3L, null)))
    // and the streaming result is exactly the batch interval join
    val batch = StreamingOps.enrichAsOf(events, dim, "user_id",
      "ts", "valid_from", "valid_to")
      .select(col("s.user_id").as("user_id"), col("ts"), col("tier"))
      .orderBy("user_id", "ts")
    assertRowsEqual(rows(out), rows(batch))
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

  test("streamUpsert maintains a keep-latest snapshot across micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-upsert-stream").toFile
    // two input files; maxFilesPerTrigger=1 forces two micro-batches so
    // the second batch must merge AGAINST the snapshot, not raw input
    Seq((1L, 10L, "v1"), (2L, 10L, "v1")).toDF("k", "ver", "payload")
      .write.parquet(s"$dir/in/b1")
    Seq((2L, 20L, "v2"), (3L, 20L, "v2")).toDF("k", "ver", "payload")
      .write.parquet(s"$dir/in/b2")
    val stream = spark.readStream
      .schema("k LONG, ver LONG, payload STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
    val q = StreamingOps.streamUpsert(stream, Seq("k"), "ver", s"$dir/snapshot")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.read.parquet(s"$dir/snapshot")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, 10L, "v1"), (2L, 20L, "v2"), (3L, 20L, "v2")),
      out.toSeq.toString)
  }

  test("upsertBatch recovers a half-completed swap (crash between delete and rename)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-upsert-crash").toFile
    val snap = s"$dir/snapshot"
    // simulate the crash window: the previous batch's merge is fully
    // written at .tmp, the old snapshot already deleted, rename never ran
    Seq((1L, 10L, "v1"), (2L, 10L, "v1")).toDF("k", "ver", "payload")
      .write.parquet(s"$snap.tmp")
    assert(!new java.io.File(snap).exists())
    // the replayed micro-batch must merge against the RECOVERED state
    val batch = Seq((2L, 20L, "v2"), (3L, 20L, "v2")).toDF("k", "ver", "payload")
    StreamingOps.upsertBatch(batch, Seq("k"), "ver", snap)
    val out = spark.read.parquet(snap)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, 10L, "v1"), (2L, 20L, "v2"), (3L, 20L, "v2")),
      out.toSeq.toString)
  }

  test("upsertBatch discards a partial tmp with no _SUCCESS marker (crash mid-first-write)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-upsert-partial").toFile
    val snap = s"$dir/snapshot"
    // simulate a crash mid-write of the very first micro-batch: a tmp dir
    // exists but was never job-committed (no _SUCCESS), and no snapshot yet
    Seq((9L, 99L, "garbage")).toDF("k", "ver", "payload")
      .write.parquet(s"$snap.tmp")
    assert(new java.io.File(s"$snap.tmp/_SUCCESS").delete())
    val batch = Seq((1L, 10L, "v1")).toDF("k", "ver", "payload")
    StreamingOps.upsertBatch(batch, Seq("k"), "ver", snap)
    // the marker-less tmp must NOT have been promoted into the state
    val out = spark.read.parquet(snap)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, 10L, "v1")), out.toSeq.toString)
  }

  test("streamCurate micro-batches reproduce the one-shot incremental curation survivors") {
    val dir = Files.createTempDirectory("graft-curate-stream").toFile
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val isEval = pmod(col("doc_id"), lit(97)) === 0
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0 && !isEval)
      .select("doc_id", "text")
    val storeFps = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0 && !isEval)
      .select(graft.operators.TextAnalysis.contentFingerprint(col("text")).as("_fp"))
    val evalDocs = Some(docs.filter(isEval))
    val cfg = graft.curation.CurationPipeline.Config(maxEvalOverlap = 0.05)

    val oneShot = graft.curation.CurationPipeline
      .curateIncremental(batch, storeFps, "doc_id", "text", cfg, evalDocs)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // split the batch into two micro-batch files, ids ascending across
    // the split so sequential keep-first agrees with the global one;
    // distinct mtimes pin the file-stream processing order
    val mid = batch.agg(expr("percentile(doc_id, 0.5)")).collect()(0).getDouble(0)
    storeFps.write.parquet(s"$dir/store")
    batch.filter(col("doc_id") <= mid).write.parquet(s"$dir/in/b1")
    Thread.sleep(1100)
    batch.filter(col("doc_id") > mid).write.parquet(s"$dir/in/b2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
    val q = graft.curation.CurationPipeline
      .streamCurate(stream, s"$dir/store", s"$dir/out", "doc_id", "text", cfg, evalDocs)
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == oneShot,
      s"stream-only: ${(streamed -- oneShot).toSeq.sorted}; one-shot-only: ${(oneShot -- streamed).toSeq.sorted}")
    // the store accumulated exactly the survivors' fingerprints
    val storeN = spark.read.parquet(s"$dir/store").count()
    val initialN = storeFps.count()
    assert(storeN == initialN + streamed.size, s"$storeN vs $initialN + ${streamed.size}")
  }

  test("streamCurate with the substring stage: cross-micro-batch span cut equals one-shot") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-curate-runs").toFile
    val spanA = (1 to 10).map(i => s"aa$i").mkString(" ")
    val spanB = (1 to 10).map(i => s"bb$i").mkString(" ")
    def uniq(p: String) = (1 to 10).map(i => s"$p$i").mkString(" ")
    // standing corpus: doc 1 holds span A (the keeper)
    val stored = Seq((1L, s"the a ${uniq("s")} $spanA")).toDF("doc_id", "text")
    val storeFps = stored.select(
      graft.operators.TextAnalysis.contentFingerprint(col("text")).as("_fp"))
    val cfg = graft.curation.CurationPipeline.Config(minQuality = 0.0,
      cutDupRuns = true, runGramK = 4, runMinTokens = 8)
    val storeGrams = stored.select(col("doc_id"),
      posexplode(call_function("graft_shingle_hash_list", col("text"), lit(4)))
        .as(Seq("pos", "h")))
    // batch 1: doc 10 repeats span A (vs the STORE); doc 11 introduces
    // span B. batch 2: doc 12 repeats span B (vs BATCH 1 — only the
    // accumulated gram store can catch it); doc 13 is plain.
    val b1 = Seq(
      (10L, s"the a ${uniq("p")} $spanA"),
      (11L, s"the a ${uniq("q")} $spanB")).toDF("doc_id", "text")
    val b2 = Seq(
      (12L, s"the a ${uniq("r")} $spanB"),
      (13L, s"the a ${uniq("t")} plain body")).toDF("doc_id", "text")

    val oneShot = graft.curation.CurationPipeline
      .curateIncremental(b1.unionByName(b2), storeFps, "doc_id", "text",
        cfg, None, Some(storeGrams))
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    storeFps.write.parquet(s"$dir/store")
    storeGrams.write.parquet(s"$dir/store_grams")
    b1.write.parquet(s"$dir/in/b1")
    Thread.sleep(1100)
    b2.write.parquet(s"$dir/in/b2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
    val q = graft.curation.CurationPipeline
      .streamCurate(stream, s"$dir/store", s"$dir/out", "doc_id", "text", cfg, None)
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == oneShot,
      s"stream: ${streamed.toSeq.sortBy(_._1)}\none-shot: ${oneShot.toSeq.sortBy(_._1)}")
    // the cuts themselves, stated directly: doc 10 lost span A to the
    // store; doc 12 lost span B to batch 1's doc 11 ACROSS the
    // micro-batch boundary; keepers 11/13 intact
    val byId = streamed.toMap
    assert(byId(10L) == s"the a ${uniq("p")}")
    assert(byId(11L) == s"the a ${uniq("q")} $spanB")
    assert(byId(12L) == s"the a ${uniq("r")}")
    assert(byId(13L) == s"the a ${uniq("t")} plain body")
    // the gram store accumulated the kept docs' ORIGINAL grams
    val gramDocs = spark.read.parquet(s"$dir/store_grams")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(gramDocs == Set(1L, 10L, 11L, 12L, 13L))
  }

  test("streamed Delta-log commits fold to exactly the batch snapshot census") {
    import graft.operators.DeltaLogOps
    val dir = Files.createTempDirectory("graft-deltalog-stream").toFile
    val allLines = (0L until 12L).flatMap(k =>
      DeltaLogOps.syntheticLog(k).map { case (v, l) => (k, v, l) })
      .map { case (t, v, l) => (t, v, l) }
    import spark.implicits._
    val want = DeltaLogOps.snapshotCensus(
        allLines.toDF("tbl", "ver", "line"), "tbl", "ver", "line")
      .orderBy("tbl").collect().map(_.toSeq)
    // commits arrive version-by-version, three micro-batch files
    for (v <- 0L to 2L) {
      val b = allLines.filter(_._2 == v)
      if (b.nonEmpty) {
        b.toDF("tbl", "ver", "line").write.parquet(s"$dir/in/v$v")
        Thread.sleep(1100)
      }
    }
    val stream = spark.readStream
      .schema("tbl LONG, ver LONG, line STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
    val q = DeltaLogOps.streamCensus(stream, s"$dir/state", "tbl", "ver", "line")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = DeltaLogOps.censusFromState(
        spark.read.schema(DeltaLogOps.StateSchema).parquet(s"$dir/state"))
      .orderBy("tbl").collect().map(_.toSeq)
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g == w, s"stream fold diverged:\n  stream: $g\n  batch:  $w")
    }
  }

  test("a CHECKPOINT-seeded state store continues a vacuumed log stream to the full census") {
    // the 100 TB restart shape: the state store starts from a Delta
    // checkpoint (stateFromCheckpoint), the vacuumed pre-checkpoint
    // JSONs never arrive, and only post-checkpoint commits stream in —
    // the folded census must still equal the FULL history's snapshot
    import graft.operators.DeltaLogOps
    val dir = Files.createTempDirectory("graft-deltackpt-stream").toFile
    import spark.implicits._
    // vacuumed classes with post-commits (c4 in {2,3}, m >= 1)
    val ks = Seq(2L, 10L, 11L, 14L, 23L)
    val liveCols = Seq("tbl", "n_live", "n_tombstones", "live_bytes",
      "live_rows", "n_live_no_stats", "n_partitions", "min_reader", "min_writer")
    val want = DeltaLogOps.snapshotCensus(
        ks.flatMap(k => DeltaLogOps.syntheticLog(k).map { case (v, l) => (k, v, l) })
          .toDF("tbl", "ver", "line"), "tbl", "ver", "line")
      .orderBy("tbl").select(liveCols.map(col): _*).collect().map(_.toSeq)
    // seed the store from the checkpoint records BEFORE any batch
    val ckpt = ks.flatMap { k =>
      val (vc, recs, _) = DeltaLogOps.syntheticCheckpointed(k)
      recs.map(r => (k, vc, r))
    }.toDF("tbl", "ckver", "rec")
      .select(col("tbl"), col("ckver"), col("rec.add").as("add"),
        col("rec.remove").as("remove"), col("rec.protocol").as("protocol"))
    DeltaLogOps.stateFromCheckpoint(ckpt, "tbl", "ckver")
      .write.parquet(s"$dir/state")
    // only the RETAINED (post-checkpoint) commits arrive, in order
    for (v <- 1L to 2L) {
      val b = ks.flatMap(k => DeltaLogOps.syntheticCheckpointed(k)._3
        .collect { case (ver, l) if ver == v => (k, ver, l) })
      if (b.nonEmpty) {
        b.toDF("tbl", "ver", "line").write.parquet(s"$dir/in/v$v")
        Thread.sleep(1100)
      }
    }
    val stream = spark.readStream
      .schema("tbl LONG, ver LONG, line STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
    val q = DeltaLogOps.streamCensus(stream, s"$dir/state", "tbl", "ver", "line")
      .option("checkpointLocation", s"$dir/ckptloc")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = DeltaLogOps.censusFromState(
        spark.read.schema(DeltaLogOps.StateSchema).parquet(s"$dir/state"))
      .orderBy("tbl").select(liveCols.map(col): _*).collect().map(_.toSeq)
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g == w, s"checkpoint-seeded stream diverged:\n  stream: $g\n  full:   $w")
    }
  }

  test("streamCensus retry of an already-folded batch is a no-op (batch-marker idempotence)") {
    // the crash window the marker closes: driver dies between
    // delete(state) and rename(tmp, state) — recovery promotes tmp
    // (which already folded batch N), the restart re-delivers batch N
    // with the SAME batchId, and a second fold would double-count the
    // tally rows (n_lines/n_adds/n_removes)
    import graft.operators.DeltaLogOps
    val dir = Files.createTempDirectory("graft-deltastream-retry").toFile
    import spark.implicits._
    val ks = Seq(2L, 5L)
    val allLines = ks.flatMap(k =>
      DeltaLogOps.syntheticLog(k).map { case (v, l) => (k, v, l) })
    val want = DeltaLogOps.snapshotCensus(
        allLines.toDF("tbl", "ver", "line"), "tbl", "ver", "line")
      .orderBy("tbl").collect().map(_.toSeq)
    for (v <- 0L to 2L) {
      val b = allLines.filter(_._2 == v)
      if (b.nonEmpty) {
        b.toDF("tbl", "ver", "line").write.parquet(s"$dir/in/v$v")
        Thread.sleep(1100)
      }
    }
    def run(): Unit = {
      val stream = spark.readStream
        .schema("tbl LONG, ver LONG, line STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/in/*")
      val q = DeltaLogOps.streamCensus(stream, s"$dir/state", "tbl", "ver", "line")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.stop() // release the checkpoint-location registration before the rerun
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.nonEmpty && System.nanoTime < deadline)
        Thread.sleep(100)
    }
    run()
    // un-commit the LAST batch in the sink's checkpoint (its offsets
    // entry survives, so the restart re-executes it with the same id)
    // and stage the crash: folded state sits complete at .tmp, the old
    // state directory is already gone
    val commits = new java.io.File(s"$dir/ckpt/commits").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).sorted
    assert(commits.length >= 2, s"need multiple batches, got $commits")
    assert(new java.io.File(s"$dir/ckpt/commits/${commits.last}").delete())
    new java.io.File(s"$dir/ckpt/commits/.${commits.last}.crc").delete() // hadoop checksum sidecar
    val fs = new org.apache.hadoop.fs.Path(s"$dir/state")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/state"),
      new org.apache.hadoop.fs.Path(s"$dir/state.tmp")))
    run() // recovery must promote tmp; the marker must skip the re-fold
    val got = DeltaLogOps.censusFromState(
        spark.read.schema(DeltaLogOps.StateSchema).parquet(s"$dir/state"))
      .orderBy("tbl").collect().map(_.toSeq)
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g == w, s"retry double-counted the tallies:\n  got:  $g\n  want: $w")
    }
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

  test("psiOf stays finite when a reference bucket has zero share") {
    import spark.implicits._
    val mon = Seq(
      ("2024-01-01 00:00:00", 0, 90L, 0.9),
      ("2024-01-01 00:00:00", 1, 10L, 0.1),
      ("2024-01-01 00:00:00", 2, 100L, 0.0)) // observed mass, zero reference
      .toDF("ws", "bucket", "count", "ref_share")
      .select(col("ws").cast("timestamp").as("window_start"),
        col("bucket"), col("count"), col("ref_share"))
      .withColumn("n_buckets", lit(3))
    val terms = StreamingOps.psiOf(mon).collect()
      .map(r => r.getInt(1) -> r.getDouble(5)).toMap
    assert(terms.values.forall(v => !v.isInfinite && !v.isNaN), terms.toString)
    // the zero-reference bucket carries a big (but finite) drift signal
    assert(terms(2) > 1.0, terms.toString)
  }

  test("stream-stream interval join matches purchases within the delay window only") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ssjoin-stream").toFile
    val clicks = Seq(
      (1L, "2024-01-01 10:00:00"), // purchase 20 min later -> match
      (2L, "2024-01-01 10:00:00"), // purchase 2 h later -> no match
      (3L, "2024-01-01 10:00:00")) // purchase BEFORE the click -> no match
      .toDF("user_id", "c_s").select(col("user_id"), col("c_s").cast("timestamp").as("c_ts"))
    val purchases = Seq(
      (1L, "2024-01-01 10:20:00"),
      (2L, "2024-01-01 12:00:00"),
      (3L, "2024-01-01 09:50:00"))
      .toDF("user_id", "p_s").select(col("user_id"), col("p_s").cast("timestamp").as("p_ts"))
    clicks.write.mode("overwrite").parquet(s"$dir/c")
    purchases.write.mode("overwrite").parquet(s"$dir/p")

    val cs = spark.readStream.schema(clicks.schema).parquet(s"$dir/c")
    val ps = spark.readStream.schema(purchases.schema).parquet(s"$dir/p")
    val joined = StreamingOps.intervalJoin(cs, ps, "user_id", "c_ts", "p_ts",
      maxDelay = "1 hour", lateness = "10 minutes")
      .select(col("l.user_id").as("user_id"), col("c_ts"), col("p_ts"))
    val out = StreamingOps.runAvailableNow(joined, "ssjoin_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    assert(out.select("user_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("driftMonitor buckets a replayed stream exactly like the batch path") {
    val dir = Files.createTempDirectory("graft-drift-stream").toFile
    val batchEvents = Tables.load(spark, sf, "events")
    batchEvents.write.mode("overwrite").parquet(s"$dir/in")
    val bounds = Seq(25.0, 50.0, 75.0)
    // reference shares from the trusted batch cohort (how production
    // seeds the monitor: offline quantile job → literals)
    val batchBucket0 = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col("value") > lit(b), 1).otherwise(0)
    }
    val total = batchEvents.count().toDouble
    val ref = batchEvents.groupBy(batchBucket0.as("bucket")).count()
      .orderBy("bucket").collect().map(_.getLong(1) / total).toSeq

    val stream = StreamingOps.eventStream(spark, s"$dir/in", batchEvents.schema)
    val mon = StreamingOps.driftMonitor(stream, "value", "ts",
      bounds, ref, "1 day", "1 hour")
    val out = StreamingOps.runAvailableNow(mon, "drift_mon")

    val batchBucket = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col("value") > lit(b), 1).otherwise(0)
    }
    val expected = batchEvents
      .groupBy(date_trunc("day", col("ts")).as("window_start"), batchBucket.as("bucket"))
      .count()
      .orderBy("window_start", "bucket")
      .select(col("window_start").cast("string"), col("bucket"), col("count"))
    val got = out.orderBy("window_start", "bucket")
      .select(col("window_start").cast("string"), col("bucket"), col("count"))
    assertRowsEqual(rows(got), rows(expected))

    // psiOf: daily windows drawn from the same distribution as the
    // reference cohort stay below the quarantine line (daily samples at
    // sf0.001 are ~30 rows, so allow the small-sample noise floor)
    val psi = StreamingOps.psiOf(out)
      .groupBy("window_start").agg(sum("psi_term").as("psi"))
      .collect().map(_.getDouble(1))
    assert(psi.sum / psi.length < 0.2,
      s"mean same-distribution PSI ${psi.sum / psi.length}")
  }

  test("psiOf flags a planted shifted window") {
    import spark.implicits._
    // window A matches the reference; window B is shifted hard right
    val a = (1 to 400).map(i => ("2024-01-01 00:00:00", (i % 100).toDouble))
    val b = (1 to 400).map(i => ("2024-01-02 00:00:00", 75.0 + (i % 25)))
    val mon = (a ++ b).toDF("ws", "value")
      .select(col("ws").cast("timestamp").as("window_start"), col("value"))
      .select(col("window_start"),
        (when(col("value") > 25.0, 1).otherwise(0)
          + when(col("value") > 50.0, 1).otherwise(0)
          + when(col("value") > 75.0, 1).otherwise(0)).as("bucket"))
      .groupBy("window_start", "bucket").count()
      .withColumn("ref_share", lit(0.25))
      .withColumn("n_buckets", lit(4))
    val psi = StreamingOps.psiOf(mon)
      .groupBy("window_start").agg(sum("psi_term").as("psi"))
      .collect().map(r => r.get(0).toString -> r.getDouble(1)).toMap
    val (quiet, drifted) = (psi("2024-01-01 00:00:00.0"), psi("2024-01-02 00:00:00.0"))
    assert(quiet < 0.1, s"uniform window scored PSI $quiet")
    assert(drifted > 0.5, s"hard-shifted window only scored PSI $drifted")
  }

  test("transitionPairs over a file stream reproduce the batch transition matrix") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-trans").toFile
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    // one landing file per time bucket with ASCENDING modification
    // times — the time-ordered arrival the operator's parity contract
    // assumes (the file source schedules batches by mtime, so files
    // written in one burst can arrive out of event-time order)
    new java.io.File(s"$dir/in").mkdirs()
    val bounds = ev.select(
        min(col("ts").cast("long")).as("lo"), max(col("ts").cast("long")).as("hi"))
      .first()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1) + 1)
    val step = math.max(1L, (hi - lo) / 8 + 1)
    (0 until 8).foreach { i =>
      val bucket = ev.filter(col("ts").cast("long") >= lo + i * step &&
        col("ts").cast("long") < lo + (i + 1) * step)
      val tmp = s"$dir/tmp$i"
      bucket.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$dir/in/evt-000$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$dir/in")
      .as[StreamingOps.TEvent]
    val pairs = StreamingOps.transitionPairs(stream)
    val streamed = StreamingOps.runAvailableNow(pairs.toDF(), "trans_pairs",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("cnt"))
      .orderBy("from_type", "to_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val batch = graft.queries.EventQueries.q208.fn(spark, sf)
      .select("from_type", "to_type", "cnt")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed == batch, s"stream transition counts != batch")
  }

  test("cusumMonitor over a date-ordered file stream reproduces batch q212") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cusum").toFile
    val daily = Tables.load(spark, sf, "events")
      .groupBy(col("event_type").as("key"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    // reference (n, S) per key — exactly what the batch query computes
    val refStats = daily.groupBy("key")
      .agg(count(lit(1)).as("n"), sum("y").as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // six landing files split by day range, ascending mtimes
    new java.io.File(s"$dir/in").mkdirs()
    val days = daily.select(min("day"), max("day")).first()
    val (d0, d1) = (days.getDate(0).toLocalDate, days.getDate(1).toLocalDate)
    val span = java.time.temporal.ChronoUnit.DAYS.between(d0, d1) + 1
    val step = math.max(1L, span / 6 + 1)
    (0 until 6).foreach { i =>
      val bucket = daily.filter(
        datediff(col("day"), lit(java.sql.Date.valueOf(d0))) >= i * step &&
        datediff(col("day"), lit(java.sql.Date.valueOf(d0))) < (i + 1) * step)
      val tmp = s"$dir/tmp$i"
      bucket.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$dir/in/day-000$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream
      .schema(daily.schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$dir/in")
      .as[StreamingOps.DailyPoint]
    val streamed = StreamingOps.runAvailableNow(
        StreamingOps.cusumMonitor(stream, refStats).toDF(), "cusum_stream",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6), r.getBoolean(7)))
      .toSeq.sortBy(t => (t._1, t._2))
    val batch = graft.queries.EventQueries.q212.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6), r.getBoolean(7)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(streamed == batch, "streaming CUSUM != batch q212")
  }

  test("rollingMedian over a date-ordered file stream reproduces batch q229") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-med").toFile
    val daily = Tables.load(spark, sf, "events")
      .groupBy(col("event_type").as("key"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    new java.io.File(s"$dir/in").mkdirs()
    val days = daily.select(min("day"), max("day")).first()
    val (d0, d1) = (days.getDate(0).toLocalDate, days.getDate(1).toLocalDate)
    val span = java.time.temporal.ChronoUnit.DAYS.between(d0, d1) + 1
    val step = math.max(1L, span / 6 + 1)
    (0 until 6).foreach { i =>
      val bucket = daily.filter(
        datediff(col("day"), lit(java.sql.Date.valueOf(d0))) >= i * step &&
        datediff(col("day"), lit(java.sql.Date.valueOf(d0))) < (i + 1) * step)
      val tmp = s"$dir/tmp$i"
      bucket.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$dir/in/day-000$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream
      .schema(daily.schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$dir/in")
      .as[StreamingOps.DailyPoint]
    val streamed = StreamingOps.runAvailableNow(
        StreamingOps.rollingMedian(stream).toDF(), "med_stream",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3)))
      .toSeq.sortBy(t => (t._1, t._2))
    val batch = graft.queries.EventQueries.q229.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(streamed == batch, "streaming rolling median != batch q229")
  }

  test("holtMonitor over a date-ordered file stream reproduces batch q201 row-for-row") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-holt").toFile
    val daily = Tables.load(spark, sf, "events")
      .groupBy(col("event_type").as("key"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    new java.io.File(s"$dir/in").mkdirs()
    val days = daily.select(min("day"), max("day")).first()
    val (d0, d1) = (days.getDate(0).toLocalDate, days.getDate(1).toLocalDate)
    val span = java.time.temporal.ChronoUnit.DAYS.between(d0, d1) + 1
    val step = math.max(1L, span / 6 + 1)
    (0 until 6).foreach { i =>
      val bucket = daily.filter(
        datediff(col("day"), lit(java.sql.Date.valueOf(d0))) >= i * step &&
        datediff(col("day"), lit(java.sql.Date.valueOf(d0))) < (i + 1) * step)
      val tmp = s"$dir/tmp$i"
      bucket.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$dir/in/day-000$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream
      .schema(daily.schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$dir/in")
      .as[StreamingOps.DailyPoint]
    val streamed = StreamingOps.runAvailableNow(
        StreamingOps.holtMonitor(stream).toDF(), "holt_stream",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSeq.sortBy(t => (t._1, t._2))
    val batch = graft.queries.EventQueries.q201.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(streamed == batch, "streaming Holt != batch q201")
  }

  test("crostonMonitor over a date-ordered file stream reproduces batch q286") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-croston").toFile
    val daily = Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_partkey").cast("string").as("key"),
        to_date(col("l_shipdate")).as("day"))
      .agg(sum(col("l_quantity").cast("long")).as("y"))
    new java.io.File(s"$dir/in").mkdirs()
    val days = daily.select(min("day"), max("day")).first()
    val (d0, d1) = (days.getDate(0).toLocalDate, days.getDate(1).toLocalDate)
    val span = java.time.temporal.ChronoUnit.DAYS.between(d0, d1) + 1
    val step = math.max(1L, span / 6 + 1)
    (0 until 6).foreach { i =>
      val bucket = daily.filter(
        datediff(col("day"), lit(java.sql.Date.valueOf(d0))) >= i * step &&
        datediff(col("day"), lit(java.sql.Date.valueOf(d0))) < (i + 1) * step)
      val tmp = s"$dir/tmp$i"
      bucket.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$dir/in/day-000$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream
      .schema(daily.schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$dir/in")
      .as[StreamingOps.DailyPoint]
    // the live forecast revises on every demand — the LATEST row per key
    // is the one the batch fold reports
    val streamed = StreamingOps.runAvailableNow(
        StreamingOps.crostonMonitor(stream).toDF(), "croston_stream",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .groupBy("key")
      .agg(max(struct(col("n_demands"), col("size_micro"), col("interval_micro")))
        .as("last"))
      .select(col("key"), col("last.n_demands"), col("last.size_micro"),
        col("last.interval_micro"))
      .filter(col("n_demands") >= 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    val batch = graft.queries.AnalyticsQueries.q286.fn(spark, sf)
      .collect().map(r => (r.getLong(0).toString, r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    assert(streamed == batch, "streaming Croston != batch q286")
  }

  test("hllRegisters over a multi-trigger file stream equals the batch q375 sketch") {
    val dir = Files.createTempDirectory("graft-hll").toFile
    val keyed = Tables.load(spark, sf, "lineitem")
      .selectExpr("l_returnflag AS g", "l_orderkey AS k")
    // two landing files → two micro-batches: register maxes must merge
    // across triggers exactly (the mergeability q375's spec proves
    // locally, here proven through the streaming engine)
    keyed.filter(col("k") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/in")
    keyed.filter(col("k") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    val stream = spark.readStream.schema(keyed.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val streamed = StreamingOps.runAvailableNow(
      StreamingOps.hllRegisters(stream, 4096), "hll_stream")
      .orderBy("g", "j")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    val batch = StreamingOps.hllRegisters(keyed, 4096)
      .orderBy("g", "j")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(streamed == batch, "streaming HLL registers != batch")
    // and the register table IS q375's sketch: state bounded at m per group
    assert(batch.groupBy(_._1).values.forall(_.size <= 4096))
    assert(batch.forall { case (_, j, rho) => j >= 0 && j < 4096 && rho >= 1 && rho <= 49 })
  }

  test("cmsSketch over a multi-trigger file stream equals the batch q115 counter table") {
    val dir = Files.createTempDirectory("graft-cms").toFile
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    // two landing files → two micro-batches under maxFilesPerTrigger=1:
    // the sketch must merge across triggers exactly
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/in")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(s"$dir/in")

    def tokens(df: org.apache.spark.sql.DataFrame) = df.select(
      explode(call_function("graft_shingle_hash_list", col("text"), lit(1))).as("uh"))

    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val streamed = StreamingOps.runAvailableNow(
      StreamingOps.cmsSketch(tokens(stream), d = 4, w = 512), "cms_stream")
      .orderBy("row", "bucket")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq

    val batch = StreamingOps.cmsSketch(tokens(docs), d = 4, w = 512)
      .orderBy("row", "bucket")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch, "streaming CMS != batch CMS")
    assert(batch.map(_._1).distinct.sorted == Seq(0, 1, 2, 3))
    // counters conserve the token stream: each row sums to N tokens
    val perRow = batch.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(perRow.values.toSet.size == 1, s"rows disagree on mass: $perRow")
  }

  test("timedFunnel over a date-split file stream reproduces batch q266 counts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-funnel").toFile
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    // two landing files split at mid-month → state must carry t0/t1
    // across the trigger boundary
    ev.filter(col("ts") < lit("2024-01-15").cast("timestamp"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
    ev.filter(col("ts") >= lit("2024-01-15").cast("timestamp"))
      .coalesce(1).write.mode("append").parquet(s"$dir/in")

    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      .as[StreamingOps.Event]
    val hits = StreamingOps.timedFunnel(stream, stepSec = 3600L)
    val streamed = StreamingOps.runAvailableNow(hits.toDF(), "funnel_stream",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .groupBy("stage_idx").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batch = rows(graft.queries.AnalyticsQueries.q266.fn(spark, sf))
      .map(r => r(0).asInstanceOf[Int] -> r(2).asInstanceOf[Long]).toMap
    assert((1 to 3).forall(i => streamed.getOrElse(i, 0L) == batch(i)),
      s"stream $streamed vs batch $batch")
  }

  test("sessionize accumulates per-user state across a micro-batch") {
    import spark.implicits._
    val events = Seq(
      StreamingOps.Event(1L, new java.sql.Timestamp(1000L), "click", 2.0),
      StreamingOps.Event(1L, new java.sql.Timestamp(2000L), "click", 3.0),
      StreamingOps.Event(2L, new java.sql.Timestamp(1500L), "view", 1.0)).toDS()
    // batch Dataset path exercises the same state function deterministically
    val out = StreamingOps.sessionize(events, gapMs = 60000L)
      .collect().sortBy(_.user_id)
    assert(out.toSeq == Seq(
      StreamingOps.SessionOut(1L, 2L, 5.0, closed = false),
      StreamingOps.SessionOut(2L, 1L, 1.0, closed = false)))
  }

  test("streamingPacker over doc-ordered files reproduces batch q341/q348") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pack").toFile
    val docs = Tables.load(spark, sf, "documents")
      .select(expr("doc_id div 64").as("shard"), col("doc_id"),
        least(graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"),
          lit(128L)).as("t"))
    new java.io.File(s"$dir/in").mkdirs()
    // 4 doc_id-range chunks → every shard of 64 docs spans ≥2 micro-batches
    (0 until 4).foreach { i =>
      val bucket = docs.filter(col("doc_id") % 500 >= i * 125 &&
        col("doc_id") % 500 < (i + 1) * 125)
      val tmp = s"$dir/tmp$i"
      bucket.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$dir/in/chunk-000$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      .as[StreamingOps.PackDoc]
    val placed = StreamingOps.runAvailableNow(
        StreamingOps.streamingPacker(stream).toDF(), "pack_stream",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(p => (p._1, p._2))
    val tOf = docs.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(placed.map(_._2).toSet == tOf.keySet, "one placement per doc")
    // per-doc placements ≡ an in-process replay of the greedy fill
    placed.groupBy(_._1).foreach { case (shard, rows) =>
      var bins = 0L; var fill = 0L
      rows.sortBy(_._2).foreach { case (_, id, bin, off, _, _) =>
        val t = tOf(id)
        if (bins == 0L || fill + t > 128L) { bins += 1; fill = 0L }
        assert(bin == bins && off == fill, s"doc $id placed ($bin,$off)")
        fill += t
      }
      assert(shard >= 0)
    }
    // final state per shard ≡ batch q341 (bins/waste) and q348 (leaked)
    val last = placed.groupBy(_._1).map { case (s2, rs) => s2 -> rs.maxBy(_._2) }
    val q341 = graft.queries.TrainQueries.q341.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5))).toMap
    val q348 = graft.queries.TrainQueries.q348.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    last.foreach { case (shard, (_, id, bin, off, wasteClosed, leaked)) =>
      val (bBins, bWaste) = q341(shard)
      assert(bin == bBins, s"shard $shard bins: $bin vs $bBins")
      // batch waste adds the open bin's tail; the stream's running
      // figure counts closed bins only
      assert(wasteClosed + (128L - off - tOf(id)) == bWaste,
        s"shard $shard waste")
      assert(leaked == q348(shard), s"shard $shard leaked")
    }
  }
}
