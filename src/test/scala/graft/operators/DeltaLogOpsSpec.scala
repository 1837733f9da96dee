package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Delta transaction-log census: state-reconstruction semantics
  * (latest action wins, add beats remove in-commit, re-add revives),
  * the conservative prune contract, one test per malformed class, and
  * deterministic fuzz over the line stream (house rule: walkers never
  * throw on garbage — they count it).
  */
class DeltaLogOpsSpec extends SparkSpec {

  import spark.implicits._

  private def logDf(rows: Seq[(Long, Long, String)]) =
    rows.toDF("tbl", "ver", "line")

  private def add(path: String, p: String, size: Long, rows: Long,
                  min: Long, max: Long): String =
    s"""{"add":{"path":"$path","partitionValues":{"p":"$p"},"size":$size,"dataChange":true,"stats":"{\\"numRecords\\":$rows,\\"minValues\\":{\\"x\\":$min},\\"maxValues\\":{\\"x\\":$max}}"}}"""

  private def rm(path: String): String =
    s"""{"remove":{"path":"$path","dataChange":true}}"""

  test("live set: remove tombstones, a later re-add revives, latest protocol wins") {
    val log = logDf(Seq(
      (1L, 0L, """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""),
      (1L, 0L, add("a", "0", 100, 10, 0, 9)),
      (1L, 0L, add("b", "1", 200, 20, 10, 19)),
      (1L, 1L, rm("a")),
      (1L, 2L, add("a", "2", 300, 30, 20, 29)), // revival with new stats
      (1L, 2L, """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""),
      (1L, 1L, rm("ghost")))) // tombstone of a never-added path
    val c = DeltaLogOps.snapshotCensus(log, "tbl", "ver", "line").collect()(0)
    assert(c.getAs[Long]("n_versions") == 3)
    assert(c.getAs[Long]("n_live") == 2, "a revived + b")
    assert(c.getAs[Long]("n_tombstones") == 1, "only ghost stays dead")
    assert(c.getAs[Long]("live_bytes") == 500, "revived a carries its NEW size")
    assert(c.getAs[Long]("live_rows") == 50)
    assert(c.getAs[Long]("n_partitions") == 2) // p=2 (new a), p=1 (b)
    assert(c.getAs[Long]("min_reader") == 2 && c.getAs[Long]("min_writer") == 5,
      "latest protocol by version wins")
    assert(c.getAs[Long]("n_malformed") == 0)
  }

  test("replace-in-commit: add and remove of one path in the SAME version — add wins") {
    val log = logDf(Seq(
      (7L, 0L, add("f", "0", 100, 10, 0, 9)),
      (7L, 1L, rm("f")),
      (7L, 1L, add("f", "0", 150, 15, 0, 9))))
    val c = DeltaLogOps.snapshotCensus(log, "tbl", "ver", "line").collect()(0)
    assert(c.getAs[Long]("n_live") == 1 && c.getAs[Long]("live_bytes") == 150)
    assert(c.getAs[Long]("n_tombstones") == 0)
  }

  test("malformed lines and stats-less adds are counted, never guessed at") {
    val log = logDf(Seq(
      (3L, 0L, add("a", "0", 100, 10, 0, 9)),
      (3L, 0L, """{"add":{"path":"nostats","partitionValues":{"p":"1"},"size":50,"dataChange":true}}"""),
      (3L, 0L, """{"add":{"path":"badstats","partitionValues":{"p":"2"},"size":60,"dataChange":true,"stats":"not json at all"}}"""),
      (3L, 0L, "corrupt{"),
      (3L, 0L, ""),
      (3L, 0L, """{"unknownAction":{"x":1}}"""),
      (3L, 0L, """{"commitInfo":{"operation":"WRITE"}}""")))
    val c = DeltaLogOps.snapshotCensus(log, "tbl", "ver", "line").collect()(0)
    assert(c.getAs[Long]("n_malformed") == 3, "corrupt{, empty, unknownAction")
    assert(c.getAs[Long]("n_live") == 3)
    assert(c.getAs[Long]("n_live_no_stats") == 2, "absent AND unparseable stats")
    assert(c.getAs[Long]("live_rows") == 10, "only vouched-for rows sum")
    // the prune audit SCANS both blind files (conservative contract)
    val a = DeltaLogOps.pruneAudit(log, "tbl", "ver", "line", "x",
      threshold = 100L, partKey = "p", partValue = "0").collect()(0)
    assert(a.getAs[Long]("n_skippable") == 1, "only the stats-backed file can prove <= 100")
    assert(a.getAs[Long]("n_scanned_no_stats") == 2)
  }

  test("prune audit boundary arithmetic: max == threshold is skippable, min plays no part") {
    val log = logDf(Seq(
      (5L, 0L, add("lo", "0", 1, 5, 0, 25)),   // max == t -> skippable
      (5L, 0L, add("hi", "1", 1, 7, 26, 40)),  // min > t -> scanned (max rule only)
      (5L, 0L, add("mid", "1", 1, 9, 0, 26)))) // max just over -> scanned
    val a = DeltaLogOps.pruneAudit(log, "tbl", "ver", "line", "x",
      threshold = 25L, partKey = "p", partValue = "1").collect()(0)
    assert(a.getAs[Long]("n_skippable") == 1)
    assert(a.getAs[Long]("n_scanned") == 2)
    assert(a.getAs[Long]("rows_scanned") == 16)
    assert(a.getAs[Long]("n_part_match") == 2 && a.getAs[Long]("n_part_pruned") == 1)
  }

  test("fuzz: mutated log lines never throw; tallies stay internally consistent") {
    val rnd = new scala.util.Random(42) // deterministic
    val base = (0L until 12L).flatMap(k =>
      DeltaLogOps.syntheticLog(k).map { case (v, l) => (k, v, l) })
    def mutate(s: String): String =
      if (s.isEmpty) s
      else rnd.nextInt(4) match {
        case 0 => s.take(rnd.nextInt(s.length)) // truncate
        case 1 => val i = rnd.nextInt(s.length) // flip one char
          s.updated(i, (s(i) ^ 0x5).toChar)
        case 2 => s.patch(rnd.nextInt(s.length), "\"", 0) // quote injection
        case _ => s.reverse
      }
    for (round <- 1 to 20) {
      val mutated = base.map { case (k, v, l) =>
        (k, v, if (rnd.nextInt(3) == 0) mutate(l) else l)
      }
      val c = DeltaLogOps.snapshotCensus(logDf(mutated), "tbl", "ver", "line")
        .collect()
      assert(c.nonEmpty, s"round $round")
      c.foreach { r =>
        val (lines, adds, live, malformed) = (r.getAs[Long]("n_lines"),
          r.getAs[Long]("n_adds"), r.getAs[Long]("n_live"),
          r.getAs[Long]("n_malformed"))
        assert(live <= adds, s"round $round: live $live > adds $adds")
        assert(malformed <= lines)
        assert(r.getAs[Long]("n_live_no_stats") <= live)
        assert(r.getAs[Long]("live_bytes") >= 0 && r.getAs[Long]("live_rows") >= 0)
      }
      // the audit runs over the same garbage without throwing
      DeltaLogOps.pruneAudit(logDf(mutated), "tbl", "ver", "line", "x",
        25L, "p", "1").collect()
    }
  }

  test("incremental fold: commit-by-commit state equals the full-log census") {
    val allLines = (0L until 20L).flatMap(k =>
      DeltaLogOps.syntheticLog(k).map { case (v, l) => (k, v, l) })
    val batchCensus = DeltaLogOps
      .snapshotCensus(logDf(allLines), "tbl", "ver", "line")
      .orderBy("tbl").collect().map(_.toSeq)
    // fold version-by-version (the arrival order a real log has)
    var state = DeltaLogOps.emptyState(spark)
    for (v <- 0L to 2L) {
      val batch = allLines.filter(_._2 == v)
      if (batch.nonEmpty)
        state = DeltaLogOps.foldBatch(state, logDf(batch), "tbl", "ver", "line")
          .localCheckpoint(false)
    }
    val folded = DeltaLogOps.censusFromState(state)
      .orderBy("tbl").collect().map(_.toSeq)
    assert(folded.length == batchCensus.length)
    folded.zip(batchCensus).foreach { case (f, b) =>
      assert(f == b, s"fold diverged:\n  fold:  $f\n  batch: $b")
    }
    // the state is COMPACT: bounded by live+tombstone paths + tallies,
    // not by line count
    val actRows = state.filter(col("kind") === "act").count()
    val pathCount = allLines.count(t =>
      t._3.contains("\"add\"") || t._3.contains("\"remove\""))
    assert(actRows <= pathCount, "latest-wins must not retain history")
  }

  test("synthetic generator round-trip: census matches the schedule's closed form") {
    // k = 9: n0 = 6, m = 0 -> live slots 0..5; k = 7: no-stats slot 1;
    // k = 11: malformed line; k = 5: m = 2 re-add history
    val log = Seq(5L, 7L, 9L, 11L).flatMap(k =>
      DeltaLogOps.syntheticLog(k).map { case (v, l) => (k, v, l) })
    val out = DeltaLogOps.snapshotCensus(logDf(log), "tbl", "ver", "line")
      .collect().map(r => r.getAs[Long]("tbl") -> r).toMap
    assert(out(9L).getAs[Long]("n_live") == 6)
    assert(out(9L).getAs[Long]("n_versions") == 1)
    assert(out(7L).getAs[Long]("n_live_no_stats") == 1)
    assert(out(11L).getAs[Long]("n_malformed") == 1)
    assert(out(5L).getAs[Long]("n_versions") == 3) // m = 5 % 3 = 2
    assert(out(5L).getAs[Long]("n_tombstones") == 0) // f0 re-added
  }

  test("vacuum audit: retention boundary, timestamp-less never vacuumed, sizes never guessed") {
    val cutoff = 5000L
    def rmTs(path: String, ts: Option[Long]): String = {
      val t = ts.map(v => s""","deletionTimestamp":$v""").getOrElse("")
      s"""{"remove":{"path":"$path","dataChange":true$t}}"""
    }
    def addSz(path: String, size: Option[Long]): String = {
      val sz = size.map(v => s""""size":$v,""").getOrElse("")
      s"""{"add":{"path":"$path","partitionValues":{},${sz}"dataChange":true}}"""
    }
    val log = logDf(Seq(
      (1L, 0L, addSz("old", Some(100L))),
      (1L, 0L, addSz("edge", Some(200L))),
      (1L, 0L, addSz("recent", Some(400L))),
      (1L, 0L, addSz("nots", Some(800L))),
      (1L, 0L, addSz("nosize", None)), // add without a size field
      (1L, 0L, addSz("revive", Some(1600L))),
      (1L, 1L, rmTs("old", Some(1000L))), // past retention
      (1L, 1L, rmTs("edge", Some(5000L))), // AT the cutoff: vacuumable
      (1L, 1L, rmTs("recent", Some(9000L))), // inside retention
      (1L, 1L, rmTs("nots", None)), // no timestamp: NEVER vacuumable
      (1L, 1L, rmTs("nosize", Some(1000L))), // vacuumable, size unknowable
      (1L, 1L, rmTs("revive", Some(1000L))),
      (1L, 2L, addSz("revive", Some(1600L))))) // re-add: live, not a tombstone
    val c = DeltaLogOps.vacuumAudit(log, "tbl", "ver", "line", cutoff).collect()(0)
    assert(c.getAs[Long]("n_live") == 1 && c.getAs[Long]("n_tombstones") == 5)
    assert(c.getAs[Long]("n_vacuumable") == 3, "old + edge + nosize")
    assert(c.getAs[Long]("n_no_timestamp") == 1)
    assert(c.getAs[Long]("bytes_reclaimable") == 300, "old 100 + edge 200; nosize NOT guessed")
    assert(c.getAs[Long]("n_unknown_size") == 1)
  }

  test("schema evolution: first-vs-latest adds, drops and type changes separated") {
    def meta(ver: Long, fields: Seq[(String, String)]): (Long, Long, String) = {
      val fs = fields.map { case (n, t) =>
        s"""{\\"name\\":\\"$n\\",\\"type\\":\\"$t\\",\\"nullable\\":true,\\"metadata\\":{}}"""
      }.mkString(",")
      (1L, ver, s"""{"metaData":{"id":"t","schemaString":"{\\"type\\":\\"struct\\",\\"fields\\":[$fs]}"}}""")
    }
    val log = logDf(Seq(
      meta(0L, Seq("a" -> "long", "b" -> "long", "c" -> "string")),
      meta(1L, Seq("a" -> "long", "b" -> "string", "d" -> "long")), // mid version
      meta(2L, Seq("a" -> "long", "b" -> "string", "d" -> "long", "e" -> "long")),
      (1L, 0L, """{"add":{"path":"f.parquet","dataChange":true}}"""))) // non-meta noise
    val c = DeltaLogOps.schemaEvolutionCensus(log, "tbl", "ver", "line").collect()(0)
    assert(c.getAs[Long]("n_schema_updates") == 2)
    assert(c.getAs[Long]("n_cols_first") == 3 && c.getAs[Long]("n_cols_latest") == 4)
    assert(c.getAs[Long]("n_added") == 2, "d and e") // vs FIRST, not vs mid
    assert(c.getAs[Long]("n_dropped") == 1, "c")
    assert(c.getAs[Long]("n_type_changed") == 1, "b long -> string")
  }

  test("deletion vectors: latest add's DV wins whole, re-add clears, stats-less stays honest") {
    def addDv(path: String, rows: Option[Long], dvCard: Option[Long]): String = {
      val stats = rows.map(r =>
        s""","stats":"{\\"numRecords\\":$r}"""").getOrElse("")
      val dv = dvCard.map(c =>
        s""","deletionVector":{"storageType":"u","pathOrInlineDv":"d","cardinality":$c}""")
        .getOrElse("")
      s"""{"add":{"path":"$path","partitionValues":{},"size":1,"dataChange":true$stats$dv}}"""
    }
    val log = logDf(Seq(
      (1L, 0L, addDv("a", Some(100L), Some(30L))), // vouched 100, 30 deleted
      (1L, 0L, addDv("b", Some(50L), None)), // DV-free
      (1L, 0L, addDv("c", None, Some(7L))), // stats-less but REAL deletes
      (1L, 0L, addDv("d", Some(10L), Some(9L))),
      (1L, 1L, addDv("d", Some(10L), None)), // compaction re-add CLEARS the DV
      (1L, 1L, rm("b"))))
    val c = DeltaLogOps.deletionVectorCensus(log, "tbl", "ver", "line").collect()(0)
    assert(c.getAs[Long]("n_live") == 3) // a, c, d
    assert(c.getAs[Long]("n_live_with_dv") == 2, "a and c; d's DV cleared")
    assert(c.getAs[Long]("live_rows") == 110, "a 100 + d 10 (c unknown)")
    assert(c.getAs[Long]("dv_rows") == 37, "a 30 + c 7 — deletes are real even rows-unknown")
    assert(c.getAs[Long]("net_rows") == 80, "a 70 + d 10; c contributes NOTHING (no stats)")
    assert(c.getAs[Long]("n_live_no_stats") == 1)
  }

  test("the synthetic DV schedule matches its closed form (incl. the DV-clearing re-add)") {
    // k = 9: n0 = 6, m = 0 — live slots 0..5, DVs on j = 0 (card 1)
    // and j = 3 (card 4), stats everywhere
    val c9 = DeltaLogOps.deletionVectorCensus(
      logDf(DeltaLogOps.syntheticLogDv(9L).map { case (v, l) => (9L, v, l) }),
      "tbl", "ver", "line").collect()(0)
    assert(c9.getAs[Long]("n_live") == 6 && c9.getAs[Long]("n_live_with_dv") == 2)
    assert(c9.getAs[Long]("dv_rows") == 5)
    assert(c9.getAs[Long]("live_rows") == 75 && c9.getAs[Long]("net_rows") == 70)
    // k = 5: n0 = 2, m = 2 — f0 reborn as slot 3 WITHOUT a DV even
    // though 3 % 3 == 0 (compaction clears delete debt)
    val c5 = DeltaLogOps.deletionVectorCensus(
      logDf(DeltaLogOps.syntheticLogDv(5L).map { case (v, l) => (5L, v, l) }),
      "tbl", "ver", "line").collect()(0)
    assert(c5.getAs[Long]("n_live") == 3 && c5.getAs[Long]("n_live_with_dv") == 0)
    assert(c5.getAs[Long]("dv_rows") == 0 && c5.getAs[Long]("net_rows") == 36)
  }

  // ------------------------------------------------- checkpoint replay

  private def ckptDf(ks: Seq[Long]) = ks.flatMap { k =>
    val (vc, recs, _) = DeltaLogOps.syntheticCheckpointed(k)
    recs.map(r => (k, vc, r))
  }.toDF("tbl", "ckver", "rec")
    .select(col("tbl"), col("ckver"), col("rec.add").as("add"),
      col("rec.remove").as("remove"), col("rec.protocol").as("protocol"))

  private def retainedDf(ks: Seq[Long]) = logDf(ks.flatMap(k =>
    DeltaLogOps.syntheticCheckpointed(k)._3.map { case (v, l) => (k, v, l) }))

  test("checkpoint-seeded census == full replay, through a REAL parquet round-trip") {
    // every (checkpoint-class, history-class) combination: k % 4 picks
    // no-ckpt / retained / vacuumed / later-ckpt, k % 3 the history
    val ks = (0L until 24L).toSeq
    val liveCols = Seq("tbl", "n_live", "n_tombstones", "live_bytes",
      "live_rows", "n_live_no_stats", "n_partitions", "min_reader", "min_writer")
    val full = logDf(ks.flatMap(k =>
      DeltaLogOps.syntheticLog(k).map { case (v, l) => (k, v, l) }))
    val want = DeltaLogOps.snapshotCensus(full, "tbl", "ver", "line")
      .select(liveCols.map(col): _*)
    // the checkpoint goes through actual parquet — the wire format a
    // real NNNN.checkpoint.parquet reader sees
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    ckptDf(ks).write.parquet(s"$dir/00000000000000000001.checkpoint.parquet")
    val ckpt = spark.read.parquet(s"$dir/00000000000000000001.checkpoint.parquet")
    val got = DeltaLogOps.checkpointedCensus(ckpt, "tbl", "ckver",
        retainedDf(ks), "tbl", "ver", "line")
      .select(liveCols.map(col): _*)
    assert(got.count() == ks.size)
    assert(got.except(want).count() == 0 && want.except(got).count() == 0,
      "checkpoint-seeded live set must equal the full JSON replay, class by class")
  }

  test("a VACUUMED log censuses from the checkpoint alone; a flat replay cannot") {
    val k = 14L // c4 = 2 (checkpoint at v0, prefix vacuumed), m = 2, n0 = 6
    val c = DeltaLogOps.checkpointedCensus(ckptDf(Seq(k)), "tbl", "ckver",
      retainedDf(Seq(k)), "tbl", "ver", "line").collect()(0)
    assert(c.getAs[Long]("vacuumed") == 1 && c.getAs[Long]("n_pre_lines") == 0)
    assert(c.getAs[Long]("ckpt_ver") == 0 && c.getAs[Long]("n_ckpt_adds") == 6)
    // m = 2 live set: slots 1..6 plus f0 reborn as slot 7
    assert(c.getAs[Long]("n_live") == 7, c.toString)
    // the checkpoint-blind replay of the SAME retained lines silently
    // loses every vacuumed add — the failure mode the checkpoint fixes
    val flat = DeltaLogOps.snapshotCensus(retainedDf(Seq(k)),
      "tbl", "ver", "line").collect()(0)
    assert(flat.getAs[Long]("n_live") < 7, flat.toString)
  }

  test("retained pre-checkpoint lines are counted, never re-applied; no-checkpoint falls back") {
    val retained = 13L // c4 = 1: checkpoint at v0 + FULL history retained
    val cr = DeltaLogOps.checkpointedCensus(ckptDf(Seq(retained)), "tbl", "ckver",
      retainedDf(Seq(retained)), "tbl", "ver", "line").collect()(0)
    // k=13: n0 = 5, m = 1 -> v0 has 2 + 5 lines, all pre-checkpoint
    assert(cr.getAs[Long]("n_pre_lines") == 7 && cr.getAs[Long]("vacuumed") == 0)
    assert(cr.getAs[Long]("n_post_lines") == 3 && cr.getAs[Long]("n_live") == 5)
    val none = 12L // c4 = 0: no checkpoint, pure JSON replay
    val cn = DeltaLogOps.checkpointedCensus(ckptDf(Seq(none)), "tbl", "ckver",
      retainedDf(Seq(none)), "tbl", "ver", "line").collect()(0)
    assert(cn.getAs[Long]("ckpt_ver") == -1 && cn.getAs[Long]("n_ckpt_adds") == 0)
    // k=12: n0 = 4, m = 0 -> all 2 + 4 lines replay as post
    assert(cn.getAs[Long]("n_post_lines") == 6 && cn.getAs[Long]("n_live") == 4)
  }

  test("_last_checkpoint audit: stale version, wrong size, dangling both ways surface") {
    import spark.implicits._
    val pointer = Seq(
      (1L, """{"version":2,"size":3}"""), // healthy
      (2L, """{"version":5,"size":3}"""), // stale: names a missing checkpoint
      (3L, """{"version":0,"size":9}"""), // size claim contradicts the records
      (4L, """{"version":1,"size":1}""")) // pointer with NO checkpoint at all
      .toDF("tbl", "json")
    val ckpt = Seq((1L, 2L), (1L, 2L), (1L, 2L),
      (2L, 2L), (2L, 2L), (2L, 2L),
      (3L, 0L), (3L, 0L), (3L, 0L),
      (5L, 1L)).toDF("tbl", "ckver") // table 5: checkpoint, no pointer
    val out = DeltaLogOps.lastCheckpointAudit(pointer, "tbl", "json",
      ckpt, "tbl", "ckver").collect().map(r => r.getAs[Long]("tbl") -> r).toMap
    assert(out(1L).getAs[Long]("version_match") == 1 &&
      out(1L).getAs[Long]("size_match") == 1)
    assert(out(2L).getAs[Long]("version_match") == 0 &&
      out(2L).getAs[Long]("size_match") == 1)
    assert(out(3L).getAs[Long]("version_match") == 1 &&
      out(3L).getAs[Long]("size_match") == 0)
    assert(out(4L).getAs[Long]("has_checkpoint") == 0 &&
      out(4L).getAs[Long]("version_match") == 0)
    assert(out(5L).getAs[Long]("has_pointer") == 0 &&
      out(5L).getAs[Long]("size_actual") == 1 &&
      out(5L).getAs[Long]("size_match") == 0)
  }

  test("partition-values canonicalize: key order never splits a partition, in-log or across the checkpoint") {
    // two spellings of the SAME multi-key partition in one JSON log
    val log = logDf(Seq(
      (1L, 0L, """{"add":{"path":"a","partitionValues":{"a":"1","b":"2"},"size":1,"dataChange":true}}"""),
      (1L, 1L, """{"add":{"path":"b","partitionValues":{"b":"2","a":"1"},"size":1,"dataChange":true}}""")))
    val c = DeltaLogOps.snapshotCensus(log, "tbl", "ver", "line").collect()(0)
    assert(c.getAs[Long]("n_live") == 2 && c.getAs[Long]("n_partitions") == 1,
      c.toString)

    // ACROSS the checkpoint/log union: the checkpoint's map iterates
    // b-first (to_json order), the retained commit spells it a-first —
    // the raw strings differ, the canonical partition is one
    val ckpt = Seq((1L, 0L, DeltaLogOps.CkptRecord(
        DeltaLogOps.CkptAdd("a", Map("b" -> "2", "a" -> "1"), 1L, null),
        null, null)))
      .toDF("tbl", "ckver", "rec")
      .select(col("tbl"), col("ckver"), col("rec.add").as("add"),
        col("rec.remove").as("remove"), col("rec.protocol").as("protocol"))
    val post = logDf(Seq(
      (1L, 1L, """{"add":{"path":"b","partitionValues":{"a":"1","b":"2"},"size":1,"dataChange":true}}""")))
    val cc = DeltaLogOps.checkpointedCensus(ckpt, "tbl", "ckver",
      post, "tbl", "ver", "line").collect()(0)
    assert(cc.getAs[Long]("n_live") == 2 && cc.getAs[Long]("n_partitions") == 1,
      cc.toString)
  }

  // ---- checkpoint layout: multi-part + V2 (round-15 item 2)

  private def layoutOf(files: Seq[(Long, String)],
      claims: Seq[(Long, Long, String)] = Seq.empty,
      present: Seq[(Long, String)] = Seq.empty) =
    DeltaLogOps.checkpointLayoutCensus(
      files.toDF("tbl", "name"), "tbl", "name",
      claims.toDF("tbl", "ver", "sc"), "tbl", "ver", "sc",
      present.toDF("tbl", "sc"), "tbl", "sc")

  private def pad(n: Long) = f"$n%020d"
  private def mp(v: Long, i: Int, n: Int) =
    s"${pad(v)}.checkpoint.${"%010d".format(i)}.${"%010d".format(n)}.parquet"

  test("multi-part checkpoint: a missing part declines the checkpoint WHOLE") {
    val r = layoutOf(Seq((1L, mp(4, 1, 3)), (1L, mp(4, 3, 3)))).collect()(0)
    assert(r.getAs[Long]("n_complete") == 0 && r.getAs[Long]("n_incomplete") == 1)
    assert(r.getAs[Long]("usable_ver") == -1L && r.getAs[Long]("usable_layout") == 0,
      r.toString)
    // all three parts present → complete, parts = 3
    val ok = layoutOf((1 to 3).map(i => (1L, mp(4, i, 3)))).collect()(0)
    assert(ok.getAs[Long]("usable_ver") == 4 && ok.getAs[Long]("usable_parts") == 3)
    // parts that DISAGREE on n are never complete (1-of-3 + 2-of-2)
    val dis = layoutOf(Seq((1L, mp(4, 1, 3)), (1L, mp(4, 2, 2)))).collect()(0)
    assert(dis.getAs[Long]("n_complete") == 0, dis.toString)
    // duplicate part index with matching count: 2 files but not 1..n
    val dup = layoutOf(Seq((1L, mp(4, 1, 2)), (1L, mp(4, 1, 2)))).collect()(0)
    assert(dup.getAs[Long]("n_complete") == 0, dup.toString)
  }

  test("incomplete newer checkpoint: the reader falls back to the newest COMPLETE one") {
    val r = layoutOf(Seq(
      (1L, mp(6, 1, 2)),                          // v6 missing part 2
      (1L, s"${pad(5)}.checkpoint.parquet"),      // v5 complete classic
      (1L, mp(3, 1, 2)), (1L, mp(3, 2, 2)))).collect()(0)
    assert(r.getAs[Long]("latest_ver") == 6 && r.getAs[Long]("usable_ver") == 5)
    assert(r.getAs[Long]("needs_fallback") == 1 && r.getAs[Long]("usable_layout") == 1)
    assert(r.getAs[Long]("n_versions") == 3 && r.getAs[Long]("n_complete") == 2)
  }

  test("V2 checkpoint: every claimed sidecar must resolve; none claimed is complete") {
    val u = "0a000000-0000-4000-8000-000000000001"
    val manifest = Seq((1L, s"${pad(7)}.checkpoint.$u.parquet"))
    // both sidecars present → complete, parts = 1 + 2
    val ok = layoutOf(manifest,
      claims = Seq((1L, 7L, "s0.parquet"), (1L, 7L, "s1.parquet")),
      present = Seq((1L, "s0.parquet"), (1L, "s1.parquet"))).collect()(0)
    assert(ok.getAs[Long]("usable_ver") == 7 && ok.getAs[Long]("usable_layout") == 3)
    assert(ok.getAs[Long]("usable_parts") == 3, ok.toString)
    // one sidecar missing → declined whole
    val bad = layoutOf(manifest,
      claims = Seq((1L, 7L, "s0.parquet"), (1L, 7L, "s1.parquet")),
      present = Seq((1L, "s0.parquet"))).collect()(0)
    assert(bad.getAs[Long]("usable_ver") == -1L && bad.getAs[Long]("n_incomplete") == 1)
    // zero claims: a tiny self-contained manifest is complete
    val none = layoutOf(manifest).collect()(0)
    assert(none.getAs[Long]("usable_ver") == 7 && none.getAs[Long]("usable_parts") == 1)
  }

  test("checkpoint-LIKE malformed names are counted, never parsed into a version") {
    val r = layoutOf(Seq(
      (1L, s"${pad(2)}.checkpoint.weird.parquet"),
      (1L, s"${pad(2)}.checkpoint.parquet"),
      (1L, "00000000000000000002.checkpoint.0000000001.parquet"), // 1 field short
      (1L, "not-a-checkpoint.json"))).collect()(0)
    assert(r.getAs[Long]("n_malformed_names") == 3, r.toString)
    assert(r.getAs[Long]("n_ckpt_files") == 1 && r.getAs[Long]("usable_ver") == 2)
  }

  test("_last_checkpoint parts claim: checked against the named version's actual files") {
    val files = Seq((1L, mp(4, 1, 2)), (1L, mp(4, 2, 2)),
      (2L, mp(4, 1, 3)), (2L, mp(4, 3, 3)),
      (3L, s"${pad(9)}.checkpoint.parquet")).toDF("tbl", "name")
    val ptr = Seq(
      (1L, """{"version":4,"size":9,"parts":2}"""),  // truthful
      (2L, """{"version":4,"size":9,"parts":3}"""),  // claims 3, 2 exist
      (3L, """{"version":8,"size":9}"""))            // names a version with NO files
      .toDF("tbl", "ptr")
    val r = DeltaLogOps.pointerPartsAudit(ptr, "tbl", "ptr", files, "tbl", "name")
      .orderBy("tbl").collect()
    assert(r(0).getAs[Long]("parts_match") == 1 && r(0).getAs[Long]("named_files") == 2)
    assert(r(1).getAs[Long]("parts_match") == 0 && r(1).getAs[Long]("named_files") == 2)
    assert(r(2).getAs[Long]("parts_match") == 0 && r(2).getAs[Long]("named_files") == 0)
  }
}
