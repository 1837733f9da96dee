package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end LAKE AUDIT: "a table you've never seen" — write a real
  * parquet table, synthesize its `_delta_log` from the ACTUAL written
  * files (real sizes, real per-file doc_id stats, plus a
  * remove/re-add churn pair so replay semantics are exercised), then
  * audit every layer from the shipped operators:
  *
  *   1. TABLE layer — Delta-log replay (q392's snapshotCensus) +
  *      zone/partition prune audit (q393) over the log's stats;
  *   2. FILE layer — the parquet footer walker (q377) over the
  *      written files' raw bytes, plus the real zone-map prune audit
  *      (q380's arithmetic via statsCensus on the doc_id column);
  *   3. ROW layer (r15) — a deletion vector lands on one live file
  *      and the census answers "how many rows are LIVE" (q405), with
  *      the same deletes re-expressed as Iceberg positional delete
  *      rows (q406) reconciling to the identical net (q407's
  *      cross-format check, on real files);
  *   4. PAGE layer (r15) — the REAL parquet-mr page index prices
  *      "how many page-ROWS would `doc_id > T` scan" (q413/q414),
  *      and the q415 data-page decoder re-derives the row count and
  *      the doc_id SUM from the raw page bytes — the full-stack
  *      answer assembled from written bytes alone;
  *   5. CONTENT layer — the per-source dataset card (q354) re-derived
  *      from the table AS READ BACK, not from the source.
  *
  * Per-stage wall times print as the job's evidence (the ExportDemo
  * discipline); LakeAuditDemoSpec pins the cross-layer invariants —
  * log-claimed rows ≡ footer-claimed rows ≡ decoded rows ≡ actual
  * rows, net rows agree across formats, page-rows partition the
  * total, prune partitions the file set, and the card equals the one
  * computed from the original source.
  *
  * Usage: runMain graft.LakeAuditDemo [sfDir] [outDir]
  */
object LakeAuditDemo {

  final case class Result(
      nFiles: Long, liveFiles: Long, liveRows: Long, logPruneSkippable: Long,
      footersValid: Long, footerRows: Long,
      zoneSkippable: Long, zoneScanned: Long,
      dvDeletes: Long, netRowsLog: Long, netRowsIceberg: Long,
      pageRowsSkippable: Long, pageRowsScanned: Long, pageRowsUnknown: Long,
      decodedFilesOk: Long, decodedRows: Long,
      cardSources: Long, cardDocs: Long)

  def run(spark: SparkSession, sfDir: String, outDir: String): Result = {
    import spark.implicits._
    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[lakeaudit] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    // 0) the "unknown" table: real parquet, several files. It lands as
    // <outDir>/lake/documents.parquet so the card stage can audit the
    // directory exactly like any other table home.
    // range-clustered on doc_id so the files carry TIGHT zone maps —
    // the layout that makes the prune layers below actually prune
    // (a round-robin write gives every file the full id span and a
    // 0% skip rate; the write layout IS part of what the audit grades)
    val tablePath = s"$outDir/lake/documents.parquet"
    timed("write table")(
      Tables.load(spark, sfDir, "documents")
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id") // tight PAGE bounds, not just file
        .write.mode("overwrite").parquet(tablePath))
    val written = spark.read.parquet(tablePath)
    val totalRows = written.count()

    // 1) synthesize the table's _delta_log from the WRITTEN files:
    // one add per file with its real byte size and real doc_id stats
    // (per-file metadata — one row per FILE, bounded by file count,
    // never data rows), plus a v1 remove / v2 re-add churn pair.
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = fs.listStatus(new org.apache.hadoop.fs.Path(tablePath))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => st.getPath.getName -> st.getLen).toMap
    val perFile = written
      .groupBy(element_at(split(input_file_name(), "/"), -1).as("path"))
      .agg(count(lit(1)).as("rows"),
        min("doc_id").as("lo"), max("doc_id").as("hi"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def addLine(path: String, rows: Long, lo: Long, hi: Long): String = {
      val stats = s"""{\\"numRecords\\":$rows,\\"minValues\\":{\\"doc_id\\":$lo},\\"maxValues\\":{\\"doc_id\\":$hi}}"""
      s"""{"add":{"path":"$path","partitionValues":{},"size":${sizes(path)},"dataChange":true,"stats":"$stats"}}"""
    }
    val churn = perFile.head
    val logLines: Seq[(Long, Long, String)] =
      Seq((1L, 0L, """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""),
        (1L, 0L, """{"metaData":{"id":"lakeaudit","format":{"provider":"parquet"}}}""")) ++
        perFile.map { case (p, n, lo, hi) => (1L, 0L, addLine(p, n, lo, hi)) } ++
        Seq((1L, 1L, s"""{"remove":{"path":"${churn._1}","dataChange":true}}"""),
          (1L, 2L, addLine(churn._1, churn._2, churn._3, churn._4)))
    val log = logLines.toDF("tbl", "ver", "line")
    val census = timed("delta replay")(
      graft.operators.DeltaLogOps
        .snapshotCensus(log, "tbl", "ver", "line", statsPath = "doc_id")
        .collect()(0))
    val threshold = written.agg(max("doc_id")).collect()(0).getLong(0) / 2
    val logPrune = timed("delta prune audit")(
      graft.operators.DeltaLogOps.pruneAudit(log, "tbl", "ver", "line",
        statsPath = "doc_id", threshold = threshold,
        partKey = "p", partValue = "none").collect()(0))

    // 2) file layer: the walker over the written files' raw bytes
    val blobs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.parquet").load(tablePath)
      .select(monotonically_increasing_id().as("fid"),
        element_at(split(col("path"), "/"), -1).as("name"), col("content"))
      .localCheckpoint(false)
    val footers = timed("footer census")(
      graft.operators.ParquetFooter.footerFeatures(blobs, "fid", "content")
        .agg(sum(col("valid")).as("ok"), sum(col("num_rows")).as("rows"))
        .collect()(0))
    val docIdIdx = written.schema.fieldIndex("doc_id")
    val zone = timed("zone-map audit")(
      blobs.select(col("name"), col("content")).as[(String, Array[Byte])]
        .map { case (name, bytes) =>
          val rgs = graft.operators.ParquetFooter.statsCensus(bytes, docIdIdx)
          // a file is provably skippable for doc_id > T iff EVERY row
          // group carries stats and none reaches past T (conservative)
          val skippable = rgs.nonEmpty &&
            rgs.forall(rg => rg._2 == 1 && rg._4 <= threshold)
          (name, if (skippable) 1L else 0L)
        }.toDF("name", "skippable")
        .agg(sum("skippable").as("skip"), count(lit(1)).as("n"))
        .collect()(0))

    // 3) ROW layer: a deletion vector lands on one UN-churned live
    // file (version 3 re-add with the same real stats + a DV of
    // cardinality d) — the census must answer totalRows - d. The same
    // deletes re-expressed as Iceberg positional delete rows must
    // reconcile to the identical net (q407's check, on real files).
    val dvTarget = perFile.last
    val dvCard = math.min(5L, dvTarget._2)
    val dvLine = {
      val stats = s"""{\\"numRecords\\":${dvTarget._2},\\"minValues\\":{\\"doc_id\\":${dvTarget._3}},\\"maxValues\\":{\\"doc_id\\":${dvTarget._4}}}"""
      s"""{"add":{"path":"${dvTarget._1}","partitionValues":{},"size":${sizes(dvTarget._1)},"dataChange":false,"stats":"$stats","deletionVector":{"storageType":"u","pathOrInlineDv":"dv0","cardinality":$dvCard}}}"""
    }
    val logDv = (logLines :+ ((1L, 3L, dvLine))).toDF("tbl", "ver", "line")
    val dvCensus = timed("deletion-vector census")(
      graft.operators.DeltaLogOps
        .deletionVectorCensus(logDv, "tbl", "ver", "line").collect()(0))
    val iceFiles = perFile.toSeq.map { case (p, n, _, _) => (1L, p, n) }
      .toDF("tbl", "path", "rc")
    val iceDels = (0L until dvCard).map(pos => (1L, dvTarget._1, pos))
      .toDF("tbl", "path", "pos")
    val iceCensus = timed("positional-delete audit")(
      graft.operators.IcebergOps.positionalDeleteAudit(
        iceFiles, "tbl", "path", "rc", iceDels, "tbl", "path", "pos")
        .collect()(0))

    // 4) PAGE layer: the REAL parquet-mr page index prices the
    // predicate in page-ROWS, and the data-page decoder re-derives
    // the row count and doc_id sum from the raw bytes
    val pageRows = timed("page-row audit")(
      graft.operators.ParquetFooter.pageRowsAudit(
          blobs, "fid", "content", docIdIdx, threshold)
        .agg(sum("rows_skippable_gt").as("skip"),
          sum("rows_scanned_gt").as("scan"),
          sum("rows_unknown").as("unk")).collect()(0))
    val decode = timed("data-page decode")(
      graft.operators.ParquetPages.pageDecodeAudit(
          blobs, "fid", "content", docIdIdx)
        .agg(sum("ok").as("ok"), sum(col("n_values") + col("n_nulls")).as("rows"),
          sum("sum_v").as("sum_v")).collect()(0))
    val wantSum = written.agg(sum("doc_id")).collect()(0).getLong(0)

    // 5) content layer: the dataset card off the table AS READ BACK
    val card = timed("dataset card")(
      graft.queries.CorpusQueries.q354.fn(spark, s"$outDir/lake")
        .localCheckpoint(false))
    val cardAgg = card.agg(count(lit(1)).as("src"), sum("n_docs").as("docs"))
      .collect()(0)

    val r = Result(
      nFiles = perFile.length.toLong,
      liveFiles = census.getAs[Long]("n_live"),
      liveRows = census.getAs[Long]("live_rows"),
      logPruneSkippable = logPrune.getAs[Long]("n_skippable"),
      footersValid = footers.getAs[Long]("ok"),
      footerRows = footers.getAs[Long]("rows"),
      zoneSkippable = zone.getAs[Long]("skip"),
      zoneScanned = zone.getAs[Long]("n") - zone.getAs[Long]("skip"),
      dvDeletes = dvCensus.getAs[Long]("dv_rows"),
      netRowsLog = dvCensus.getAs[Long]("net_rows"),
      netRowsIceberg = iceCensus.getAs[Long]("net_rows"),
      pageRowsSkippable = pageRows.getAs[Long]("skip"),
      pageRowsScanned = pageRows.getAs[Long]("scan"),
      pageRowsUnknown = pageRows.getAs[Long]("unk"),
      decodedFilesOk = decode.getAs[Long]("ok"),
      decodedRows = decode.getAs[Long]("rows"),
      cardSources = cardAgg.getAs[Long]("src"),
      cardDocs = cardAgg.getAs[Long]("docs"))
    require(r.liveRows == totalRows,
      s"log-claimed rows ${r.liveRows} != actual $totalRows")
    require(r.footerRows == totalRows,
      s"footer-claimed rows ${r.footerRows} != actual $totalRows")
    require(r.netRowsLog == totalRows - dvCard,
      s"DV net ${r.netRowsLog} != ${totalRows - dvCard}")
    require(r.netRowsIceberg == r.netRowsLog,
      s"cross-format net rows diverged: ${r.netRowsIceberg} vs ${r.netRowsLog}")
    require(r.pageRowsSkippable + r.pageRowsScanned + r.pageRowsUnknown == totalRows,
      s"page-rows must partition the total: $r vs $totalRows")
    require(r.decodedRows == totalRows,
      s"page-decoded rows ${r.decodedRows} != actual $totalRows")
    require(decode.getAs[Long]("sum_v") == wantSum,
      s"page-decoded doc_id sum ${decode.getAs[Long]("sum_v")} != $wantSum")
    require(r.cardDocs == totalRows,
      s"card docs ${r.cardDocs} != actual $totalRows")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_lakeaudit"
    val spark = GraftSession.create()
    val r = run(spark, sfDir, outDir)
    println(s"[lakeaudit] done: $r")
    spark.stop()
  }
}
