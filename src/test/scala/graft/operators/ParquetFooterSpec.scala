package graft.operators

import graft.SparkSpec

/** Parquet footer walker — the real-world pin first (every testdata
  * file was written by a REAL parquet writer, full of statistics,
  * logical types, and long-form field ids the synthetic fixtures
  * never exercise), then synthetic round-trips and one test per
  * malformed class.
  */
class ParquetFooterSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("real footers: every testdata table's census matches the engine's own read") {
    for (t <- Seq("lineitem", "documents", "events", "nation", "embeddings")) {
      val path = s"$sf/$t.parquet"
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val m = ParquetFooter.parse(bytes)
      assert(m.valid == 1, s"$t footer did not parse")
      val df = spark.read.parquet(path)
      assert(m.numRows == df.count(), s"$t num_rows")
      assert(m.rgNumRows == m.numRows, s"$t row-group rows vs file rows")
      // leaf count = primitive column paths; an ARRAY<primitive> field
      // is one leaf under two extra group nodes (parquet 3-level lists)
      def leaves(dt: org.apache.spark.sql.types.DataType): Int = dt match {
        case s: org.apache.spark.sql.types.StructType => s.fields.map(f => leaves(f.dataType)).sum
        case a: org.apache.spark.sql.types.ArrayType => leaves(a.elementType)
        case _ => 1
      }
      assert(m.nLeaves == leaves(df.schema), s"$t leaf count")
      assert(m.nSchema > m.nLeaves, s"$t schema elements include group nodes")
      assert(m.nRowGroups >= 1)
      assert(m.nColumnChunks == m.nRowGroups * m.nLeaves, s"$t chunk grid")
      val codecSum = m.nUncompressed + m.nSnappy + m.nGzip + m.nZstd + m.nOtherCodec
      assert(codecSum == m.nColumnChunks, s"$t codec histogram covers every chunk")
      assert(m.totalByteSize > 0 && m.createdByLen > 0)
      assert(m.footerLen + 12 + m.dataBytes == bytes.length.toLong, s"$t extent")
    }
  }

  test("real footer statistics: lineitem l_orderkey zone maps match the data") {
    val path = s"$sf/lineitem.parquet"
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val rgs = ParquetFooter.statsCensus(bytes, colIdx = 0) // l_orderkey: int64
    assert(rgs.nonEmpty, "no row groups parsed")
    val df = spark.read.parquet(path)
    assert(rgs.map(_._1).sum == df.count(), "row-group rows cover the file")
    if (rgs.forall(_._2 == 1)) { // writer emitted 8-byte int64 zone maps
      val lo = rgs.map(_._3).min
      val hi = rgs.map(_._4).max
      val Array(row) = df.selectExpr("min(l_orderkey)", "max(l_orderkey)").collect()
      assert(lo == row.getLong(0) && hi == row.getLong(1),
        s"zone maps [$lo,$hi] vs data [${row.getLong(0)},${row.getLong(1)}]")
    }
  }

  test("stats round-trip and conservative pruning semantics") {
    val stats: (Int, Int) => (Long, Long, Long, Int) =
      (rg, c) => (100L * rg + c, 100L * rg + 50 + c, rg.toLong, 8)
    val b = ParquetFooter.encodeSynthetic(2, Seq("x", "y"), 3, 10L, 100L,
      _ => 0, "w", 0, statsOf = Some(stats))
    val rgs = ParquetFooter.statsCensus(b, colIdx = 1)
    assert(rgs.size == 3)
    assert(rgs.zipWithIndex.forall { case ((rows, has, mn, mx, nulls), rg) =>
      rows == 10L && has == 1 && mn == 100L * rg + 1 &&
        mx == 100L * rg + 51 && nulls == rg.toLong
    }, rgs.toString)
    // footer WITHOUT stats: nothing readable, nothing pruned
    val plain = ParquetFooter.encodeSynthetic(2, Seq("x", "y"), 3, 10L, 100L,
      _ => 0, "w", 0)
    assert(ParquetFooter.statsCensus(plain, 1).forall(_._2 == 0))
    // the stats-bearing footer still parses under the q377 census
    assert(ParquetFooter.parse(b).valid == 1)
  }

  test("non-8-byte min/max encodings never prune (conservative contract)") {
    val b = ParquetFooter.encodeSynthetic(2, Seq("x"), 2, 10L, 100L, _ => 0,
      "w", 0, statsOf = Some((rg, _) => (0L, 1000L, 5L, 4)))
    val rgs = ParquetFooter.statsCensus(b, 0)
    assert(rgs.size == 2 && rgs.forall(_._2 == 0))
    assert(rgs.forall(_._5 == 5L)) // null_count reads regardless of width
  }

  test("synthetic round-trip: every census field") {
    val b = ParquetFooter.encodeSynthetic(2, Seq("a", "b", "c"), nRowGroups = 4,
      rowsPerGroup = 250L, bytesPerGroup = 9999L,
      codecOf = c => Seq(0, 1, 6)(c), createdBy = "unit-writer", dataFiller = 33)
    val m = ParquetFooter.parse(b)
    assert(m.valid == 1 && m.version == 2L)
    assert(m.numRows == 1000L && m.rgNumRows == 1000L)
    assert(m.nSchema == 4 && m.nLeaves == 3)
    assert(m.nRowGroups == 4 && m.nColumnChunks == 12)
    assert(m.totalByteSize == 4 * 9999L)
    assert(m.createdByLen == "unit-writer".length)
    assert(m.nUncompressed == 4 && m.nSnappy == 4 && m.nZstd == 4)
    assert(m.nGzip == 0 && m.nOtherCodec == 0)
    assert(m.dataBytes == 33L)
  }

  test("wide schema exercises the long-form list header (size >= 15)") {
    val cols = (0 until 40).map(i => s"col$i")
    val m = ParquetFooter.parse(ParquetFooter.encodeSynthetic(
      1, cols, 1, 10L, 100L, _ => 0, "w", 0))
    assert(m.valid == 1 && m.nLeaves == 40 && m.nSchema == 41)
    assert(m.nColumnChunks == 40)
  }

  test("cut tail magic: fail-closed") {
    val b = ParquetFooter.encodeSynthetic(2, Seq("a"), 1, 10L, 100L, _ => 0, "w", 5)
    val m = ParquetFooter.parse(b.dropRight(3))
    assert(m.valid == 0 && m.numRows == 0 && m.nColumnChunks == 0)
  }

  test("huge footer-length field (0xFFFFFFFF): overflow-proof rejection") {
    val b = ParquetFooter.encodeSynthetic(2, Seq("a"), 1, 10L, 100L, _ => 0, "w", 5)
    for (i <- b.length - 8 until b.length - 4) b(i) = 0xFF.toByte
    val m = ParquetFooter.parse(b)
    assert(m.valid == 0)
  }

  test("footer length pointing past the leading magic: rejected") {
    val b = ParquetFooter.encodeSynthetic(2, Seq("a"), 1, 10L, 100L, _ => 0, "w", 0)
    // declare one byte more than the span between the magics
    val want = b.length - 12 + 1
    b(b.length - 8) = (want & 0xff).toByte
    b(b.length - 7) = ((want >> 8) & 0xff).toByte
    assert(ParquetFooter.parse(b).valid == 0)
  }

  test("invalid first field header (0xFF): thrift walk stops, nothing guessed") {
    val b = ParquetFooter.encodeSynthetic(2, Seq("a"), 1, 10L, 100L, _ => 0, "w", 7)
    b(4 + 7) = 0xFF.toByte // first footer byte (after magic + filler)
    val m = ParquetFooter.parse(b)
    assert(m.valid == 0 && m.nSchema == 0)
  }

  test("truncated varint at the footer end: bounded rejection, no overrun") {
    val footer = ParquetFooter.encodeFooter(2, Seq("a"), 1, 10L, 100L, _ => 0, "w")
    // keep only the first 3 footer bytes but declare the full length
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("US-ASCII"))
    out.write(footer, 0, 3)
    val len = 3
    out.write(Array((len & 0xff).toByte, 0.toByte, 0.toByte, 0.toByte))
    out.write("PAR1".getBytes("US-ASCII"))
    val m = ParquetFooter.parse(out.toByteArray)
    assert(m.valid == 0)
  }

  test("unterminated varint (ten 0x80 bytes) is rejected, not spun on") {
    val w = new ParquetFooter.Writer
    w.field(0, 1, 5)
    for (_ <- 0 until 12) w.u8(0x80)
    val footer = w.bytes
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("US-ASCII"))
    out.write(footer)
    out.write(Array((footer.length & 0xff).toByte, 0.toByte, 0.toByte, 0.toByte))
    out.write("PAR1".getBytes("US-ASCII"))
    assert(ParquetFooter.parse(out.toByteArray).valid == 0)
  }

  test("deep struct nesting beyond the cap is rejected, not recursed into") {
    val w = new ParquetFooter.Writer
    // field 5 (untargeted) as struct-in-struct... 40 deep
    for (_ <- 0 until 40) w.field(0, 5, 12)
    for (_ <- 0 until 40) w.stop()
    w.stop()
    val footer = w.bytes
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("US-ASCII"))
    out.write(footer)
    out.write(Array((footer.length & 0xff).toByte, 0.toByte, 0.toByte, 0.toByte))
    out.write("PAR1".getBytes("US-ASCII"))
    assert(ParquetFooter.parse(out.toByteArray).valid == 0)
  }

  // ----------------------------------------------------- page index

  test("REAL page index: a Spark-written (parquet-mr) file's ColumnIndex decodes exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    val dir = java.nio.file.Files.createTempDirectory("graft-pageidx").toString
    val n = 500000L
    spark.range(0L, n).select(c("id"))
      .repartitionByRange(1, c("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    val f = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val rgs = ParquetFooter.pageIndexCensus(bytes, 0)
    assert(rgs.nonEmpty, "parquet-mr writes the page index by default")
    val pages = rgs.flatMap {
      case Some(Some(p)) => p
      case other => fail(s"real index did not decode: $other")
    }
    assert(pages.size > 1, "a 500k-row sorted column must split into pages")
    // the pages tile [0, n): ascending, contiguous on a sorted column
    assert(pages.head._2 == 0L && pages.last._3 == n - 1)
    pages.sliding(2).foreach {
      case Seq(a, b) => assert(a._3 < b._2, s"overlapping pages: $a / $b")
      case _ =>
    }
    // and the audit arithmetic agrees with the engine's own answer:
    // pages provably empty for id > t are exactly those with max <= t
    val t = n / 2
    val row = ParquetFooter.pageIndexAudit(
      Seq((1L, bytes)).toDF("id", "payload"), "id", "payload", 0, t).collect()(0)
    assert(row.getAs[Long]("pages_skippable_gt") == pages.count(_._3 <= t))
    assert(row.getAs[Long]("n_unreadable_idx") == 0)
    // honesty pin: the pyarrow-written testdata carries NO page index —
    // reported as absent, never fabricated from row-group stats
    val pyarrow = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/testdata/sf0.001/lineitem.parquet"))
    assert(ParquetFooter.pageIndexCensus(pyarrow, 0).forall(_.isEmpty))
    // and the REAL OffsetIndex prices the pages: per-page rows from
    // first_row_index deltas reassemble the exact total
    val pr = ParquetFooter.pageRowsCensus(bytes, 0)
    assert(pr.size == 1)
    val (rgRows, pOpt, frOpt) = pr(0)
    assert(rgRows == n && pOpt.isDefined && frOpt.isDefined,
      "parquet-mr writes the OffsetIndex too")
    val fr = frOpt.get
    assert(fr.head == 0L && fr.size == pOpt.get.size)
    val rowAudit = ParquetFooter.pageRowsAudit(
      Seq((1L, bytes)).toDF("id", "payload"), "id", "payload", 0, t).collect()(0)
    assert(rowAudit.getAs[Long]("rows_total") == n)
    assert(rowAudit.getAs[Long]("rows_unknown") == 0)
    // on a sorted column, skippable rows for id > n/2 are exactly the
    // pages whose max ≤ n/2 priced by their real row spans
    val wantSkip = pages.indices.collect {
      case p if pages(p)._3 <= t =>
        if (p < pages.size - 1) fr(p + 1) - fr(p) else n - fr(p)
    }.sum
    assert(rowAudit.getAs[Long]("rows_skippable_gt") == wantSkip, rowAudit.toString)
  }

  test("OffsetIndex round-trip and the consistency contract (fail-closed declines)") {
    import spark.implicits._
    val pages = Seq((false, 0L, 9L, 0L), (false, 10L, 19L, 0L), (false, 20L, 29L, 0L))
    val good = ParquetFooter.encodeSyntheticPaged(Seq("x"), 1, 300L, 0,
      _ => pages, offsetIndexOf = Some(_ => Some(Seq(0L, 100L, 220L))))
    val Vector((rgRows, Some(ps), Some(fr))) = ParquetFooter.pageRowsCensus(good, 0)
    assert(rgRows == 300L && ps.size == 3 && fr == Vector(0L, 100L, 220L))
    val row = ParquetFooter.pageRowsAudit(
      Seq((1L, good)).toDF("id", "payload"), "id", "payload", 0, 19L).collect()(0)
    assert(row.getAs[Long]("rows_skippable_gt") == 220L, "pages 0+1 = 100 + 120 rows")
    assert(row.getAs[Long]("rows_scanned_gt") == 80L)
    // consistency declines: wrong entry count, non-monotone, out of range,
    // not starting at zero — each falls back to rows-unknown, never garbage
    for (bad <- Seq(Seq(0L, 100L), Seq(0L, 220L, 100L), Seq(0L, 100L, 400L),
      Seq(5L, 100L, 220L))) {
      val f = ParquetFooter.encodeSyntheticPaged(Seq("x"), 1, 300L, 0,
        _ => pages, offsetIndexOf = Some(_ => Some(bad)))
      val Vector((_, _, frB)) = ParquetFooter.pageRowsCensus(f, 0)
      assert(frB.isEmpty, s"$bad must be declined")
      val r2 = ParquetFooter.pageRowsAudit(
        Seq((1L, f)).toDF("id", "payload"), "id", "payload", 0, 19L).collect()(0)
      assert(r2.getAs[Long]("rows_unknown") == 300L &&
        r2.getAs[Long]("rows_skippable_gt") == 0L,
        "bounds without locations prune pages, not rows")
    }
  }

  test("page index round-trip: per-page bounds, null pages, null counts") {
    val pages0 = Seq((false, 0L, 9L, 0L), (true, 0L, 0L, 1000L), (false, 20L, 29L, 2L))
    val pages1 = Seq((false, 100L, 109L, 0L))
    val f = ParquetFooter.encodeSyntheticPaged(Seq("a", "b", "c"), 2, 10L,
      colIdx = 1, rg => if (rg == 0) pages0 else pages1)
    // the footer itself still parses under the q377 census
    assert(ParquetFooter.parse(f).valid == 1)
    val rgs = ParquetFooter.pageIndexCensus(f, colIdx = 1)
    assert(rgs.size == 2)
    assert(rgs(0) == Some(Some(pages0.toVector)), rgs(0).toString)
    assert(rgs(1) == Some(Some(pages1.toVector)))
    // non-indexed columns report no pointers at all
    assert(ParquetFooter.pageIndexCensus(f, colIdx = 0).forall(_.isEmpty))
  }

  test("page-index pointer past EOF: the chunk is declined WHOLE, others decode") {
    val pages = Seq((false, 0L, 9L, 0L), (false, 10L, 19L, 1L))
    val f = ParquetFooter.encodeSyntheticPaged(Seq("a", "b"), 3, 10L,
      colIdx = 0, _ => pages, badOffsetRg = Some(1))
    val rgs = ParquetFooter.pageIndexCensus(f, colIdx = 0)
    assert(rgs.size == 3)
    assert(rgs(0) == Some(Some(pages.toVector)))
    assert(rgs(1) == Some(None), "bad pointer: declined, never guessed")
    assert(rgs(2) == Some(Some(pages.toVector)))
  }

  test("ColumnIndex blob truncation fails closed at every cut") {
    val blob = ParquetFooter.encodeColumnIndex(
      Seq((false, 1L, 2L, 0L), (true, 0L, 0L, 5L), (false, 7L, 9L, 1L)))
    val full = ParquetFooter.parseColumnIndex(blob, 0L, blob.length.toLong)
    assert(full.exists(_.size == 3))
    (1 until blob.length).foreach { cut =>
      val r = ParquetFooter.parseColumnIndex(blob, 0L, cut.toLong)
      assert(r.isEmpty || r == full, s"cut $cut invented pages: $r")
    }
  }

  test("null-page semantics in the audit: skippable for any non-null predicate") {
    import spark.implicits._
    val pages = Seq((true, 0L, 0L, 50L), (false, 100L, 200L, 0L))
    val f = ParquetFooter.encodeSyntheticPaged(Seq("x"), 1, 10L, 0, _ => pages)
    val row = ParquetFooter.pageIndexAudit(
      Seq((1L, f)).toDF("id", "payload"), "id", "payload",
      colIdx = 0, threshold = 10L).collect()(0)
    assert(row.getAs[Long]("n_pages") == 2 && row.getAs[Long]("n_null_pages") == 1)
    // the null page skips even though the threshold excludes the real page
    assert(row.getAs[Long]("pages_skippable_gt") == 1)
    assert(row.getAs[Long]("pages_scanned_gt") == 1)
    assert(row.getAs[Long]("sum_null_counts") == 50)
  }
}
