package graft.operators

import graft.SparkSpec

/** ORC tail walker — the real-world pin first (Spark's own ORC writer,
  * whose footers carry statistics/encodings the synthetic fixtures
  * never emit), then synthetic round-trips and one test per malformed
  * class.
  */
class OrcOpsSpec extends SparkSpec {

  private def writeReal(compression: String): Array[Byte] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toFile
    graft.Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .coalesce(1)
      .write.mode("overwrite").option("compression", compression)
      .orc(s"$dir/out")
    val part = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".orc")).head
    java.nio.file.Files.readAllBytes(part.toPath)
  }

  test("real Spark ORC (compression none): footer fully walked, rows match") {
    val bytes = writeReal("none")
    val m = OrcOps.parse(bytes)
    assert(m.valid == 1 && m.compression == "none" && m.footerParsed == 1)
    assert(m.numRows == 25L, s"numRows ${m.numRows}")
    assert(m.stripeRows == m.numRows, "stripe rows cover the file")
    assert(m.nStripes >= 1)
    // flat schema: root struct + one type per column
    val nCols = graft.Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .schema.fields.length
    assert(m.nTypes == 1 + nCols, s"nTypes ${m.nTypes} vs 1+$nCols")
    assert(m.footerLen > 0 && m.contentLength > 0)
  }

  test("real Spark ORC (zlib): postscript layer only, honest boundary") {
    val m = OrcOps.parse(writeReal("zlib"))
    assert(m.valid == 1 && m.compression == "zlib")
    assert(m.footerParsed == 0 && m.nStripes == 0 && m.numRows == 0)
    assert(m.footerLen > 0) // declared, not walked
  }

  test("synthetic round-trip: every census field") {
    val m = OrcOps.parse(OrcOps.encodeSynthetic(3, 250L, 4, 0L, 9L, 11))
    assert(m.valid == 1 && m.compression == "none" && m.footerParsed == 1)
    assert(m.nStripes == 3 && m.numRows == 750L && m.stripeRows == 750L)
    assert(m.nTypes == 4 && m.writerVersion == 9L && m.contentLength == 14L)
    assert(m.psLen > 0 && m.footerLen > 0 && m.dataBytes == 11L)
  }

  test("stripe-stats descent: column statistics round-trip, zigzag negatives exact") {
    val stats = Seq(
      OrcOps.ColStat(500L, Some((-42L, 17L, 1000L)), hasNull = true),
      OrcOps.ColStat(499L, None, hasNull = false),
      OrcOps.ColStat(498L, Some((-7L, 99L, -5L)), hasNull = true))
    val m = OrcOps.parse(OrcOps.encodeSynthetic(2, 250L, 4, 0L, 9L, 11,
      colStats = stats))
    assert(m.valid == 1 && m.footerParsed == 1)
    assert(m.stripeIndexBytes == 20L && m.stripeDataBytes == 200L &&
      m.stripeFooterBytes == 40L)
    assert(m.stripeRowsMin == 250L && m.stripeRowsMax == 250L)
    assert(m.offsetsMonotonic == 1)
    assert(m.nColStats == 3 && m.statValues == 1497L && m.nHasNull == 2)
    assert(m.nIntStats == 2 && m.intMin == -42L && m.intMax == 99L)
  }

  test("real Spark ORC (none): footer statistics walked, one per type") {
    val m = OrcOps.parse(writeReal("none"))
    assert(m.footerParsed == 1 && m.offsetsMonotonic == 1)
    // ORC writes one file-level ColumnStatistics per type (root incl.)
    assert(m.nColStats == m.nTypes, s"${m.nColStats} stats vs ${m.nTypes} types")
    assert(m.statValues > 0L)
    assert(m.nIntStats >= 1 && m.intMin <= m.intMax)
    assert(m.stripeDataBytes > 0L && m.stripeRowsMin > 0L &&
      m.stripeRowsMax >= m.stripeRowsMin)
  }

  test("non-monotonic stripe offsets are flagged; truncated stats zero the census") {
    def footerWith(body: ByteSink => Unit): Array[Byte] = {
      val f = new ByteSink(); body(f); f.toByteArray
    }
    def wrap(footer: Array[Byte]): Array[Byte] = {
      val ps = new ByteSink()
      ps.varint((1L << 3) | 0)
      ps.varint(footer.length.toLong)
      ps.varint((2L << 3) | 0)
      ps.varint(0L) // compression NONE
      TfRecordOps.pbLen(ps, 8000, "ORC".getBytes("US-ASCII"))
      val out = new ByteSink()
      out.write("ORC".getBytes("US-ASCII"))
      out.write(footer); out.write(ps.toByteArray); out.write(ps.size)
      out.toByteArray
    }
    // two stripes at the SAME offset: walked fine, monotonic flag drops
    val dup = footerWith { f =>
      (1 to 2).foreach { _ =>
        val s = new ByteSink()
        s.varint((1L << 3) | 0); s.varint(5L)
        s.varint((5L << 3) | 0); s.varint(10L)
        TfRecordOps.pbLen(f, 3, s.toByteArray)
      }
    }
    val m1 = OrcOps.parse(wrap(dup))
    assert(m1.valid == 1 && m1.nStripes == 2 && m1.stripeRows == 20L)
    assert(m1.offsetsMonotonic == 0)
    // a ColumnStatistics whose declared length overruns the footer:
    // wire violation, census zeroed whole (stop-don't-guess)
    val cut = footerWith { f =>
      f.varint((7L << 3) | 2)
      f.varint(100L) // declares 100 bytes, none follow
    }
    assert(OrcOps.parse(wrap(cut)).valid == 0)
  }

  test("metadata stripe statistics: census pairs footer rows with per-stripe min/max") {
    val stats = Seq(
      Seq(OrcOps.ColStat(250L, Some((0L, 9L, 0L)), hasNull = false)),
      Seq(OrcOps.ColStat(250L, Some((10L, 19L, 0L)), hasNull = false)),
      Seq(OrcOps.ColStat(250L, Some((-20L, 29L, 0L)), hasNull = false)))
    val b = OrcOps.encodeSynthetic(3, 250L, 2, 0L, 7L, 5, stripeStats = stats)
    val ss = OrcOps.stripeStatsCensus(b, 0)
    assert(ss == Vector((250L, 1, 0L, 9L), (250L, 1, 10L, 19L), (250L, 1, -20L, 29L)))
    // a second column index that does not exist: present stripes, no stats
    assert(OrcOps.stripeStatsCensus(b, 1).forall(_._2 == 0))
  }

  test("real Spark ORC (none): metadata stripe stats walk and row counts agree") {
    val bytes = writeReal("none")
    val m = OrcOps.parse(bytes)
    assert(m.metadataLen > 0L, "ORC writer emits a metadata section")
    // nation's first column is n_nationkey (int): column index 1 in ORC
    // statistics order (0 is the root struct)
    val ss = OrcOps.stripeStatsCensus(bytes, 1)
    assert(ss.length == m.nStripes)
    assert(ss.map(_._1).sum == m.numRows, "per-stripe rows cover the file")
    assert(ss.forall { case (_, has, mn, mx) => has == 1 && mn <= mx })
  }

  test("prune conservatism: mismatched stripe counts and missing int stats never prune") {
    // lying writer: 3 stripes in the footer, 2 StripeStatistics
    val lying = OrcOps.encodeSynthetic(3, 100L, 2, 0L, 7L, 0,
      stripeStats = Seq(
        Seq(OrcOps.ColStat(100L, Some((0L, 9L, 0L)), hasNull = false)),
        Seq(OrcOps.ColStat(100L, Some((10L, 19L, 0L)), hasNull = false))))
    assert(OrcOps.stripeStatsCensus(lying, 0).isEmpty)
    // compressed file: honest stub boundary, empty census
    val zlib = OrcOps.encodeSynthetic(2, 100L, 2, 1L, 7L, 0,
      stripeStats = Seq(
        Seq(OrcOps.ColStat(100L, Some((0L, 9L, 0L)), hasNull = false)),
        Seq(OrcOps.ColStat(100L, Some((10L, 19L, 0L)), hasNull = false))))
    assert(OrcOps.stripeStatsCensus(zlib, 0).isEmpty)
  }

  test("compressed synthetic: codec reported, footer never guessed at") {
    val m = OrcOps.parse(OrcOps.encodeSynthetic(2, 100L, 2, 5L, 7L, 0))
    assert(m.valid == 1 && m.compression == "zstd" && m.footerParsed == 0)
    assert(m.nStripes == 0 && m.numRows == 0 && m.nTypes == 0)
  }

  test("cut tail: fail-closed") {
    val m = OrcOps.parse(OrcOps.encodeSynthetic(2, 100L, 2, 0L, 7L, 5).dropRight(2))
    assert(m.valid == 0 && m.numRows == 0)
  }

  test("flipped head magic: rejected") {
    val b = OrcOps.encodeSynthetic(1, 10L, 1, 0L, 7L, 0)
    b(0) = 0x7F.toByte
    assert(OrcOps.parse(b).valid == 0)
  }

  test("corrupted postscript first byte: wire violation, zeroed census") {
    val b = OrcOps.encodeSynthetic(1, 10L, 1, 0L, 7L, 0)
    val pl = b(b.length - 1) & 0xff
    b(b.length - 1 - pl) = 0xFF.toByte
    assert(OrcOps.parse(b).valid == 0)
  }

  test("huge postscript length byte: bounds hold on tiny files") {
    val b = OrcOps.encodeSynthetic(1, 10L, 1, 0L, 7L, 0)
    b(b.length - 1) = 0xFF.toByte // 255 > n - 4
    assert(OrcOps.parse(b).valid == 0)
  }

  test("declared footer length past the head magic: rejected") {
    // hand-build a postscript declaring a footer larger than the file
    val out = new java.io.ByteArrayOutputStream()
    out.write("ORC".getBytes("US-ASCII"))
    val ps = new java.io.ByteArrayOutputStream()
    def pvi(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { ps.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      ps.write(v.toInt)
    }
    pvi(1L << 3); pvi(1000000L)    // footerLength: huge
    pvi(2L << 3); pvi(0L)          // compression NONE
    pvi((8000L << 3) | 2); pvi(3L); ps.write("ORC".getBytes("US-ASCII"))
    val psb = ps.toByteArray
    out.write(psb); out.write(psb.length)
    assert(OrcOps.parse(out.toByteArray).valid == 0)
  }
}
