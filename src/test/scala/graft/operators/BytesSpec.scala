package graft.operators

import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite

/** The shared byte layer's bounds: every overrun of a cursor raises
  * `Malformed` (never an index exception, never a read past `end`),
  * 64-bit lengths cannot wrap the budget, and the sinks round-trip
  * through the cursors at every width's edge values.
  */
class BytesSpec extends AnyFunSuite {

  private def holds(p: Prop): Unit = {
    val r = Check.check(Check.Parameters.default.withMinSuccessfulTests(300), p)
    assert(r.passed, r.status.toString)
  }

  private def malformed(f: => Any): Boolean =
    try { f; false } catch { case Malformed => true }

  // each read with its width in bytes
  private val reads: Seq[(String, Int, ByteCursor => Any)] = Seq(
    ("u8", 1, _.u8()), ("le16", 2, _.le16()), ("le32", 4, _.le32()),
    ("le64", 8, _.le64()), ("be16", 2, _.be16()), ("be32", 4, _.be32()),
    ("be64", 8, _.be64()))

  test("every fixed-width read with fewer than its width left throws Malformed") {
    // the array runs 8 bytes past `end`: a read that ignored the budget
    // would succeed instead of throwing
    val b = Array.fill[Byte](32)(0x7f)
    val end = 24
    for ((name, width, read) <- reads; k <- 0 until width) {
      val c = new ByteCursor(b, end - k, end)
      assert(malformed(read(c)), s"$name with $k bytes left")
      assert(c.pos == end - k, s"$name moved the cursor on failure")
    }
    for ((name, width, read) <- reads) {
      val c = new ByteCursor(b, end - width, end)
      read(c)
      assert(c.pos == end, name)
    }
  }

  test("varint: ten bytes is the limit, an eleventh continuation is Malformed") {
    val max = new ByteSink().varint(-1L).toByteArray
    assert(max.length == 10)
    assert(new ByteCursor(max).varint() == -1L)
    val eleven = Array.fill[Byte](10)(0x80.toByte) :+ 0x01.toByte
    assert(malformed(new ByteCursor(eleven).varint()))
    assert(malformed(new ByteCursor(Array[Byte](0x80.toByte, 0x80.toByte)).varint()))
  }

  test("skip/take/slice reject -1, Long.MaxValue and remaining + 1 without moving") {
    val b = new Array[Byte](16)
    for (n <- Seq(-1L, Long.MaxValue, Long.MinValue, 11L)) {
      val c = new ByteCursor(b, 5, 15)
      assert(malformed(c.skip(n)), s"skip $n")
      assert(malformed(c.take(n)), s"take $n")
      assert(malformed(c.slice(n)), s"slice $n")
      assert(c.pos == 5)
    }
    val c = new ByteCursor(b, 5, 15)
    c.skip(0); c.take(3); c.slice(7)
    assert(c.pos == 15 && !c.hasMore)
  }

  test("a slice cannot read past its own end while its parent still has bytes") {
    val b = Array.tabulate[Byte](16)(_.toByte)
    val parent = new ByteCursor(b, 2, 16)
    val s = parent.slice(3)
    assert(parent.pos == 5 && parent.remaining == 11)
    assert(s.u8() == 2 && s.le16() == (3 | (4 << 8)))
    assert(!s.hasMore)
    assert(malformed(s.u8()))
    assert(malformed(s.skip(1)))
    assert(malformed(new ByteCursor(b, 0, 4).slice(2).le32()))
  }

  test("a cursor whose range leaves the array is Malformed at construction") {
    val b = new Array[Byte](8)
    assert(malformed(new ByteCursor(b, -1, 4)))
    assert(malformed(new ByteCursor(b, 0, 9)))
    assert(malformed(new ByteCursor(b, 5, 4)))
    assert(new ByteCursor(b, 8, 8).remaining == 0)
  }

  test("ByteSink → ByteCursor round-trips every width at its edge values") {
    val ints = Seq(0, 1, -1, Int.MinValue, Int.MaxValue, 0x8000, 0xffff)
    val longs = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue,
      Int.MinValue.toLong, Int.MaxValue.toLong, 0xffffffffL)
    for (v <- ints) {
      val c = new ByteCursor(new ByteSink().le16(v).be16(v).le32(v).be32(v).toByteArray)
      assert(c.le16() == (v & 0xffff) && c.be16() == (v & 0xffff), v)
      assert(c.le32() == v && c.be32() == v && !c.hasMore, v)
    }
    for (v <- longs) {
      val bs = new ByteSink().le64(v).be64(v).varint(v).zigzag(v).avroLong(v).toByteArray
      val c = new ByteCursor(bs)
      assert(c.le64() == v && c.be64() == v, v)
      assert(c.varint() == v && c.zigzag() == v && c.avroLong() == v, v)
      assert(!c.hasMore, v)
      // the absolute reads agree with the cursor
      assert(Bytes.le64(bs, 0) == v && Bytes.be64(bs, 8) == v, v)
      assert(Bytes.le32u(bs, 0) == (v & 0xffffffffL) && Bytes.be32u(bs, 12) == (v & 0xffffffffL), v)
    }
    holds(Prop.forAll { (v: Long) =>
      val c = new ByteCursor(new ByteSink().varint(v).zigzag(v).le64(v).be32(v).le24(v.toInt).toByteArray)
      c.varint() == v && c.zigzag() == v && c.le64() == v && c.be32() == v.toInt &&
        Bytes.le24(c.b, c.pos) == (v.toInt & 0xffffff)
    })
    // zigzag keeps small magnitudes short
    assert(new ByteSink().zigzag(-1L).size == 1 && new ByteSink().zigzag(63L).size == 1)
  }

  test("BitCursor reads MSB-first, aligns, and throws at exhaustion") {
    val b = Array(0xB4.toByte, 0x0F.toByte) // 1011 0100 0000 1111
    val r = new BitCursor(b)
    assert(r.bits(1) == 1 && r.bits(3) == 3 && r.bits(2) == 1)
    assert(r.bytePos == 0)
    r.alignByte()
    assert(r.bytePos == 1)
    r.alignByte() // already aligned: no-op
    assert(r.bytePos == 1)
    assert(r.bits(0) == 0 && r.bits(8) == 0x0F)
    assert(malformed(r.bits(1)))
    val s = new BitCursor(Array.fill[Byte](16)(0xff.toByte), 0, 8)
    assert(s.bits(64) == -1L)
    assert(malformed(s.bits(1))) // its end, not the array's
    assert(malformed(new BitCursor(b).bits(17)))
    assert(malformed(new BitCursor(new Array[Byte](16)).bits(65)))
    assert(malformed(new BitCursor(b).bits(-1)))
  }

  test("BitSink → BitCursor round-trips any sequence of fields") {
    val field = for { n <- Gen.choose(0, 64); v <- Gen.long } yield
      (if (n == 64) v else v & ((1L << n) - 1), n)
    holds(Prop.forAll(Gen.listOf(field)) { fields =>
      val sink = new BitSink
      fields.foreach { case (v, n) => sink.bits(v, n) }
      val bytes = sink.toByteArray
      val r = new BitCursor(bytes)
      val total = fields.map(_._2).sum
      fields.forall { case (v, n) => r.bits(n) == v } && bytes.length == (total + 7) / 8
    })
  }

  private def riff(chunks: (String, Array[Byte])*): Array[Byte] = {
    val s = new ByteSink()
    chunks.foreach { case (cc, body) => s.riffChunk(cc, body) }
    s.toByteArray
  }

  private def visits(b: Array[Byte], from: Int = 0): (Boolean, Seq[(Int, Int)]) = {
    val seen = Seq.newBuilder[(Int, Int)]
    val ok = Bytes.riffChunks(b, from, b.length) { (pos, size) => seen += ((pos, size)); true }
    (ok, seen.result())
  }

  test("riffChunks honours the odd-size pad and ignores a sub-header tail") {
    val b = riff("abc " -> Array[Byte](1, 2, 3), "defg" -> Array[Byte](4, 5))
    assert(b.length == 8 + 3 + 1 + 8 + 2)
    assert(visits(b) == ((true, Seq((0, 3), (12, 2)))))
    assert(Bytes.tag(b, 12, "defg") && !Bytes.tag(b, 12, "abc "))
    assert(visits(b ++ Array[Byte](9, 9, 9)) == ((true, Seq((0, 3), (12, 2)))))
    // a visitor that stops ends the walk with false
    assert(!Bytes.riffChunks(b, 0, b.length)((_, _) => false))
  }

  test("riffChunks stops with false on an oversize or negative size") {
    val b = riff("good" -> Array[Byte](1, 2), "bad " -> Array[Byte](3, 4))
    val over = b.clone()
    over(14) = 3 // the second chunk (at 10) claims 3 bytes, 2 remain
    assert(visits(over) == ((false, Seq((0, 2)))))
    val neg = b.clone()
    Array(0xff, 0xff, 0xff, 0xff).zipWithIndex.foreach { case (x, i) => neg(14 + i) = x.toByte }
    assert(visits(neg) == ((false, Seq((0, 2)))))
    // `until` bounds the walk, not the array
    assert(!Bytes.riffChunks(b, 0, b.length - 1)((_, _) => true))
  }
}
