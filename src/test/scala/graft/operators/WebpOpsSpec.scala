package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** WebP container walker — round-trips over all three container kinds
  * plus one test per malformed class (house rule: every stop-don't-
  * guess branch and every crafted-length failure mode gets a pinned
  * regression).
  */
class WebpOpsSpec extends AnyFunSuite {

  private def chunk(cc: String, body: Array[Byte]): Array[Byte] =
    new ByteSink(9 + body.length).riffChunk(cc, body).toByteArray
  private def container(chunks: Array[Byte]): Array[Byte] =
    chunk("RIFF", new ByteSink(4 + chunks.length).ascii("WEBP").raw(chunks).toByteArray)

  /** Extended (VP8X) STILL: no animation flag, one VP8L image chunk as
    * a sibling — the common alpha-still class in crawl corpora.
    */
  private def encodeExtendedStill(w: Int, h: Int, alpha: Boolean,
      exif: Boolean, icc: Boolean, xmp: Boolean, filler: Int): Array[Byte] = {
    require(w >= 1 && w <= (1 << 24) && h >= 1 && h <= (1 << 24), "canvas dims are 24-bit")
    val flags = ((if (icc) 0x20 else 0) | (if (alpha) 0x10 else 0) |
      (if (exif) 0x08 else 0) | (if (xmp) 0x04 else 0)).toByte
    val vp8x = new ByteSink(10).u8(flags).u8(0).u8(0).u8(0).le24(w - 1).le24(h - 1).toByteArray
    val meta8 = Array.tabulate(8)(i => (i * 11 + 5).toByte)
    container(
      chunk("VP8X", vp8x) ++
        (if (icc) chunk("ICCP", meta8) else Array.empty[Byte]) ++
        chunk("VP8L", WebpOps.vp8lPayload(w, h, alpha, filler)) ++
        (if (exif) chunk("EXIF", meta8) else Array.empty[Byte]) ++
        (if (xmp) chunk("XMP ", meta8) else Array.empty[Byte]))
  }

  test("lossy round-trip: kind, 14-bit dims, partition size, one chunk") {
    val m = WebpOps.parse(WebpOps.encodeLossy(640, 480, 1234L, 6))
    assert(m.valid == 1 && m.kind == "lossy")
    assert(m.width == 640 && m.height == 480)
    assert(m.lossyPartBytes == 1234L)
    assert(m.nFrames == 1 && m.hasAnim == 0 && m.hasAlpha == 0)
    assert(m.nChunks == 1 && m.trailingBytes == 0)
  }

  test("lossless round-trip: packed dims and the alpha bit") {
    val m = WebpOps.parse(WebpOps.encodeLossless(16383, 1, alpha = true, 3))
    assert(m.valid == 1 && m.kind == "lossless")
    assert(m.width == 16383 && m.height == 1)
    assert(m.hasAlpha == 1 && m.nFrames == 1 && m.trailingBytes == 0)
    val noA = WebpOps.parse(WebpOps.encodeLossless(7, 9, alpha = false, 0))
    assert(noA.hasAlpha == 0 && noA.width == 7 && noA.height == 9)
  }

  test("extended animation round-trip: flags, canvas, frames, duration") {
    val b = WebpOps.encodeExtendedAnim(320, 240, alpha = true,
      exif = true, icc = false, xmp = true,
      frames = Seq((40L, 2), (70L, 4), (100L, 0)))
    val m = WebpOps.parse(b)
    assert(m.valid == 1 && m.kind == "extended")
    assert(m.width == 320 && m.height == 240)
    assert(m.hasAlpha == 1 && m.hasAnim == 1 && m.hasExif == 1 &&
      m.hasIcc == 0 && m.hasXmp == 1)
    assert(m.nFrames == 3 && m.durationMs == 210L)
    // VP8X + ANIM + 3×ANMF + EXIF + XMP
    assert(m.nChunks == 7 && m.trailingBytes == 0)
  }

  test("extended STILL (no animation): one frame, flags intact") {
    val m = WebpOps.parse(encodeExtendedStill(64, 48, alpha = true,
      exif = false, icc = true, xmp = false, filler = 2))
    assert(m.valid == 1 && m.kind == "extended")
    assert(m.hasAnim == 0 && m.nFrames == 1 && m.durationMs == 0L)
    assert(m.hasAlpha == 1 && m.hasIcc == 1 && m.hasExif == 0)
    assert(m.width == 64 && m.height == 48)
    assert(m.nChunks == 3 && m.trailingBytes == 0) // VP8X + ICCP + VP8L
  }

  test("truncated container: fail-closed, nothing guessed") {
    val m = WebpOps.parse(WebpOps.encodeLossy(32, 32, 5L, 0).take(6))
    assert(m.valid == 0 && m.kind == "other" && m.nChunks == 0)
    assert(m.width == 0 && m.trailingBytes == 6)
  }

  test("flipped RIFF magic: whole input is trailing") {
    val b = WebpOps.encodeLossy(32, 32, 5L, 0)
    b(0) = (b(0) ^ 0xFF).toByte
    val m = WebpOps.parse(b)
    assert(m.valid == 0 && m.kind == "other" && m.trailingBytes == b.length)
  }

  test("broken VP8 start code: kind known, dims never invented") {
    val b = WebpOps.encodeLossy(32, 32, 5L, 0)
    b(23) = 0x00.toByte // first start-code byte
    val m = WebpOps.parse(b)
    assert(m.valid == 0 && m.kind == "lossy")
    assert(m.width == 0 && m.height == 0 && m.nFrames == 0)
    assert(m.lossyPartBytes == 5L) // the frame tag itself still reads
    assert(m.nChunks == 1 && m.trailingBytes == 0)
  }

  test("non-key first frame: rejected (a still WebP must be a key frame)") {
    val b = WebpOps.encodeLossy(32, 32, 5L, 0)
    b(20) = (b(20) | 1).toByte // frame-tag bit 0: interframe
    val m = WebpOps.parse(b)
    assert(m.valid == 0 && m.width == 0 && m.nFrames == 0)
  }

  test("VP8L nonzero version nibble: rejected") {
    val b = WebpOps.encodeLossless(10, 10, alpha = false, 0)
    // version lives in bits 29–31 of the packed field (byte 4 high bits)
    b(24) = (b(24) | 0x20).toByte
    val m = WebpOps.parse(b)
    assert(m.valid == 0 && m.kind == "lossless" && m.width == 0)
  }

  test("huge chunk-size declaration (0xFFFFFFFF): overflow-proof stop") {
    val b = WebpOps.encodeLossy(32, 32, 5L, 0)
    for (i <- 16 until 20) b(i) = 0xFF.toByte // VP8 chunk size field
    val m = WebpOps.parse(b)
    assert(m.valid == 0 && m.nChunks == 0)
    assert(m.trailingBytes == b.length - 12) // stopped at the chunk start
  }

  test("huge RIFF-size declaration: truncated container, walk stays in-buffer") {
    val b = WebpOps.encodeLossy(32, 32, 5L, 0)
    for (i <- 4 until 8) b(i) = 0xFF.toByte
    val m = WebpOps.parse(b)
    assert(m.valid == 0) // declared extent exceeds the buffer
    assert(m.nChunks == 1 && m.kind == "lossy") // the real chunk still walks
    assert(m.trailingBytes >= 0 && m.trailingBytes <= b.length)
  }

  test("bytes past the declared RIFF extent are trailing, never parsed") {
    val good = WebpOps.encodeLossy(32, 32, 5L, 0)
    val m = WebpOps.parse(good ++ Array.fill(37)(0xAB.toByte))
    assert(m.valid == 1 && m.nChunks == 1 && m.trailingBytes == 37)
  }

  test("ANMF shorter than its 16-byte header never counts as a frame") {
    val b = WebpOps.encodeExtendedAnim(8, 8, alpha = false,
      exif = false, icc = false, xmp = false, frames = Seq((40L, 0)))
    val m = WebpOps.parse(b)
    assert(m.nFrames == 1)
    // shrink the ANMF chunk's declared size below 16: frame uncounted,
    // and the walk desyncs into an invalid (but bounded) state
    val anmfAt = b.indexOfSlice("ANMF".getBytes("US-ASCII"))
    val c = b.clone(); c(anmfAt + 4) = 8.toByte; c(anmfAt + 5) = 0.toByte
    val m2 = WebpOps.parse(c)
    assert(m2.nFrames == 0 && m2.valid == 0)
    assert(m2.trailingBytes >= 0 && m2.trailingBytes <= c.length)
  }
}
