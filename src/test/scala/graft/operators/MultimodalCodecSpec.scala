package graft.operators

import graft.SparkSpec

class MultimodalCodecSpec extends SparkSpec {

  test("PNG encode → decode round-trips grayscale pixels exactly") {
    val w = 13
    val h = 7
    val f = (x: Int, y: Int) => (x * 17 + y * 29) % 256
    val png = MultimodalCodec.encodeGrayPng(w, h, f)
    // a real PNG: magic signature present
    assert(png.take(4).map(b => f"$b%02x").mkString == "89504e47")
    val Some((dw, dh, pix)) = MultimodalCodec.decodeGray(png)
    assert(dw == w && dh == h)
    for (y <- 0 until h; x <- 0 until w)
      assert(pix(y * w + x) == f(x, y), s"pixel ($x,$y)")
  }

  test("decodeGray collapses multi-band images by integer 601 luma") {
    // hand-built RGB PNG through the same ImageIO writer
    val img = new java.awt.image.BufferedImage(2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff8040) // r=255 g=128 b=64
    img.setRGB(1, 0, 0x000000)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val Some((_, _, pix)) = MultimodalCodec.decodeGray(bos.toByteArray)
    assert(pix(0) == ((77 * 255 + 150 * 128 + 29 * 64) >> 8))
    assert(pix(1) == 0)
  }

  test("decodeGray returns None on undecodable bytes") {
    assert(MultimodalCodec.decodeGray(Array[Byte](1, 2, 3)).isEmpty)
    assert(MultimodalCodec.decodeGray(Array.empty[Byte]).isEmpty)
  }

  test("resizeNearest picks integer floor-division source positions") {
    // 4×2 → 2×2: x picks {0,2}, y picks {0,1}
    val pix = Array(0, 1, 2, 3,
                    4, 5, 6, 7)
    assert(MultimodalCodec.resizeNearest(4, 2, pix, 2, 2).toSeq == Seq(0, 2, 4, 6))
    // upsample 2×1 → 4×1: x*2/4 = {0,0,1,1}
    assert(MultimodalCodec.resizeNearest(2, 1, Array(9, 5), 4, 1).toSeq == Seq(9, 9, 5, 5))
  }

  test("aHash64 is exactly invariant under uniform brightness shift") {
    val w = 19
    val h = 15
    val base = (x: Int, y: Int) => (x * 7 + y * 13 + (x * y) % 31) % 200
    def hashOf(shift: Int): Long = {
      val png = MultimodalCodec.encodeGrayPng(w, h, (x, y) => base(x, y) + shift)
      val Some((dw, dh, pix)) = MultimodalCodec.decodeGray(png)
      MultimodalCodec.aHash64(dw, dh, pix)
    }
    assert(hashOf(0) == hashOf(39))
    // different content ⇒ different hash (not a constant function)
    val other = MultimodalCodec.encodeGrayPng(w, h, (x, y) => (x * 31 + y * 3) % 200)
    val Some((dw, dh, pix)) = MultimodalCodec.decodeGray(other)
    assert(MultimodalCodec.aHash64(dw, dh, pix) != hashOf(0))
  }

  test("decodeGray also reads JDK-encoded JPEG (lossy: dims exact, pixels near)") {
    // the JDK ships a JPEG reader/writer too; lossy round-trip means no
    // arithmetic oracle (hence no qNNN), but the decode path itself is
    // the same decodeGray the PNG queries gate
    val w = 24
    val h = 16
    val f = (x: Int, y: Int) => 64 + ((x * 5 + y * 3) % 64) // smooth-ish ramp
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, f(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val Some((dw, dh, pix)) = MultimodalCodec.decodeGray(bos.toByteArray)
    assert(dw == w && dh == h)
    // DCT quantization error on a smooth ramp stays small
    val maxErr = (0 until w * h).map(i => math.abs(pix(i) - f(i % w, i / w))).max
    assert(maxErr <= 24, s"max pixel error $maxErr")
  }

  test("decodeGray reads JDK-encoded BMP and GIF exactly (both lossless for 8-bit gray)") {
    val w = 11
    val h = 9
    val f = (x: Int, y: Int) => (x * 19 + y * 7) % 256
    for (fmt <- Seq("bmp", "gif")) {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      val Some((dw, dh, pix)) = MultimodalCodec.decodeGray(bos.toByteArray)
      assert(dw == w && dh == h, fmt)
      for (y <- 0 until h; x <- 0 until w)
        assert(pix(y * w + x) == f(x, y), s"$fmt pixel ($x,$y)")
    }
  }

  test("decodeImageFeatures surfaces undecodable payloads as rows") {
    import spark.implicits._
    val good = MultimodalCodec.encodeGrayPng(3, 3, (x, y) => x + y)
    val df = Seq((1L, good), (2L, Array[Byte](0, 1, 2))).toDF("id", "payload")
    val out = MultimodalCodec.decodeImageFeatures(df, "id", "payload")
      .orderBy("id").collect()
    assert(out(0).getBoolean(1) && out(0).getString(2) == "ok")
    assert(out(0).getInt(3) == 3 && out(0).getInt(4) == 3)
    // sum over 3×3 of x+y = 18
    assert(out(0).getLong(5) == 18L)
    assert(out(0).getString(6).length == 16)
    assert(!out(1).getBoolean(1) && out(1).getString(2) == "undecodable" &&
      out(1).isNullAt(6))
  }

  test("cap_rejected is distinct from undecodable and carries probed dims") {
    import spark.implicits._
    // a LEGITIMATE 6x5 image rejected only because the caller lowered
    // the cap: status must say cap_rejected (not undecodable) and the
    // header-probed dimensions must be reported
    val img = MultimodalCodec.encodeGrayPng(6, 5, (x, y) => x * y)
    val df = Seq((1L, img), (2L, Array[Byte](9, 9, 9))).toDF("id", "payload")
    val out = MultimodalCodec.decodeImageFeatures(df, "id", "payload", maxPixels = 16L)
      .orderBy("id").collect()
    assert(!out(0).getBoolean(1) && out(0).getString(2) == "cap_rejected")
    assert(out(0).getInt(3) == 6 && out(0).getInt(4) == 5) // probed, not decoded
    assert(out(0).isNullAt(6))
    assert(out(1).getString(2) == "undecodable" &&
      out(1).getInt(3) == 0 && out(1).getInt(4) == 0)
    // raising the cap back over w*h decodes the same payload fine
    assert(MultimodalCodec.decodeGrayResult(img, maxPixels = 30L)
      .isInstanceOf[MultimodalCodec.Decoded])
    assert(MultimodalCodec.decodeGrayResult(img, maxPixels = 29L) ==
      MultimodalCodec.CapRejected(6, 5))
  }

  test("thumbnail emits row-major 2-hex-char pixels from the decoded image") {
    import spark.implicits._
    val png = MultimodalCodec.encodeGrayPng(4, 2, (x, y) => y * 4 + x)
    val df = Seq((7L, png)).toDF("id", "payload")
    val out = MultimodalCodec.thumbnail(df, "id", "payload", 2, 2).collect()(0)
    assert(out.getInt(1) == 4 && out.getInt(2) == 2)
    // same picks as the resizeNearest case above: 0,2,4,6
    assert(out.getString(3) == "00020406")
  }

  test("a bomb PNG header (60000x60000 from a tiny file) is rejected before decode") {
    // ImageIO.read would attempt the full-canvas allocation -> an
    // OutOfMemoryError (an Error, not caught) killing the executor;
    // the header-dims probe must reject it before any decode
    val png = MultimodalCodec.encodeGrayPng(4, 3, (x, y) => (x + y) * 20)
    def putBe32(off: Int, v: Int): Unit = {
      png(off) = ((v >> 24) & 0xff).toByte; png(off + 1) = ((v >> 16) & 0xff).toByte
      png(off + 2) = ((v >> 8) & 0xff).toByte; png(off + 3) = (v & 0xff).toByte
    }
    putBe32(16, 60000); putBe32(20, 60000) // IHDR width, height
    val crc = new java.util.zip.CRC32()
    crc.update(png, 12, 4 + 13) // chunk type + IHDR data
    putBe32(29, crc.getValue.toInt)
    assert(MultimodalCodec.probeDims(png).contains((60000, 60000)))
    assert(MultimodalCodec.decodeGray(png).isEmpty)
    // and the cap leaves ordinary images untouched
    assert(MultimodalCodec.decodeGray(
      MultimodalCodec.encodeGrayPng(4, 3, (x, y) => (x + y) * 20)).nonEmpty)
  }

  test("the pixel cap is a parameter; probeDims distinguishes cap-reject from undecodable") {
    // ADVICE r10: a legitimately large image (e.g. 5000×4000 = 20M px)
    // is over the 16.7M default — callers must be able to raise the cap
    // deliberately rather than silently lose rows.
    val png = MultimodalCodec.encodeGrayPng(40, 30, (x, y) => (x * 3 + y) % 256)
    // tiny explicit cap rejects what the default accepts
    assert(MultimodalCodec.decodeGray(png, maxPixels = 100L).isEmpty)
    assert(MultimodalCodec.decodeGray(png).nonEmpty)
    // raising the cap past the product accepts again
    assert(MultimodalCodec.decodeGray(png, maxPixels = 1200L).nonEmpty)
    // cap-rejected bytes still PROBE (dims readable) — undecodable don't:
    // that asymmetry is how a caller surfaces "rejected by cap" distinctly
    assert(MultimodalCodec.probeDims(png).contains((40, 30)))
    assert(MultimodalCodec.probeDims(Array[Byte](9, 9, 9)).isEmpty)
  }
}
