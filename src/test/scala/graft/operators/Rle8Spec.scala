package graft.operators

import graft.SparkSpec

class Rle8Spec extends SparkSpec {

  private def frame(w: Int, h: Int, t: Int): Array[Int] =
    Array.tabulate(w * h)(i => ((i % w) * 7 + (i / w) * 13 + t * 29) % 211)

  test("RLE8 encode → decode round-trips frames exactly") {
    val (w, h) = (13, 5) // non-multiple-of-4 width: no stride in RLE8, but keep parity with DIB fixtures
    val fs = (0 until 4).map(t => frame(w, h, t))
    val avi = VideoCodec.encodeRle8Avi(w, h, 10, fs)
    assert(new String(avi.take(4), "US-ASCII") == "RIFF")
    val Some((dw, dh, dec)) = VideoCodec.decodeRle8Avi(avi)
    assert(dw == w && dh == h && dec.length == 4)
    for (t <- fs.indices) assert(dec(t).toSeq == fs(t).toSeq, s"frame $t")
  }

  test("delta frames rely on the previous frame's canvas (inter-frame decode)") {
    // static background, one moving 2×2 block — almost every pixel of
    // frames 1..3 is a SKIP the decoder must satisfy from the canvas
    val (w, h) = (16, 12)
    val bg = Array.tabulate(w * h)(i => (i * 31) % 200)
    val fs = (0 until 4).map { t =>
      val f = bg.clone()
      for (dy <- 0 until 2; dx <- 0 until 2)
        f((2 + dy) * w + (3 * t + dx)) = 250
      f
    }
    val avi = VideoCodec.encodeRle8Avi(w, h, 10, fs)
    val Some((_, _, dec)) = VideoCodec.decodeRle8Avi(avi)
    for (t <- fs.indices) assert(dec(t).toSeq == fs(t).toSeq, s"frame $t")

    // the inter-frame property shows up as compression: a delta frame
    // carries only the changed block + skips, far smaller than the key
    // frame, and uses the 00 02 positional-delta escape
    def frameBodies(bytes: Array[Byte]): Seq[Array[Byte]] = {
      val out = Seq.newBuilder[Array[Byte]]
      var pos = bytes.indexOfSlice("movi".getBytes("US-ASCII")) + 4
      while (pos + 8 <= bytes.length) {
        val size = (bytes(pos + 4) & 0xff) | ((bytes(pos + 5) & 0xff) << 8) |
          ((bytes(pos + 6) & 0xff) << 16) | ((bytes(pos + 7) & 0xff) << 24)
        out += bytes.slice(pos + 8, pos + 8 + size)
        pos += 8 + size + (size & 1)
      }
      out.result()
    }
    val bodies = frameBodies(avi)
    assert(bodies.length == 4)
    assert(bodies(1).length < bodies(0).length / 4,
      s"delta frame ${bodies(1).length}B should be far smaller than key frame ${bodies(0).length}B")
    assert(bodies(1).toSeq.containsSlice(Seq[Byte](0, 2)), "delta escape present")
  }

  test("an unchanged frame decodes to an exact copy via skips alone") {
    val f = frame(9, 7, 2)
    val avi = VideoCodec.encodeRle8Avi(9, 7, 10, Seq(f, f, f))
    val Some((_, _, dec)) = VideoCodec.decodeRle8Avi(avi)
    assert(dec.length == 3)
    for (t <- 0 until 3) assert(dec(t).toSeq == f.toSeq)
  }

  test("wide rows split runs and skips at the 255 packet limit") {
    val (w, h) = (700, 3)
    val f0 = Array.fill(w * h)(42) // runs of 700 ⇒ three packets per row
    val f1 = f0.clone(); f1(2 * w + 650) = 9 // skip of 650 ⇒ three delta escapes
    val avi = VideoCodec.encodeRle8Avi(w, h, 10, Seq(f0, f1))
    val Some((_, _, dec)) = VideoCodec.decodeRle8Avi(avi)
    assert(dec(0).toSeq == f0.toSeq && dec(1).toSeq == f1.toSeq)
  }

  test("decodeRle8Avi rejects garbage, truncation, and non-RLE8 streams") {
    assert(VideoCodec.decodeRle8Avi(Array[Byte](9, 9, 9)).isEmpty)
    assert(VideoCodec.decodeRle8Avi(Array.empty[Byte]).isEmpty)
    val avi = VideoCodec.encodeRle8Avi(8, 4, 10, Seq(frame(8, 4, 0), frame(8, 4, 1)))
    assert(VideoCodec.decodeRle8Avi(avi.take(avi.length - 6)).isEmpty)
    // an uncompressed DIB AVI is not ours to decode
    val dib = VideoCodec.encodeDibAvi(8, 4, 10, Seq(frame(8, 4, 0)))
    assert(VideoCodec.decodeRle8Avi(dib).isEmpty)
    // a run written past the row end is corrupt, not silently clipped
    val moviAt = avi.indexOfSlice("movi".getBytes("US-ASCII"))
    val bad = avi.clone(); bad(moviAt + 12) = -1 // count 255 in an 8-wide row
    assert(VideoCodec.decodeRle8Avi(bad).isEmpty)
  }

  test("seeded random clips round-trip exactly (20 trials)") {
    for (trial <- 0 until 20) {
      val rnd = new scala.util.Random(9000 + trial)
      val w = 5 + rnd.nextInt(28)
      val h = 4 + rnd.nextInt(20)
      val n = 1 + rnd.nextInt(5)
      var prev = Array.fill(w * h)(rnd.nextInt(256))
      val fs = (0 until n).map { t =>
        val f =
          if (t == 0) prev
          else {
            val g = prev.clone()
            // mutate a random fraction of pixels so skips and runs mix
            val m = rnd.nextInt(w * h)
            for (_ <- 0 until m) g(rnd.nextInt(w * h)) = rnd.nextInt(256)
            g
          }
        prev = f
        f
      }
      val avi = VideoCodec.encodeRle8Avi(w, h, 10, fs)
      val Some((dw, dh, dec)) = VideoCodec.decodeRle8Avi(avi)
      assert(dw == w && dh == h && dec.length == n, s"trial $trial")
      for (t <- fs.indices)
        assert(dec(t).toSeq == fs(t).toSeq, s"trial $trial frame $t")
    }
  }

  test("decodeVideoFeatures decodes RLE8 payloads through the shared path") {
    import spark.implicits._
    // 2×2: frame 1 changes one pixel (1→9): motion = 8; frame 2 unchanged
    val f0 = Array(1, 2, 3, 4)
    val f1 = Array(9, 2, 3, 4)
    val avi = VideoCodec.encodeRle8Avi(2, 2, 10, Seq(f0, f1, f1))
    val df = Seq((1L, avi)).toDF("id", "payload")
    val out = VideoCodec.decodeVideoFeatures(df, "id", "payload").collect()
    assert(out(0).getBoolean(1) && out(0).getLong(2) == 3L)
    assert(out(0).getLong(5) == 10L) // sum_first
    assert(out(0).getLong(6) == 8L)  // motion_abs
  }

  test("a strf declaring 50000x50000 is rejected, not a wrapped allocation") {
    // width*height wraps the Int multiply negative - the old code crashed
    // with NegativeArraySizeException on the canvas allocation
    val frame = Array.tabulate(4 * 3)(i => i * 10 % 256)
    val avi = VideoCodec.encodeRle8Avi(4, 3, 10, Seq(frame))
    val i = avi.indexOfSlice("strf".getBytes("US-ASCII"))
    assert(i > 0, "no strf chunk in fixture")
    def putLe32(off: Int, v: Int): Unit = {
      avi(off) = (v & 0xff).toByte; avi(off + 1) = ((v >> 8) & 0xff).toByte
      avi(off + 2) = ((v >> 16) & 0xff).toByte; avi(off + 3) = ((v >> 24) & 0xff).toByte
    }
    putLe32(i + 12, 50000); putLe32(i + 16, 50000)
    assert(VideoCodec.decodeRle8Avi(avi).isEmpty)
  }
}
