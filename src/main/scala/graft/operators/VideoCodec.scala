package graft.operators

import org.apache.spark.sql.DataFrame

/** Real video decode over opaque `binary` payload columns — the video
  * half of the codec step [[MultimodalStub]] stubs out, made real for
  * the one video format that needs no codec: RIFF/AVI carrying
  * uncompressed 8-bit DIB frames (`BI_RGB`, the format Video for
  * Windows shipped in 1992). Frames are stored as literal bottom-up
  * palettized bitmaps, so a correct chunk-walk of the container plus
  * DIB row-order/stride handling IS the decode — zero new
  * dependencies, byte-exact, and therefore arithmetically replayable
  * by an external oracle (q179). Motion-JPEG AVIs (fourcc 'MJPG' —
  * genuinely compressed intra-frame video) decode for real through
  * the shared ImageIO JPEG path with structure-exact oracles (q182);
  * Microsoft RLE8 AVIs (biCompression = BI_RLE8) are decoded with a
  * persistent canvas whose delta-skips carry prior-frame pixels
  * forward — a true INTER-FRAME format, losslessly decodable and so
  * exactly oracle-gated (q188); modern entropy-coded inter-frame
  * codecs (H.264/VP9) stay honestly stubbed.
  *
  * The parse is a real AVI walk, not a fixed-offset read: nested
  * `LIST` chunks (`hdrl` → `strl`, `movi`), the `avih` main header for
  * frame geometry, the `strf` BITMAPINFOHEADER for pixel-format
  * validation, frame chunks by stream tag (`00db`/`00dc`), and DIB's
  * two non-obvious storage rules — rows run BOTTOM-UP and every row is
  * padded to a 4-byte boundary.
  *
  * Spark-side shape mirrors [[MultimodalCodec]]/[[AudioCodec]]: binary
  * in → typed integer features out, one parser pass per partition,
  * map-only. The headline temporal feature (`motion_abs`, the exact
  * Σ|frame_t − frame_{t−1}| over aligned pixels) is the integer-exact
  * scene-change / static-clip signal a media curation pipeline filters
  * on.
  */
object VideoCodec {

  // the MJPEG path uses ImageIO both ways; same headless + in-memory
  // stream-cache pinning as MultimodalCodec (global JVM settings, set
  // in both objects so whichever classloads first wins)
  System.setProperty("java.awt.headless", "true")
  javax.imageio.ImageIO.setUseCache(false)

  /** LIST nesting cap for the recursive container walks. Real AVIs
    * nest 3–4 deep (hdrl → strl, odml); a crafted payload can nest a
    * LIST per 12 bytes, deep enough to overflow an executor's stack —
    * in an untrusted corpus that is a task-killer, so anything deeper
    * than this is rejected as corrupt rather than recursed into.
    */
  val MaxListDepth: Int = 64

  /** Pixel-count cap per frame (16.7M px = a 64 MB int canvas): a
    * crafted strf declaring e.g. 50000×50000 would wrap `width*height`
    * negative (NegativeArraySizeException) or pass a wrapped
    * `stride*height` size check and read out of bounds — dims are
    * validated in Long against this cap before any allocation.
    */
  val MaxPixels: Long = 1L << 24

  /** Encode frames of row-major top-down 8-bit grayscale pixels as a
    * minimal valid RIFF/AVI with one uncompressed 8-bpp DIB video
    * stream (grayscale palette, bottom-up rows, 4-byte row stride).
    * Also the test-fixture generator for q179 and the specs.
    */
  def encodeDibAvi(width: Int, height: Int, fps: Int,
                   frames: Seq[Array[Int]]): Array[Byte] = {
    require(fps > 0, s"fps must be positive, got $fps")
    require(frames.nonEmpty && frames.forall(_.length == width * height),
      s"every frame must be $width x $height")
    val stride = (width + 3) & ~3
    val frameBytes = stride * height
    val frameChunks = frames.map { pix =>
      val body = new Array[Byte](frameBytes)
      var y = 0
      while (y < height) {
        val srcRow = height - 1 - y // bottom-up storage
        var x = 0
        while (x < width) { body(y * stride + x) = pix(srcRow * width + x).toByte; x += 1 }
        y += 1
      }
      body
    }
    // biCompression = BI_RGB (uncompressed), frames as 00db chunks
    avi(width, height, fps, "DIB ", 8, 0, frameBytes, grayPalette = true, "00db", frameChunks)
  }

  /** A minimal valid RIFF/AVI around `frames`: `hdrl` (avih, then one
    * video `strl` whose strh names `handler` and whose strf
    * BITMAPINFOHEADER carries `bitCount`/`compression`, plus a 256-entry
    * grayscale palette when asked) and a `movi` LIST of `frameTag`
    * chunks. `bufSize` fills the suggested-buffer and image-size fields.
    */
  private def avi(width: Int, height: Int, fps: Int, handler: String,
      bitCount: Int, compression: Int, bufSize: Int, grayPalette: Boolean,
      frameTag: String, frames: Seq[Array[Byte]]): Array[Byte] = {
    def chunk(tag: String, body: Array[Byte]): Array[Byte] =
      new ByteSink(8 + body.length + 1).riffChunk(tag, body).toByteArray
    def list(listType: String, bodies: Array[Byte]*): Array[Byte] = {
      val inner = new ByteSink().ascii(listType)
      bodies.foreach(inner.raw)
      chunk("LIST", inner.toByteArray)
    }
    val avih = new ByteSink(56)
      .le32(1000000 / fps)     // dwMicroSecPerFrame
      .le32(bufSize * fps)     // dwMaxBytesPerSec
      .le32(0).le32(0)         // padding, flags
      .le32(frames.length)     // dwTotalFrames
      .le32(0).le32(1)         // initial frames, streams
      .le32(bufSize)           // suggested buffer
      .le32(width).le32(height)
      .le32(0).le32(0).le32(0).le32(0)
    val strh = new ByteSink(56).ascii("vids").ascii(handler)
      .le32(0).le32(0)         // flags, priority+language
      .le32(0)                 // initial frames
      .le32(1).le32(fps)       // scale, rate → fps
      .le32(0).le32(frames.length)
      .le32(bufSize).le32(-1)  // suggested buffer, quality
      .le32(0)                 // sample size
      .le32(0).le32(0)         // rcFrame
    val strf = new ByteSink(40 + 1024)
      .le32(40)                // biSize
      .le32(width).le32(height) // positive height ⇒ bottom-up
      .le16(1).le16(bitCount)  // planes, bits per pixel
      .le32(compression)
      .le32(bufSize)
      .le32(0).le32(0)         // pels per meter
      .le32(if (grayPalette) 256 else 0).le32(0) // colors used / important
    if (grayPalette) { // entry i = (i,i,i,0)
      var i = 0
      while (i < 256) { strf.u8(i).u8(i).u8(i).u8(0); i += 1 }
    }
    val riffBody = new ByteSink().ascii("AVI ")
      .raw(list("hdrl", chunk("avih", avih.toByteArray),
        list("strl", chunk("strh", strh.toByteArray), chunk("strf", strf.toByteArray))))
      .raw(list("movi", frames.map(chunk(frameTag, _)): _*))
    chunk("RIFF", riffBody.toByteArray)
  }

  /** The AVI chunk-tree walk shared by the three decoders: nested
    * `LIST`s (at most [[MaxListDepth]] deep; `movi` marks frame
    * territory), each `strf` (≥ 40 bytes) to `onStrf(pos)`, and each
    * frame chunk `NNdc` (also `NNdb` when `db`) inside `movi` to
    * `onFrame(pos, size)`. A visitor returning false, or any corrupt
    * chunk, fails the walk; so does a header that is not RIFF/AVI.
    */
  private def walkAvi(bytes: Array[Byte], db: Boolean)(onStrf: Int => Unit)(
      onFrame: (Int, Int) => Boolean): Boolean = {
    def walk(from: Int, until: Int, inMovi: Boolean, depth: Int): Boolean =
      depth <= MaxListDepth && // deeper is adversarial nesting, not a real AVI
        Bytes.riffChunks(bytes, from, until) { (pos, size) =>
          if (Bytes.tag(bytes, pos, "LIST"))
            size >= 4 && walk(pos + 12, pos + 8 + size,
              inMovi || Bytes.tag(bytes, pos + 8, "movi"), depth + 1)
          else if (Bytes.tag(bytes, pos, "strf")) size >= 40 && { onStrf(pos); true }
          else if (inMovi && size > 0 && bytes(pos + 2) == 'd'.toByte &&
              (bytes(pos + 3) == 'c'.toByte || db && bytes(pos + 3) == 'b'.toByte))
            onFrame(pos, size)
          else true
        }
    bytes.length >= 12 && Bytes.tag(bytes, 0, "RIFF") && Bytes.tag(bytes, 8, "AVI ") &&
      walk(12, bytes.length, inMovi = false, depth = 0)
  }

  /** Decode RIFF/AVI bytes to (width, height, frames of row-major
    * top-down 8-bit grayscale). Requires an uncompressed 8-bpp DIB
    * video stream (`strf`: biBitCount 16 = 8, biCompression = BI_RGB);
    * anything compressed, truncated, or non-AVI → None. Handles
    * nested LISTs, skips unknown chunks, honors odd-size padding, and
    * undoes DIB's bottom-up row order and 4-byte row stride.
    */
  def decodeDibAvi(bytes: Array[Byte]): Option[(Int, Int, Seq[Array[Int]])] = {
    var width = -1
    var height = -1
    var fmtOk = false
    val frames = Seq.newBuilder[Array[Int]]
    var nFrames = 0
    val ok = walkAvi(bytes, db = true) { pos =>
      width = Bytes.le32(bytes, pos + 12)
      height = Bytes.le32(bytes, pos + 16)
      fmtOk = Bytes.le16(bytes, pos + 22) == 8 && Bytes.le32(bytes, pos + 24) == 0 &&
        width > 0 && height > 0 && width.toLong * height <= MaxPixels
    } { (pos, size) =>
      // a frame chunk (NNdb/NNdc); format must be known by now
      val stride = (width + 3) & ~3
      fmtOk && size.toLong >= stride.toLong * height && {
        val pix = new Array[Int](width * height)
        var y = 0
        while (y < height) {
          val srcRow = height - 1 - y
          var x = 0
          while (x < width) { pix(y * width + x) = bytes(pos + 8 + srcRow * stride + x) & 0xff; x += 1 }
          y += 1
        }
        frames += pix
        nFrames += 1
        true
      }
    }
    if (!ok || !fmtOk || nFrames == 0) None else Some((width, height, frames.result()))
  }

  /** BITMAPINFOHEADER biCompression value for Microsoft RLE8. */
  val Rle8Compression: Int = 1 // BI_RLE8

  /** Encode frames as a REAL inter-frame AVI: Microsoft RLE8 (fourcc
    * 'mrle', biCompression = BI_RLE8 — the run-length codec Video for
    * Windows shipped alongside raw DIB). Frame 0 is encoded absolutely
    * as (count, index) runs; every later frame is a DELTA: pixels equal
    * to the previous frame are never emitted — the encoder skips them
    * with the `00 02 dx dy` delta escape and bare end-of-line escapes,
    * and the decoder's persistent canvas carries them forward. That
    * prior-frame dependency is what makes RLE8 a true INTER-FRAME
    * format (the property H.264's P-frames scale up), while staying
    * lossless — so, unlike perceptual codecs, the decode has an exact
    * arithmetic oracle (q188). Rows run bottom-up as in all DIBs.
    */
  def encodeRle8Avi(width: Int, height: Int, fps: Int,
                    frames: Seq[Array[Int]]): Array[Byte] = {
    require(fps > 0, s"fps must be positive, got $fps")
    require(frames.nonEmpty && frames.forall(_.length == width * height),
      s"every frame must be $width x $height")

    // encode one frame against the previous canvas (null ⇒ key frame:
    // every pixel is "changed"). Storage order is bottom-up: encoded
    // row r is top-down row height-1-r.
    def encodeFrame(pix: Array[Int], prev: Array[Int]): Array[Byte] = {
      val b = new ByteSink(width * height / 4 + 16)
      var r = 0
      while (r < height) {
        val rowOff = (height - 1 - r) * width // top-down index of storage row r
        var x = 0
        while (x < width) {
          if (prev != null && pix(rowOff + x) == prev(rowOff + x)) {
            // unchanged run → delta-skip (dx ≤ 255 per escape)
            var n = 0
            while (x + n < width && pix(rowOff + x + n) == prev(rowOff + x + n)) n += 1
            if (x + n >= width) {
              x = width // trailing unchanged pixels: bare EOL moves the position
            } else {
              var left = n
              while (left > 0) {
                val d = math.min(left, 255)
                b.write(0); b.write(2); b.write(d); b.write(0)
                left -= d
              }
              x += n
            }
          } else {
            // changed run of one repeated value (count ≤ 255 per packet)
            val v = pix(rowOff + x)
            var n = 0
            while (x + n < width && pix(rowOff + x + n) == v &&
              !(prev != null && pix(rowOff + x + n) == prev(rowOff + x + n))) n += 1
            var left = n
            while (left > 0) {
              val c = math.min(left, 255)
              b.write(c); b.write(v & 0xff)
              left -= c
            }
            x += n
          }
        }
        if (r < height - 1) { b.write(0); b.write(0) } // EOL
        r += 1
      }
      b.write(0); b.write(1) // end of bitmap
      b.toByteArray
    }

    val encoded = frames.zipWithIndex.map { case (f, i) =>
      encodeFrame(f, if (i == 0) null else frames(i - 1))
    }
    avi(width, height, fps, "mrle", 8, Rle8Compression, encoded.map(_.length).max,
      grayPalette = true, "00dc", encoded)
  }

  /** Decode an RLE8 AVI to (width, height, frames of row-major
    * top-down 8-bit grayscale). The canvas PERSISTS across frames —
    * pixels a delta frame skips (via `00 02 dx dy` delta escapes or
    * early end-of-line) keep their previous-frame values, which is the
    * inter-frame semantics of the format; the first frame must
    * therefore be self-contained (the encoder's key frame). Escapes:
    * `00 00` end-of-line, `00 01` end-of-bitmap, `00 02 dx dy`
    * positional delta, `00 n` (n ≥ 3) absolute mode (word-aligned),
    * anything else is a (count, index) run. Corrupt streams — runs
    * past the row end, positions past the top row, truncation —
    * fail the clip (None).
    */
  def decodeRle8Avi(bytes: Array[Byte]): Option[(Int, Int, Seq[Array[Int]])] = {
    var width = -1
    var height = -1
    var fmtOk = false
    var canvas: Array[Int] = null // storage order: bottom-up rows
    val frames = Seq.newBuilder[Array[Int]]
    var nFrames = 0

    // decode one frame chunk onto the persistent canvas; false = corrupt
    def decodeFrame(from: Int, until: Int): Boolean = {
      var pos = from
      var cx = 0
      var cr = 0 // storage row, bottom-up
      while (pos + 2 <= until) {
        val b0 = (bytes(pos) & 0xff); val b1 = (bytes(pos + 1) & 0xff); pos += 2
        if (b0 > 0) { // encoded run
          if (cr >= height || cx + b0 > width) return false
          var i = 0
          while (i < b0) { canvas(cr * width + cx + i) = b1; i += 1 }
          cx += b0
        } else b1 match {
          case 0 => cx = 0; cr += 1 // end of line
          case 1 => // end of bitmap
            val pix = new Array[Int](width * height)
            var y = 0
            while (y < height) {
              System.arraycopy(canvas, (height - 1 - y) * width, pix, y * width, width)
              y += 1
            }
            frames += pix
            nFrames += 1
            return true
          case 2 => // delta: skip dx right, dy up (bottom-up rows)
            if (pos + 2 > until) return false
            cx += (bytes(pos) & 0xff); cr += (bytes(pos + 1) & 0xff); pos += 2
            if (cx > width || cr > height) return false
          case n => // absolute mode: n literal indices, word-aligned
            val padded = (n + 1) & ~1
            if (pos + padded > until || cr >= height || cx + n > width) return false
            var i = 0
            while (i < n) { canvas(cr * width + cx + i) = (bytes(pos + i) & 0xff); i += 1 }
            cx += n
            pos += padded
        }
      }
      false // ran out of bytes before end-of-bitmap
    }

    val ok = walkAvi(bytes, db = false) { pos =>
      width = Bytes.le32(bytes, pos + 12)
      height = Bytes.le32(bytes, pos + 16)
      fmtOk = Bytes.le16(bytes, pos + 22) == 8 && Bytes.le32(bytes, pos + 24) == Rle8Compression &&
        width > 0 && height > 0 && width.toLong * height <= MaxPixels
      if (fmtOk) canvas = new Array[Int](width * height)
    } { (pos, size) => fmtOk && decodeFrame(pos + 8, pos + 8 + size) }
    if (!ok || !fmtOk || nFrames == 0) None else Some((width, height, frames.result()))
  }

  /** 'MJPG' as the little-endian BITMAPINFOHEADER biCompression value. */
  val MjpgFourcc: Int = 'M'.toInt | ('J'.toInt << 8) | ('P'.toInt << 16) | ('G'.toInt << 24)

  /** Encode frames as a REAL Motion-JPEG AVI: each frame is an actual
    * JPEG (JDK ImageIO encoder — DCT, quantization, Huffman), carried
    * in `00dc` chunks of a `movi` LIST with fourcc/biCompression
    * 'MJPG'. Unlike the DIB path this is a genuinely COMPRESSED video
    * format (intra-frame lossy, the hardware-capture format of the
    * MJPEG era) — so round-trips are near-exact, not byte-exact, and
    * oracles must stick to structure + wide-margin luma features
    * (q182). Fixture generator for the specs and q182.
    */
  def encodeMjpegAvi(width: Int, height: Int, fps: Int,
                     frames: Seq[Array[Int]]): Array[Byte] = {
    require(fps > 0, s"fps must be positive, got $fps")
    require(frames.nonEmpty && frames.forall(_.length == width * height),
      s"every frame must be $width x $height")
    val jpegFrames = frames.map { pix =>
      val img = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val r = img.getRaster
      var i = 0
      while (i < pix.length) { r.setSample(i % width, i / width, 0, pix(i) & 0xff); i += 1 }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    // planes, bits 24 (the MJPG convention), biCompression = 'MJPG'
    avi(width, height, fps, "MJPG", 24, MjpgFourcc, jpegFrames.map(_.length).max,
      grayPalette = false, "00dc", jpegFrames)
  }

  /** Decode a Motion-JPEG AVI to (width, height, frames of row-major
    * top-down 8-bit grayscale): the same nested-LIST walk discipline
    * as [[decodeDibAvi]], but `strf` must declare biCompression
    * 'MJPG' and every `00dc` payload is a complete JPEG decoded
    * through the shared ImageIO path
    * ([[MultimodalCodec.decodeGray]] — RGB collapses by integer ITU-R
    * 601 luma). A frame whose decoded dimensions disagree with the
    * stream header, or that isn't a decodable JPEG, fails the clip
    * (None), as does anything non-AVI/truncated.
    */
  def decodeMjpegAvi(bytes: Array[Byte]): Option[(Int, Int, Seq[Array[Int]])] = {
    var width = -1
    var height = -1
    var fmtOk = false
    val frames = Seq.newBuilder[Array[Int]]
    var nFrames = 0
    val ok = walkAvi(bytes, db = false) { pos =>
      width = Bytes.le32(bytes, pos + 12)
      height = Bytes.le32(bytes, pos + 16)
      fmtOk = Bytes.le32(bytes, pos + 24) == MjpgFourcc && width > 0 && height > 0 &&
        width.toLong * height <= MaxPixels
    } { (pos, size) =>
      fmtOk && {
        val payload = java.util.Arrays.copyOfRange(bytes, pos + 8, pos + 8 + size)
        MultimodalCodec.decodeGray(payload) match {
          case Some((w, h, pix)) if w == width && h == height =>
            frames += pix
            nFrames += 1
            true
          case _ => false
        }
      }
    }
    if (!ok || !fmtOk || nFrames == 0) None else Some((width, height, frames.result()))
  }

  /** Decode a payload column (DIB, RLE8, or Motion-JPEG AVI — one
    * parser pass tries each) to per-clip luma statistics: (idCol, decodable,
    * n_frames, width, height, bright_frames, motion_abs).
    * `bright_frames` counts frames whose pixel sum clears mean 128
    * (`Σp > 128·w·h` — integer-exact) and `motion_abs` is the exact
    * Σ|p_t − p_{t−1}| of the DECODED frames. For MJPEG clips the
    * decoded pixels carry bounded JPEG error, so downstream features
    * must keep wide margins (q182's fixtures are flat frames at luma
    * 30/220 — two orders of magnitude clear of every threshold).
    */
  def decodeVideoLumaStats(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "decodable", "n_frames", "width", "height",
      "bright_frames", "motion_abs") { (id, bytes) =>
      decodeDibAvi(bytes).orElse(decodeRle8Avi(bytes))
        .orElse(decodeMjpegAvi(bytes)) match {
        case Some((w, h, fs)) =>
          val npx = w.toLong * h
          var bright = 0L
          fs.foreach { f =>
            var s = 0L; var i = 0
            while (i < f.length) { s += f(i); i += 1 }
            if (s > 128L * npx) bright += 1
          }
          var motion = 0L
          var t = 1
          while (t < fs.length) {
            val a = fs(t - 1); val b = fs(t)
            var j = 0
            while (j < b.length) { motion += math.abs(b(j) - a(j)); j += 1 }
            t += 1
          }
          (id, true, fs.length.toLong, w, h, bright, motion)
        case None => (id, false, 0L, 0, 0, 0L, 0L)
      }
    }

  /** Decode a payload column to per-clip video features: (idCol,
    * decodable, n_frames, width, height, sum_first, motion_abs).
    * `sum_first` is the exact pixel sum of frame 0; `motion_abs` is
    * the exact Σ over consecutive frame pairs of Σ|p_t − p_{t−1}| —
    * the integer temporal-difference energy (0 ⇔ a static clip). One
    * parser pass per partition, map-only; undecodable payloads
    * surface as rows.
    */
  def decodeVideoFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "decodable", "n_frames", "width", "height",
      "sum_first", "motion_abs") { (id, bytes) =>
      decodeDibAvi(bytes).orElse(decodeRle8Avi(bytes)) match {
        case Some((w, h, fs)) =>
          var sumFirst = 0L
          val f0 = fs.head
          var i = 0
          while (i < f0.length) { sumFirst += f0(i); i += 1 }
          var motion = 0L
          var t = 1
          while (t < fs.length) {
            val a = fs(t - 1); val b = fs(t)
            var j = 0
            while (j < b.length) { motion += math.abs(b(j) - a(j)); j += 1 }
            t += 1
          }
          (id, true, fs.length.toLong, w, h, sumFirst, motion)
        case None => (id, false, 0L, 0, 0, 0L, 0L)
      }
    }
}
