package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.awt.image.BufferedImage
import javax.imageio.ImageIO

import org.apache.spark.sql.DataFrame

/** Real JDK-native image decode over opaque `binary` payload columns —
  * the codec step [[MultimodalStub]] stubs out, made real for the one
  * format the JDK ships a codec for (PNG via `javax.imageio`, zero new
  * dependencies). The Spark-side shape is the mapPartitions codec path:
  * binary in → typed features out, one decoder per partition, map-only,
  * no driver involvement — on a 100 TB media corpus each executor
  * decodes its own partition's payloads and nothing shuffles until the
  * (tiny) feature rows do.
  *
  * All pixel math downstream of the decode is integer-exact so an
  * external engine can replay it arithmetically (the q174/q175 oracles
  * do): nearest-neighbor resize picks source index `(dst·srcDim)/dstDim`
  * with integer floor-division, and the average-hash bit compare is
  * `p·64 > Σp` (no floating-point mean) — which also makes the hash
  * exactly invariant under uniform brightness shifts, the property the
  * near-dup grouping in q175 relies on.
  */
object MultimodalCodec {

  // PNG decode needs no display; pin headless so executor JVMs never
  // probe for X11 when AWT classes initialize
  System.setProperty("java.awt.headless", "true")

  // ImageIO's default stream cache is a TEMP FILE per read/write — for
  // a media corpus decoded as millions of small in-memory payloads
  // that is one disk round-trip per image. Cache in memory instead
  // (payloads are already byte arrays; nothing here streams from disk).
  javax.imageio.ImageIO.setUseCache(false)

  /** Encode an 8-bit grayscale pixel function as real PNG bytes
    * (ImageIO writer, color type 0 — lossless, so decode returns the
    * exact samples). Also the test-fixture generator: specs and the
    * q174/q175 fixtures synthesize deterministic pixel patterns and
    * round-trip them through the real codec.
    */
  def encodeGrayPng(width: Int, height: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { r.setSample(x, y, 0, pixel(x, y) & 0xff); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Pixel-count cap (16.7M px): a decompression-bomb image (a few-KB
    * file whose header declares enormous dimensions) makes
    * `ImageIO.read` attempt the full-canvas allocation — an
    * OutOfMemoryError, which is an Error, NOT caught by the exception
    * handler, and kills the executor (the TextCodec gzip-bomb cap's
    * missing sibling). Dimensions are read from the image HEADER
    * (ImageReader.getWidth/getHeight — no pixel decode) and checked
    * against this cap BEFORE any decode happens.
    */
  val MaxPixels: Long = 1L << 24

  /** Header-only dimension probe: (width, height) without decoding any
    * pixel data, or None if no registered reader recognizes the bytes.
    */
  def probeDims(bytes: Array[Byte]): Option[(Int, Int)] =
    try {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            Some((r.getWidth(0), r.getHeight(0)))
          } finally r.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => None }

  /** Decode image bytes (any ImageIO-registered format — PNG, GIF, BMP
    * in a stock JDK) to (width, height, row-major 8-bit grayscale).
    * Single-band images return their raw samples; multi-band collapse
    * by integer ITU-R 601 luma `(77R + 150G + 29B) >> 8` so the result
    * is deterministic across platforms. Undecodable bytes → None, and
    * so do bomb headers whose declared `w·h` exceeds `maxPixels`
    * (checked BEFORE decode — see [[MaxPixels]]'s scaladoc). The cap is
    * a parameter (default [[MaxPixels]], the ZstdOps.maxContentBytes
    * pattern) so corpora with legitimately large images — a 5000×4000
    * photo is 20M px, over the default — can raise it deliberately
    * instead of silently losing rows; use [[probeDims]] to distinguish
    * "rejected by cap" (dims probe fine, product over cap) from
    * "undecodable" (no reader recognizes the bytes).
    */
  def decodeGray(bytes: Array[Byte],
                 maxPixels: Long = MaxPixels): Option[(Int, Int, Array[Int])] =
    decodeGrayResult(bytes, maxPixels) match {
      case Decoded(w, h, pix) => Some((w, h, pix))
      case _                  => None
    }

  /** Decode outcome with the rejection REASON carried — a cap-rejected
    * 20M-px photo (header parsed fine, product over `maxPixels`) is a
    * different corpus fact than bytes no reader recognizes, and a
    * triage census that conflates them undercounts the real images.
    */
  sealed trait DecodeResult
  /** Decoded pixels (see [[decodeGray]] for the grayscale collapse). */
  final case class Decoded(w: Int, h: Int, pix: Array[Int]) extends DecodeResult
  /** Header dims parsed fine but `w·h` exceeds the cap — the PROBED
    * dimensions are carried so the census can report what was skipped.
    */
  final case class CapRejected(w: Int, h: Int) extends DecodeResult
  /** No registered reader recognizes the bytes (or the decode threw). */
  case object Undecodable extends DecodeResult

  /** [[decodeGray]] with the outcome reason surfaced (same single
    * reader setup: header dims first, pixel decode only if the cap
    * passes).
    */
  def decodeGrayResult(bytes: Array[Byte],
                       maxPixels: Long = MaxPixels): DecodeResult = {
    var capped: DecodeResult = Undecodable
    val img: java.awt.image.BufferedImage =
      try {
        val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
        try {
          val readers = ImageIO.getImageReaders(iis)
          if (!readers.hasNext) null
          else {
            val r = readers.next()
            try {
              r.setInput(iis)
              val w = r.getWidth(0)
              val h = r.getHeight(0)
              if (w <= 0 || h <= 0) null
              else if (w.toLong * h > maxPixels) { capped = CapRejected(w, h); null }
              else r.read(0)
            } finally r.dispose()
          }
        } finally iis.close()
      } catch { case _: Exception => null }
    if (img == null) capped
    else {
      val w = img.getWidth
      val h = img.getHeight
      val out = new Array[Int](w * h)
      val raster = img.getRaster
      if (raster.getNumBands == 1) {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { out(y * w + x) = raster.getSample(x, y, 0); x += 1 }
          y += 1
        }
      } else {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            out(y * w + x) =
              (77 * ((rgb >> 16) & 0xff) + 150 * ((rgb >> 8) & 0xff) + 29 * (rgb & 0xff)) >> 8
            x += 1
          }
          y += 1
        }
      }
      Decoded(w, h, out)
    }
  }

  /** Nearest-neighbor resize of a row-major pixel array: output (x,y)
    * samples source `((y·h)/oh)·w + (x·w)/ow` — integer floor division,
    * replayed verbatim by the DuckDB oracles.
    */
  def resizeNearest(w: Int, h: Int, pix: Array[Int], ow: Int, oh: Int): Array[Int] = {
    val out = new Array[Int](ow * oh)
    var y = 0
    while (y < oh) {
      val sy = y * h / oh
      var x = 0
      while (x < ow) { out(y * ow + x) = pix(sy * w + x * w / ow); x += 1 }
      y += 1
    }
    out
  }

  /** 8×8 average hash (aHash): nearest-neighbor downsample to 8×8, then
    * bit i (MSB-first, row-major pixel order) is set iff that pixel is
    * strictly above the 64-pixel mean — compared in integers as
    * `p·64 > Σp`, so the hash is exact and invariant under uniform
    * brightness shifts (p+s vs mean+s cancels). Hamming-close hashes ⇒
    * perceptually similar images; equal hashes are the near-dup buckets
    * q175 groups on.
    */
  def aHash64(w: Int, h: Int, pix: Array[Int]): Long = {
    val g = resizeNearest(w, h, pix, 8, 8)
    var total = 0L
    var i = 0
    while (i < 64) { total += g(i); i += 1 }
    var hash = 0L
    i = 0
    while (i < 64) {
      if (g(i).toLong * 64 > total) hash |= 1L << (63 - i)
      i += 1
    }
    hash
  }

  /** Decode a payload column to image features: (idCol, decodable,
    * status, width, height, sum_gray, ahash_hex). `sum_gray` (the exact
    * integer pixel sum) stands in for mean brightness without any float
    * math; `ahash_hex` is [[aHash64]] as 16 lowercase hex chars
    * (MSB-first — `%016x` two's-complement formatting matches the
    * oracle's nibble construction). One iterator pass per partition —
    * the codec-context shape — with failed payloads surfaced as rows,
    * not exceptions, and the failure REASON carried in `status`:
    * `ok` / `cap_rejected` (header dims parsed, `w·h` over `maxPixels`;
    * the probed width/height are reported so the census can say what
    * was skipped) / `undecodable` (no reader recognizes the bytes).
    */
  def decodeImageFeatures(df: DataFrame, idCol: String, payloadCol: String,
                          maxPixels: Long = MaxPixels): DataFrame =
    Payloads.census(df, idCol, payloadCol, "decodable", "status", "width", "height",
      "sum_gray", "ahash_hex") { (id, bytes) =>
      decodeGrayResult(bytes, maxPixels) match {
        case Decoded(w, h, pix) =>
          var total = 0L
          var i = 0
          while (i < pix.length) { total += pix(i); i += 1 }
          (id, true, "ok", w, h, total, f"${aHash64(w, h, pix)}%016x")
        case CapRejected(w, h) =>
          (id, false, "cap_rejected", w, h, 0L, null: String)
        case Undecodable =>
          (id, false, "undecodable", 0, 0, 0L, null: String)
      }
    }

  /** Decode + nearest-neighbor thumbnail: (idCol, width, height,
    * thumb_hex) where thumb_hex is the ow×oh resized grayscale pixels
    * as 2-hex-chars each, row-major — the pixel-true replacement for
    * [[MultimodalStub.resizeStub]]'s byte striding. Undecodable
    * payloads yield a null thumb.
    */
  def thumbnail(df: DataFrame, idCol: String, payloadCol: String,
                ow: Int, oh: Int): DataFrame =
    Payloads.census(df, idCol, payloadCol, "width", "height",
      "thumb_hex") { (id, bytes) =>
      decodeGray(bytes) match {
        case Some((w, h, pix)) =>
          val t = resizeNearest(w, h, pix, ow, oh)
          (id, w, h, t.map(p => f"$p%02x").mkString)
        case None => (id, 0, 0, null: String)
      }
    }
}
