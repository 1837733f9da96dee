package graft.operators

import org.apache.spark.sql.DataFrame

/** WebP container census — the dominant modern web-image format
  * (Google WebP container spec / RFC 9649), closing the image-triage
  * gap next to PNG/JPEG/BMP/GIF decode (MultimodalCodec) and the
  * RIFF/AVI walk (VideoCodec): a crawl corpus today is full of .webp
  * that a fleet must classify (lossy/lossless/extended, dims, alpha,
  * animation) long before any bitstream decode.
  *
  * The structural layer is entirely closed-form — no arithmetic
  * (VP8) or LZ77/Huffman (VP8L) decoding needed:
  *
  *   RIFF header: "RIFF" · u32le riffSize · "WEBP", then even-padded
  *   chunks `fourcc · u32le size · payload [· pad]`.
  *
  *   - "VP8 " (lossy): 3-byte LE frame tag (bit0 keyframe=0, bits1–3
  *     version, bit4 show, bits5–23 first-partition size), key frames
  *     then carry the 0x9D012A start code and 14-bit width/height
  *     (each u16le, low 14 bits; top 2 bits are the scaling hint).
  *   - "VP8L" (lossless): 0x2F signature byte, then a 32-bit LE field:
  *     width−1 (14 bits) · height−1 (14 bits) · alpha-used (1) ·
  *     version (3, must be 0).
  *   - "VP8X" (extended): 10-byte payload — flags byte (ICC 0x20,
  *     Alpha 0x10, EXIF 0x08, XMP 0x04, Animation 0x02), 24 reserved
  *     bits, canvas width−1 and height−1 as 24-bit LE; followed by
  *     ICCP/ANIM/ANMF/ALPH/EXIF/"XMP " sibling chunks. Each ANMF
  *     frame header is 16 closed-form bytes (x, y, w−1, h−1 as
  *     24-bit, duration ms as 24-bit, flags).
  *
  * Stop-don't-guess contract (house rules): the RIFF size field is
  * authoritative — bytes past `8 + riffSize` are `trailingBytes`,
  * never parsed; a declared size that overruns the buffer (checked in
  * overflow-proof subtraction form, all Long) stops the walk at the
  * offending chunk's start; a truncated container (buffer shorter
  * than the declared RIFF extent) or a first chunk that is not
  * VP8 /VP8L/VP8X is `valid = 0` with whatever chunks did walk
  * counted. VP8/VP8L/ANMF payloads beyond their closed-form headers
  * are entropy-coded bitstreams — counted, never decoded (the
  * MultimodalStub boundary).
  */
object WebpOps {

  final case class WebpMeta(
      valid: Int,          // 1 iff structure + kind-specific header both parse
      kind: String,        // lossy | lossless | extended | other
      width: Long,         // canvas/frame width (0 when unreadable)
      height: Long,
      hasAlpha: Int,       // VP8L alpha bit / VP8X Alpha flag (lossy still: 0)
      hasAnim: Int,        // VP8X Animation flag
      nFrames: Int,        // ANMF count when animated; 1 for a parsed still
      durationMs: Long,    // Σ ANMF durations (ms)
      hasExif: Int,        // VP8X EXIF flag
      hasIcc: Int,         // VP8X ICC flag
      hasXmp: Int,         // VP8X XMP flag
      nChunks: Int,        // top-level chunks fully walked
      lossyPartBytes: Long, // VP8 first-partition size from the frame tag
      trailingBytes: Long)

  private def invalid(n: Long, kind: String = "other", nChunks: Int = 0): WebpMeta =
    WebpMeta(0, kind, 0L, 0L, 0, 0, 0, 0L, 0, 0, 0, nChunks, 0L, n)

  private def fourcc(b: Array[Byte], p: Int): String =
    new String(Array(b(p), b(p + 1), b(p + 2), b(p + 3)), "US-ASCII")

  def parse(bytes: Array[Byte]): WebpMeta = {
    val n = bytes.length
    if (n < 12 || fourcc(bytes, 0) != "RIFF" || fourcc(bytes, 8) != "WEBP")
      return invalid(n)
    val riffSize = Bytes.le32u(bytes, 4)
    // declared extent of the RIFF payload (counted from offset 8);
    // subtraction form: riffSize > n - 8 means the container is cut
    val truncated = riffSize > n.toLong - 8
    val end = if (truncated) n.toLong else 8L + riffSize
    var pos = 12L
    var nChunks = 0
    var kind = "other"
    var width = 0L; var height = 0L
    var hasAlpha = 0; var hasAnim = 0; var hasExif = 0; var hasIcc = 0; var hasXmp = 0
    var nFrames = 0; var durationMs = 0L; var partBytes = 0L
    var semanticsOk = false
    var walkOk = true

    while (walkOk && pos + 8 <= end) {
      val cc = fourcc(bytes, pos.toInt)
      val size = Bytes.le32u(bytes, pos.toInt + 4)
      // chunk body must fit the declared RIFF extent (subtraction form)
      if (size > end - pos - 8) { walkOk = false }
      else {
        val body = pos + 8
        if (nChunks == 0) {
          // first chunk fixes the container kind
          cc match {
            case "VP8 " =>
              kind = "lossy"
              if (size >= 10) {
                val tag = Bytes.le24(bytes, body.toInt).toLong
                val keyFrame = (tag & 1L) == 0L
                partBytes = tag >> 5
                val sc = body.toInt + 3
                if (keyFrame && (bytes(sc) & 0xff) == 0x9D &&
                    (bytes(sc + 1) & 0xff) == 0x01 && (bytes(sc + 2) & 0xff) == 0x2A) {
                  width = (Bytes.le16(bytes, sc + 3) & 0x3FFF).toLong
                  height = (Bytes.le16(bytes, sc + 5) & 0x3FFF).toLong
                  nFrames = 1
                  semanticsOk = true
                }
              }
            case "VP8L" =>
              kind = "lossless"
              if (size >= 5 && (bytes(body.toInt) & 0xff) == 0x2F) {
                val bits = Bytes.le32u(bytes, body.toInt + 1)
                val version = (bits >> 29) & 7L
                if (version == 0L) {
                  width = (bits & 0x3FFF) + 1
                  height = ((bits >> 14) & 0x3FFF) + 1
                  hasAlpha = ((bits >> 28) & 1L).toInt
                  nFrames = 1
                  semanticsOk = true
                }
              }
            case "VP8X" =>
              kind = "extended"
              if (size == 10) {
                val flags = bytes(body.toInt) & 0xff
                hasIcc = (flags >> 5) & 1
                hasAlpha = (flags >> 4) & 1
                hasExif = (flags >> 3) & 1
                hasXmp = (flags >> 2) & 1
                hasAnim = (flags >> 1) & 1
                width = Bytes.le24(bytes, body.toInt + 4).toLong + 1
                height = Bytes.le24(bytes, body.toInt + 7).toLong + 1
                semanticsOk = true
              }
            case _ => // unknown first chunk: kind stays "other"
          }
        } else if (cc == "ANMF" && size >= 16) {
          nFrames += 1
          durationMs += Bytes.le24(bytes, body.toInt + 12).toLong
        } else if ((cc == "VP8 " || cc == "VP8L") && kind == "extended" &&
            hasAnim == 0 && nFrames == 0) {
          // non-animated extended WebP (VP8X + optional ALPH + one image
          // chunk — the common alpha-still class): one frame, per the
          // documented contract
          nFrames = 1
        }
        nChunks += 1
        pos = body + size + (size & 1) // RIFF word alignment
      }
    }

    val structureOk = !truncated && walkOk && pos == end
    WebpMeta(
      valid = if (structureOk && semanticsOk) 1 else 0,
      kind = kind,
      width = width, height = height,
      hasAlpha = hasAlpha, hasAnim = hasAnim,
      nFrames = nFrames, durationMs = durationMs,
      hasExif = hasExif, hasIcc = hasIcc, hasXmp = hasXmp,
      nChunks = nChunks, lossyPartBytes = partBytes,
      trailingBytes = n - math.min(pos, n.toLong))
  }

  // ------------------------------------------------------------------
  // synthetic encoders (tests + the q374 oracle's closed-form replay)

  private def chunk(cc: String, body: Array[Byte]): Array[Byte] =
    new ByteSink(9 + body.length).riffChunk(cc, body).toByteArray
  private def container(chunks: Array[Byte]): Array[Byte] =
    chunk("RIFF", new ByteSink(4 + chunks.length).ascii("WEBP").raw(chunks).toByteArray)

  /** Lossy VP8 key-frame payload: tag (partition size), start code,
    * 14-bit dims, `filler` opaque partition bytes.
    */
  def vp8Payload(w: Int, h: Int, partSize: Long, filler: Int): Array[Byte] = {
    require(w >= 1 && w <= 0x3FFF && h >= 1 && h <= 0x3FFF, "dims are 14-bit")
    require(partSize >= 0 && partSize <= 0x7FFFF, "partition size is 19-bit")
    val tag = (partSize << 5) | (1L << 4) // keyframe (bit0=0), show_frame
    new ByteSink(10 + filler).le24(tag.toInt).u8(0x9D).u8(0x01).u8(0x2A)
      .le16(w & 0x3fff).le16(h & 0x3fff)
      .raw(Array.tabulate(filler)(i => ((i * 31 + 7) & 0xff).toByte)).toByteArray
  }

  /** Lossless VP8L payload: signature, packed dims/alpha/version bits,
    * `filler` opaque bitstream bytes.
    */
  def vp8lPayload(w: Int, h: Int, alpha: Boolean, filler: Int): Array[Byte] = {
    require(w >= 1 && w <= 0x4000 && h >= 1 && h <= 0x4000, "dims−1 are 14-bit")
    val bits = (w - 1).toLong | ((h - 1).toLong << 14) |
      (if (alpha) 1L << 28 else 0L)
    new ByteSink(5 + filler).u8(0x2F).le32(bits)
      .raw(Array.tabulate(filler)(i => ((i * 17 + 3) & 0xff).toByte)).toByteArray
  }

  def encodeLossy(w: Int, h: Int, partSize: Long, filler: Int): Array[Byte] =
    container(chunk("VP8 ", vp8Payload(w, h, partSize, filler)))

  def encodeLossless(w: Int, h: Int, alpha: Boolean, filler: Int): Array[Byte] =
    container(chunk("VP8L", vp8lPayload(w, h, alpha, filler)))

  /** Extended (VP8X) animation: `frames` (durationMs, filler) ANMF
    * entries each wrapping a VP8L sub-bitstream, with metadata chunks
    * emitted to MATCH the flags (8-byte dummy payloads).
    */
  def encodeExtendedAnim(w: Int, h: Int, alpha: Boolean,
      exif: Boolean, icc: Boolean, xmp: Boolean,
      frames: Seq[(Long, Int)]): Array[Byte] = {
    require(w >= 1 && w <= (1 << 24) && h >= 1 && h <= (1 << 24), "canvas dims are 24-bit")
    val flags = ((if (icc) 0x20 else 0) | (if (alpha) 0x10 else 0) |
      (if (exif) 0x08 else 0) | (if (xmp) 0x04 else 0) | 0x02).toByte
    val vp8x = new ByteSink(10).u8(flags).u8(0).u8(0).u8(0).le24(w - 1).le24(h - 1).toByteArray
    val meta8 = Array.tabulate(8)(i => (i * 11 + 5).toByte)
    val anim = new ByteSink(6).le32(0xFFFFFFFFL).le16(0).toByteArray // bg color, loop=0
    val anmfs = frames.map { case (dur, filler) =>
      val hdr = new ByteSink(16).le24(0).le24(0).le24(w - 1).le24(h - 1)
        .le24(dur.toInt).u8(0).toByteArray
      chunk("ANMF", hdr ++ chunk("VP8L", vp8lPayload(w, h, alpha, filler)))
    }
    container(
      chunk("VP8X", vp8x) ++
        (if (icc) chunk("ICCP", meta8) else Array.empty[Byte]) ++
        chunk("ANIM", anim) ++ anmfs.flatten.toArray ++
        (if (exif) chunk("EXIF", meta8) else Array.empty[Byte]) ++
        (if (xmp) chunk("XMP ", meta8) else Array.empty[Byte]))
  }

  def webpFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid", "kind", "width", "height",
      "has_alpha", "has_anim", "n_frames", "duration_ms", "has_exif", "has_icc",
      "has_xmp", "n_chunks", "lossy_part_bytes", "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.valid.toLong, m.kind, m.width, m.height, m.hasAlpha.toLong,
        m.hasAnim.toLong, m.nFrames.toLong, m.durationMs, m.hasExif.toLong,
        m.hasIcc.toLong, m.hasXmp.toLong, m.nChunks.toLong,
        m.lossyPartBytes, m.trailingBytes)
    }
}
