package graft.operators

import org.apache.spark.sql.DataFrame

/** LZ4 frame census + raw-block decode — the fourth ubiquitous member
  * of the compression-container family (gzip q194, zstd q366/q368,
  * snappy q382/q387): Kafka topics, Hadoop shuffle spills, and .lz4
  * shard exchange all ship it. Like snappy — and unlike zstd's
  * FSE/Huffman interior — a raw LZ4 block is token + literal/match LZ
  * with NO entropy coding (lz4_Block_format.md), so blocks are DECODED
  * and the frame's checksums verified against decoded bytes rather
  * than trusted.
  *
  * Frame layout (lz4_Frame_format.md): magic 0x184D2204 LE; FLG byte
  * (version bits must be 01, flags: B.Indep, B.Checksum, C.Size,
  * C.Checksum, DictID) + BD byte (block-max-size code 4–7) + optional
  * 8-byte content size + optional 4-byte dict id + HC byte = byte 1 of
  * XXH32(descriptor); then data blocks — 4-byte LE size with the HIGH
  * BIT marking stored-uncompressed, each optionally followed by a
  * 4-byte XXH32 block checksum (of the STORED bytes) — to the 0x0
  * EndMark, then an optional XXH32 content checksum of the DECODED
  * stream. XXH32 is implemented here from the published algorithm
  * (the frame format pins it; Spark's kernel is the 64-bit variant).
  *
  * Stop-don't-guess: wrong magic/version rejects the file whole; a
  * declared block size over the descriptor's block-max-size or
  * overrunning the buffer halts at that block with the walked prefix
  * kept; a failed header checksum rejects (one bad byte would desync
  * every flag-dependent offset after it); failed BLOCK checksums and
  * failed block DECODES are counted, never halts — the 4-byte length
  * framing stays authoritative (q368/q387 discipline).
  */
object Lz4Ops {

  // ------------------------------------------------------------------
  // XXH32 (Yann Collet's published algorithm; the frame format's
  // checksum primitive — 32-bit, distinct from Spark's xxhash64)

  private val P1 = 0x9E3779B1
  private val P2 = 0x85EBCA77
  private val P3 = 0xC2B2AE3D
  private val P4 = 0x27D4EB2F
  private val P5 = 0x165667B1

  def xxh32(bytes: Array[Byte], off: Int, len: Int, seed: Int = 0): Int = {
    var p = off
    val end = off + len
    var h =
      if (len >= 16) {
        var v1 = seed + P1 + P2
        var v2 = seed + P2
        var v3 = seed
        var v4 = seed - P1
        val limit = end - 16
        while (p <= limit) {
          v1 = Integer.rotateLeft(v1 + Bytes.le32(bytes, p) * P2, 13) * P1
          v2 = Integer.rotateLeft(v2 + Bytes.le32(bytes, p + 4) * P2, 13) * P1
          v3 = Integer.rotateLeft(v3 + Bytes.le32(bytes, p + 8) * P2, 13) * P1
          v4 = Integer.rotateLeft(v4 + Bytes.le32(bytes, p + 12) * P2, 13) * P1
          p += 16
        }
        Integer.rotateLeft(v1, 1) + Integer.rotateLeft(v2, 7) +
          Integer.rotateLeft(v3, 12) + Integer.rotateLeft(v4, 18)
      } else seed + P5
    h += len
    while (p + 4 <= end) { h = Integer.rotateLeft(h + Bytes.le32(bytes, p) * P3, 17) * P4; p += 4 }
    while (p < end) { h = Integer.rotateLeft(h + (bytes(p) & 0xff) * P5, 11) * P1; p += 1 }
    h ^= h >>> 15; h *= P2; h ^= h >>> 13; h *= P3; h ^= h >>> 16
    h
  }

  /** Incremental XXH32 — same algorithm fed block-by-block, so the
    * frame walk can checksum the DECODED stream without materializing
    * it (LZ4's ~255x max ratio would otherwise let a small payload
    * force a proportionally huge buffer; the per-block 4MB bound is
    * the only memory the walk now holds). Spec-pinned equal to the
    * one-shot [[xxh32]] across arbitrary split points.
    */
  final class Xxh32Stream(seed: Int = 0) {
    private var v1 = seed + P1 + P2
    private var v2 = seed + P2
    private var v3 = seed
    private var v4 = seed - P1
    private val mem = new Array[Byte](16)
    private var memSize = 0
    private var totalLen = 0L
    private def stripe(b: Array[Byte], p: Int): Unit = {
      v1 = Integer.rotateLeft(v1 + Bytes.le32(b, p) * P2, 13) * P1
      v2 = Integer.rotateLeft(v2 + Bytes.le32(b, p + 4) * P2, 13) * P1
      v3 = Integer.rotateLeft(v3 + Bytes.le32(b, p + 8) * P2, 13) * P1
      v4 = Integer.rotateLeft(v4 + Bytes.le32(b, p + 12) * P2, 13) * P1
    }
    def update(b: Array[Byte], off: Int, len: Int): Unit = {
      totalLen += len
      var p = off
      val end = off + len
      if (memSize > 0) {
        val take = math.min(16 - memSize, len)
        System.arraycopy(b, p, mem, memSize, take)
        memSize += take; p += take
        if (memSize == 16) { stripe(mem, 0); memSize = 0 }
      }
      val limit = end - 16
      while (p <= limit) { stripe(b, p); p += 16 }
      if (p < end) {
        System.arraycopy(b, p, mem, 0, end - p)
        memSize = end - p
      }
    }
    def digest(): Int = {
      var h =
        if (totalLen >= 16)
          Integer.rotateLeft(v1, 1) + Integer.rotateLeft(v2, 7) +
            Integer.rotateLeft(v3, 12) + Integer.rotateLeft(v4, 18)
        else v3 + P5 // v3 still holds the seed: no stripe ever ran
      h += totalLen.toInt
      var p = 0
      while (p + 4 <= memSize) {
        h = Integer.rotateLeft(h + Bytes.le32(mem, p) * P3, 17) * P4; p += 4
      }
      while (p < memSize) {
        h = Integer.rotateLeft(h + (mem(p) & 0xff) * P5, 11) * P1; p += 1
      }
      h ^= h >>> 15; h *= P2; h ^= h >>> 13; h *= P3; h ^= h >>> 16
      h
    }
  }

  // ------------------------------------------------------------------
  // raw block decode (lz4_Block_format.md): sequences of
  // token(litLen hi-nibble, matchLen-4 lo-nibble; 15 => 255-run
  // extension bytes) · literals · 2-byte LE offset · match.
  // The LAST sequence is literals-only (no offset follows them).

  /** Decode outcome: ok = 1 iff the sequence walk consumed EXACTLY the
    * input and stayed within `maxOut`; `out` is null unless ok.
    */
  final case class BlockResult(ok: Int, decoded: Long,
                               nSequences: Int, out: Array[Byte])

  private def blockFail(decoded: Long, nSeq: Int) =
    BlockResult(0, decoded, nSeq, null)

  /** `hist` is the previous decoded window (linked-block frames,
    * B.Indep = 0): matches may legally reference up to 64KB of it
    * across the block boundary. Empty for independent blocks.
    */
  def decodeBlock(bytes: Array[Byte], off: Int, end: Int,
                  maxOut: Int,
                  hist: Array[Byte] = Array.emptyByteArray): BlockResult = {
    var buf = new Array[Byte](math.min(maxOut, 1 << 16))
    var o = 0
    def ensure(n: Int): Boolean = {
      if (o + n > maxOut) false
      else {
        if (o + n > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.min(maxOut,
            math.max(buf.length * 2, o + n)))
        true
      }
    }
    var p = off
    var nSeq = 0
    if (p == end) return BlockResult(1, 0L, 0, new Array[Byte](0)) // empty block
    while (p < end) {
      val token = bytes(p) & 0xff
      p += 1
      nSeq += 1
      // literal length with 255-run extension
      var litLen = token >> 4
      if (litLen == 15) {
        var b = 255
        while (b == 255) {
          if (p >= end) return blockFail(o, nSeq)
          b = bytes(p) & 0xff; p += 1
          litLen += b
          if (litLen > maxOut) return blockFail(o, nSeq) // length bomb
        }
      }
      if (litLen > end - p || !ensure(litLen)) return blockFail(o, nSeq)
      System.arraycopy(bytes, p, buf, o, litLen)
      p += litLen; o += litLen
      if (p == end) {
        // last sequence: literals only — legal termination, and
        // stop-don't-guess demands the canonical zero match nibble
        // (a nonzero nibble with no offset bytes is a truncated match)
        if ((token & 0xf) != 0) return blockFail(o, nSeq)
        return BlockResult(1, o, nSeq, java.util.Arrays.copyOf(buf, o))
      }
      if (p + 2 > end) return blockFail(o, nSeq)
      val offset = Bytes.le16(bytes, p)
      p += 2
      if (offset == 0 || offset > o + hist.length) return blockFail(o, nSeq)
      var matchLen = (token & 0xf) + 4
      if ((token & 0xf) == 15) {
        var b = 255
        while (b == 255) {
          if (p >= end) return blockFail(o, nSeq)
          b = bytes(p) & 0xff; p += 1
          matchLen += b
          if (matchLen > maxOut) return blockFail(o, nSeq)
        }
      }
      if (!ensure(matchLen)) return blockFail(o, nSeq)
      // byte-at-a-time: overlap (offset < matchLen) is the RLE idiom;
      // negative source positions read from the linked-block history
      // window (a match may start in `hist` and run into this block —
      // the sequential write order keeps the overlap semantics exact)
      val src = o - offset
      var i = 0
      while (i < matchLen) {
        val s = src + i
        buf(o + i) = if (s >= 0) buf(s) else hist(hist.length + s)
        i += 1
      }
      o += matchLen
    }
    // input exhausted right after a match: the spec ends on literals,
    // but an empty final literal run is tolerated by real decoders —
    // we require the stricter form (stop-don't-guess)
    blockFail(o, nSeq)
  }

  // ------------------------------------------------------------------
  // frame walk

  final case class Lz4Meta(
      valid: Int,           // magic + version + descriptor checksum OK,
                            // blocks walked to the EndMark
      blockIndep: Int,
      hasBlockChecksum: Int,
      hasContentSize: Int,
      hasContentChecksum: Int,
      blockMaxSize: Long,   // decoded from the BD code (64KB..4MB)
      declaredContentSize: Long, // -1 when absent
      nCompressed: Int,
      nStored: Int,         // high-bit blocks (stored uncompressed)
      storedBytes: Long,    // payload bytes across all blocks
      decodedBytes: Long,   // decoded content mass (stored pass through)
      nDecodeFailed: Int,
      blockCrcOk: Int,
      blockCrcBad: Int,
      contentCrcOk: Int,    // 1/0; -1 when absent or undecodable
      contentSizeMatch: Int, // 1/0; -1 when no declared size
      trailingBytes: Long)

  private val Invalid = Lz4Meta(0, 0, 0, 0, 0, 0L, -1L, 0, 0, 0L, 0L, 0,
    0, 0, -1, -1, 0L)
  private val BlockMax = Map(4 -> 65536L, 5 -> 262144L, 6 -> 1048576L,
    7 -> 4194304L)

  def parse(bytes: Array[Byte]): Lz4Meta = {
    val n = bytes.length
    if (n < 7 || Bytes.le32u(bytes, 0) != 0x184D2204L) return Invalid.copy(trailingBytes = n.toLong)
    val flg = bytes(4) & 0xff
    if ((flg >> 6) != 1) return Invalid.copy(trailingBytes = n.toLong) // version
    val bIndep = (flg >> 5) & 1
    val bChecksum = (flg >> 4) & 1
    val cSize = (flg >> 3) & 1
    val cChecksum = (flg >> 2) & 1
    val dictId = flg & 1
    val bd = bytes(5) & 0xff
    val bmCode = (bd >> 4) & 0x7
    val blockMax = BlockMax.getOrElse(bmCode, return Invalid.copy(trailingBytes = n.toLong))
    var pos = 6
    var contentSize = -1L
    if (cSize == 1) {
      if (n - pos < 8) return Invalid.copy(trailingBytes = n.toLong)
      contentSize = Bytes.le64(bytes, pos)
      if (contentSize < 0) return Invalid.copy(trailingBytes = n.toLong)
      pos += 8
    }
    if (dictId == 1) {
      if (n - pos < 4) return Invalid.copy(trailingBytes = n.toLong)
      pos += 4
    }
    if (n - pos < 1) return Invalid.copy(trailingBytes = n.toLong)
    // HC = byte 1 of XXH32 over the descriptor (FLG..dictID inclusive)
    val hc = bytes(pos) & 0xff
    if (hc != ((xxh32(bytes, 4, pos - 4) >> 8) & 0xff))
      return Invalid.copy(trailingBytes = n.toLong)
    pos += 1
    var nComp = 0; var nStored = 0
    var storedBytes = 0L; var decodedBytes = 0L
    var nFail = 0; var crcOk = 0; var crcBad = 0
    var halted = false; var sawEnd = false
    // decoded-stream checksum fed incrementally — never a materialized
    // copy (LZ4's ~255x ratio would let a small payload force a huge
    // buffer); when the frame carries no content checksum the decoded
    // bytes are not retained at all
    val contentHash = if (cChecksum == 1) new Xxh32Stream(0) else null
    var contentTracked = true // false once any block fails to decode
    // linked-block frames (B.Indep = 0, the lz4 CLI default): matches
    // legally reference the previous 64KB of the DECODED stream across
    // block boundaries, so a rolling window rides along. The first
    // failed decode breaks the window — later blocks' matches could
    // reference bytes we failed to produce, so their decodes are
    // SKIPPED (framing stays authoritative), never counted as spurious
    // failures
    val linked = bIndep == 0
    var hist = Array.emptyByteArray
    var histBroken = false
    def pushHist(b: Array[Byte], boff: Int, len: Int): Unit = if (linked) {
      val keep = 65536
      if (len >= keep)
        hist = java.util.Arrays.copyOfRange(b, boff + len - keep, boff + len)
      else if (len > 0) {
        val tot = math.min(keep, hist.length + len)
        val nh = new Array[Byte](tot)
        val fromHist = tot - len
        System.arraycopy(hist, hist.length - fromHist, nh, 0, fromHist)
        System.arraycopy(b, boff, nh, fromHist, len)
        hist = nh
      }
    }
    while (!halted && !sawEnd) {
      if (n - pos < 4) { halted = true }
      else {
        val raw = Bytes.le32u(bytes, pos)
        pos += 4
        if (raw == 0L) sawEnd = true
        else {
          val stored = (raw & 0x80000000L) != 0
          val size = raw & 0x7FFFFFFFL
          // attacker-controlled 31-bit size: bound by BOTH the buffer
          // (subtraction form) and the descriptor's declared block max
          if (size > n.toLong - pos || size > blockMax) { pos -= 4; halted = true }
          else {
            val start = pos
            pos += size.toInt
            if (stored) {
              nStored += 1; storedBytes += size
              decodedBytes += size
              if (contentTracked && contentHash != null)
                contentHash.update(bytes, start, size.toInt)
              if (!histBroken) pushHist(bytes, start, size.toInt)
            } else {
              nComp += 1; storedBytes += size
              if (linked && histBroken) {
                // undecodable by construction (window lost), not a
                // format error: skip, don't stamp a spurious failure
                contentTracked = false
              } else {
                val r = decodeBlock(bytes, start, start + size.toInt,
                  blockMax.toInt, if (linked) hist else Array.emptyByteArray)
                if (r.ok == 1) {
                  decodedBytes += r.decoded
                  if (contentTracked && contentHash != null)
                    contentHash.update(r.out, 0, r.out.length)
                  pushHist(r.out, 0, r.out.length)
                } else { nFail += 1; contentTracked = false; histBroken = true }
              }
            }
            if (bChecksum == 1) {
              if (n - pos < 4) halted = true
              else {
                // block checksum covers the STORED bytes
                val want = Bytes.le32u(bytes, pos); pos += 4
                if ((xxh32(bytes, start, size.toInt) & 0xFFFFFFFFL) == want) crcOk += 1
                else crcBad += 1
              }
            }
          }
        }
      }
    }
    var contentCrc = -1
    var sizeMatch = if (contentSize < 0) -1 else -2
    if (sawEnd) {
      if (cChecksum == 1) {
        if (n - pos >= 4) {
          val want = Bytes.le32u(bytes, pos)
          contentCrc =
            if (!contentTracked) -1 // can't verify past a failed block
            else if ((contentHash.digest() & 0xFFFFFFFFL) == want) 1
            else 0
          pos += 4
        } else halted = true
      }
      if (contentSize >= 0)
        sizeMatch = if (contentTracked && decodedBytes == contentSize) 1 else 0
    }
    if (sizeMatch == -2) sizeMatch = 0
    Lz4Meta(if (halted || !sawEnd) 0 else 1, bIndep, bChecksum, cSize,
      cChecksum, blockMax, contentSize, nComp, nStored, storedBytes,
      decodedBytes, nFail, crcOk, crcBad, contentCrc, sizeMatch,
      (n - pos).toLong)
  }

  // ------------------------------------------------------------------
  // synthetic encoder (tests + the q390 oracle's closed-form replay)

  /** A raw LZ4 block from explicit SEQUENCES: each entry is
    * (literal bytes, optional (offset, matchLen ≥ 4)); the last entry
    * must carry no match — the format ends on literals.
    */
  def encodeBlock(seqs: Seq[(Array[Byte], Option[(Int, Int)])]): Array[Byte] = {
    require(seqs.nonEmpty && seqs.last._2.isEmpty, "LZ4 blocks end on literals")
    val out = new java.io.ByteArrayOutputStream()
    def lenBytes(v: Int): Unit = {
      var rest = v
      while (rest >= 255) { out.write(255); rest -= 255 }
      out.write(rest)
    }
    seqs.foreach { case (lit, m) =>
      val litTok = math.min(lit.length, 15)
      val matTok = m.map { case (_, len) => math.min(len - 4, 15) }.getOrElse(0)
      out.write((litTok << 4) | matTok)
      if (lit.length >= 15) lenBytes(lit.length - 15)
      out.write(lit)
      m.foreach { case (offset, len) =>
        require(offset >= 1 && offset <= 65535, "offset out of range")
        require(len >= 4, "LZ4 matches are >= 4 bytes")
        out.write(offset & 0xff); out.write((offset >> 8) & 0xff)
        if (len - 4 >= 15) lenBytes(len - 4 - 15)
      }
    }
    out.toByteArray
  }

  /** A full LZ4 frame: descriptor (flags as given, correct HC), the
    * given blocks (Left = compressed block bytes, Right = stored
    * bytes), EndMark, optional content checksum over `contentBytes`.
    */
  def encodeFrame(blocks: Seq[Either[Array[Byte], Array[Byte]]],
                  blockChecksum: Boolean = false,
                  contentBytes: Option[Array[Byte]] = None,
                  declaredSize: Option[Long] = None,
                  bmCode: Int = 4,
                  blockIndep: Boolean = true): Array[Byte] = {
    val out = new ByteSink()
    out.le32(0x184D2204L)
    val flg = (1 << 6) | (if (blockIndep) 1 << 5 else 0) |
      (if (blockChecksum) 1 << 4 else 0) |
      (declaredSize.map(_ => 1 << 3).getOrElse(0)) |
      (contentBytes.map(_ => 1 << 2).getOrElse(0))
    out.write(flg)
    out.write(bmCode << 4)
    declaredSize.foreach(out.le64)
    val desc = out.toByteArray
    out.write((xxh32(desc, 4, desc.length - 4) >> 8) & 0xff)
    blocks.foreach { b =>
      val (data, stored) = b match {
        case Left(comp) => (comp, false)
        case Right(raw) => (raw, true)
      }
      out.le32(data.length.toLong | (if (stored) 0x80000000L else 0L))
      out.write(data)
      if (blockChecksum) out.le32(xxh32(data, 0, data.length))
    }
    out.le32(0L) // EndMark
    contentBytes.foreach(c => out.le32(xxh32(c, 0, c.length)))
    out.toByteArray
  }

  /** Census DataFrame over (id, lz4-frame bytes) — map-only, zero
    * shuffles.
    */
  def lz4Features(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid", "has_block_crc", "has_content_crc",
      "block_max_size", "declared_size", "n_compressed", "n_stored", "stored_bytes",
      "decoded_bytes", "n_decode_failed", "block_crc_ok", "block_crc_bad",
      "content_crc_ok", "content_size_match", "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.valid.toLong, m.hasBlockChecksum.toLong,
        m.hasContentChecksum.toLong, m.blockMaxSize,
        m.declaredContentSize, m.nCompressed.toLong, m.nStored.toLong,
        m.storedBytes, m.decodedBytes, m.nDecodeFailed.toLong,
        m.blockCrcOk.toLong, m.blockCrcBad.toLong,
        m.contentCrcOk.toLong, m.contentSizeMatch.toLong,
        m.trailingBytes)
    }
}
