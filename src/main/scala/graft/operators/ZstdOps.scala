package graft.operators

import org.apache.spark.sql.DataFrame

/** Zstandard frame walker (RFC 8878) — the compression-container
  * census completing the wire-format family (gzip decode in
  * TextCodec, tar/zip/WARC walks): zstd is the default codec of
  * modern corpus distribution (Common Crawl WET.zst, HF datasets),
  * so a fleet triages .zst shards long before it decompresses them.
  *
  * The structural layer needs NO entropy coding: a frame is
  *
  *   magic 0xFD2FB528 (LE) · frame header (descriptor, optional
  *   window/dict-id/content-size) · blocks · optional XXH64-low32
  *   checksum
  *
  * and every block carries a 3-byte LE header `last(1) | type(2) |
  * size(21)`, so the whole block tree walks — and raw (type 0) and
  * RLE (type 1) blocks even DECODE — without any FSE/Huffman work.
  * Compressed (type 2) block payloads are the honest stub boundary
  * (the MultimodalStub discipline): counted and skipped, never
  * guessed. Skippable frames (magic 0x184D2A50–5F · u32 size) are
  * recognized and stepped over.
  *
  * Fail-closed contract (house rules): any malformed structure halts
  * with the CURRENT FRAME rolled back whole — `trailing_bytes` counts
  * from the frame start, never a half-consumed frame; all bounds
  * checks are overflow-proof subtraction forms; regenerated content is
  * capped PER FRAME (`maxContentBytes`, default 64 MiB — the in-memory
  * bound, since the buffer resets per frame) so a 4-byte RLE bomb
  * cannot OOM a task — exceeding the cap is a halt, not a truncation.
  * Content is only buffered when the frame carries a checksum to
  * verify; otherwise the walk counts bytes without copying them.
  */
object ZstdOps {

  val FrameMagic = 0xFD2FB528L
  val SkippableMin = 0x184D2A50L
  val SkippableMax = 0x184D2A5FL
  val DefaultMaxContent: Long = 64L * 1024 * 1024

  final case class ZstdMeta(
      valid: Int,            // 1 iff the whole input parsed as frames
      nFrames: Int,          // complete data frames
      nSkippable: Int,
      nRaw: Int,             // raw blocks
      nRle: Int,             // RLE blocks
      nCompressed: Int,      // compressed blocks (payload skipped)
      contentBytes: Long,    // regenerated bytes (raw + RLE)
      compressedBytes: Long, // compressed-block payload bytes
      checksumPresent: Int,  // frames carrying a checksum field
      checksumOk: Int,       // verified (fully-decodable frames only)
      checksumBad: Int,
      nLitRaw: Int,          // compressed blocks with raw-literals sections
      nLitRle: Int,          //   …RLE-literals
      nLitCompressed: Int,   //   …Huffman-compressed literals (counted, not decoded)
      nLitTreeless: Int,     //   …treeless (reuses previous table)
      litRegenBytes: Long,   // Σ declared regenerated literal sizes (all types)
      nLitMalformed: Int,    // literals headers violating the block's bounds
      trailingBytes: Long)

  /** XXH64 seed 0, low 32 bits — zstd's content checksum. Reuses
    * Spark's own XXH64 kernel (the engine behind `xxhash64`).
    */
  def xxh64Low32(data: Array[Byte]): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      data, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      data.length, 0L) & 0xffffffffL

  /** Literals-section header peek inside a type-2 (compressed) block
    * (RFC 8878 §3.1.1.3.1.1) — plain bit fields at the block's first
    * bytes, still zero FSE/Huffman work; the entropy boundary moves
    * one notch inward: literal TYPE and declared sizes are now read,
    * the streams themselves stay counted-never-decoded.
    *
    * Returns (litType, regeneratedSize, compressedSize, headerLen) or
    * None when the header violates the block's own bounds (header
    * past the block end, raw literals overrunning the block, RLE
    * literals with no byte, compressed streams longer than the
    * remaining payload). The 3-byte BLOCK header's length framing is
    * what is authoritative for the walk, so a malformed literals
    * header marks the block (`nLitMalformed`), never halts the frame.
    */
  def peekLiterals(bytes: Array[Byte], off: Long, size: Long): Option[(Int, Long, Long, Int)] = {
    if (size < 1) return None
    val b0 = bytes(off.toInt) & 0xff
    val litType = b0 & 3
    val sf = (b0 >> 2) & 3
    def at(i: Int): Long = bytes(off.toInt + i) & 0xffL
    if (litType <= 1) {
      // Raw_Literals_Block / RLE_Literals_Block: regenerated size only
      val (hdr, regen) = sf match {
        case 0 | 2 => (1, (b0 >> 3).toLong)             // 5 bits
        case 1 => if (size < 2) return None
          (2, (b0 >> 4).toLong | (at(1) << 4))          // 12 bits
        case _ => if (size < 3) return None
          (3, (b0 >> 4).toLong | (at(1) << 4) | (at(2) << 12)) // 20 bits
      }
      val bodyNeeded = if (litType == 0) regen else 1L  // RLE: one byte
      if (bodyNeeded > size - hdr) None
      else Some((litType, regen, 0L, hdr))
    } else {
      // Compressed / Treeless: regenerated + compressed stream sizes
      val (hdr, bitsPer) = sf match {
        case 0 | 1 => (3, 10)
        case 2 => (4, 14)
        case _ => (5, 18)
      }
      if (size < hdr) return None
      var packed = (b0 >> 4).toLong
      var i = 1
      while (i < hdr) { packed |= at(i) << (4 + 8 * (i - 1)); i += 1 }
      val regen = packed & ((1L << bitsPer) - 1)
      val comp = (packed >> bitsPer) & ((1L << bitsPer) - 1)
      if (comp > size - hdr) None
      else Some((litType, regen, comp, hdr))
    }
  }

  /** Deterministic single-segment frame: raw blocks of ≤ `blockSize`
    * over `payload`, an optional RLE tail (`rleLen` × 'z'), optional
    * checksum, optional skippable-frame prefix. Real wire layout —
    * what [[parse]] walks and any zstd decoder accepts for the
    * raw/RLE subset.
    */
  def encodeSynthetic(payload: Array[Byte], blockSize: Int,
                      withChecksum: Boolean, skippableLen: Int,
                      rleLen: Int): Array[Byte] = {
    // The block header's size field is 21 bits — out-of-range arguments
    // would silently emit corrupt frames that parse() then rejects,
    // masking a test-fixture bug as a parser failure. Fail loudly here.
    require(blockSize >= 1 && blockSize <= 0x1FFFFF,
      s"blockSize $blockSize outside the 21-bit block-size field [1, ${0x1FFFFF}]")
    require(rleLen >= 0 && rleLen <= 0x1FFFFF,
      s"rleLen $rleLen outside the 21-bit block-size field [0, ${0x1FFFFF}]")
    require(skippableLen >= 0, s"skippableLen $skippableLen negative")
    val bos = new ByteSink()
    def blockHeader(last: Boolean, tpe: Int, size: Int): Unit =
      bos.le24((if (last) 1 else 0) | (tpe << 1) | (size << 3))
    if (skippableLen > 0) {
      bos.le32(SkippableMin); bos.le32(skippableLen.toLong)
      (0 until skippableLen).foreach(i => bos.write((i * 7 + 1) % 256))
    }
    bos.le32(FrameMagic)
    // FHD: FCS_flag=3 (8-byte size), single-segment, optional checksum
    bos.write(0xC0 | 0x20 | (if (withChecksum) 0x04 else 0))
    bos.le64(payload.length.toLong + rleLen)
    val nChunks = (payload.length + blockSize - 1) / blockSize
    if (nChunks == 0 && rleLen == 0) blockHeader(last = true, 0, 0)
    else {
      var c = 0
      while (c < nChunks) {
        val start = c * blockSize
        val len = math.min(blockSize, payload.length - start)
        blockHeader(last = c == nChunks - 1 && rleLen == 0, 0, len)
        bos.write(payload, start, len)
        c += 1
      }
      if (rleLen > 0) { blockHeader(last = true, 1, rleLen); bos.write('z') }
    }
    if (withChecksum) {
      val content = payload ++ Array.fill(rleLen)('z'.toByte)
      bos.le32(xxh64Low32(content))
    }
    bos.toByteArray
  }

  def parse(bytes: Array[Byte],
            maxContentBytes: Long = DefaultMaxContent): ZstdMeta = {
    val n = bytes.length.toLong
    var pos = 0L
    var nFrames = 0; var nSkippable = 0
    var nRaw = 0; var nRle = 0; var nCompressed = 0
    var contentBytes = 0L; var compressedBytes = 0L
    var csPresent = 0; var csOk = 0; var csBad = 0
    var nLitRaw = 0; var nLitRle = 0; var nLitComp = 0; var nLitTreeless = 0
    var litRegen = 0L; var nLitMalformed = 0
    var halted = false
    while (!halted && pos < n) {
      val frameStart = pos
      if (n - pos < 4) halted = true
      else {
        val magic = Bytes.le32u(bytes, pos.toInt)
        if (magic >= SkippableMin && magic <= SkippableMax) {
          // u32 size ≤ 2^32−1 can't wrap a Long, but still compare
          // against remaining space in subtraction form
          if (n - pos < 8) halted = true
          else {
            val size = Bytes.le32u(bytes, (pos + 4).toInt)
            if (size > n - pos - 8) halted = true
            else { pos += 8 + size; nSkippable += 1 }
          }
        } else if (magic == FrameMagic) {
          var p = pos + 4
          var ok = n - p >= 1
          var fcs = -1L
          var checksumFlag = false
          var allDecodable = true
          val content = new java.io.ByteArrayOutputStream()
          if (ok) {
            val fhd = bytes(p.toInt) & 0xff; p += 1
            val fcsFlag = fhd >> 6
            val single = (fhd & 0x20) != 0
            checksumFlag = (fhd & 0x04) != 0
            val did = fhd & 3
            if ((fhd & 0x08) != 0) ok = false // reserved bit set
            if (ok && !single) { if (n - p >= 1) p += 1 else ok = false }
            val didLen = did match { case 0 => 0; case 1 => 1; case 2 => 2; case _ => 4 }
            if (ok) { if (n - p >= didLen) p += didLen else ok = false }
            val fcsLen = fcsFlag match {
              case 0 => if (single) 1 else 0
              case 1 => 2; case 2 => 4; case _ => 8
            }
            if (ok) {
              if (n - p >= fcsLen) {
                fcs = fcsLen match {
                  case 0 => -1L
                  case 1 => bytes(p.toInt) & 0xffL
                  case 2 => Bytes.le16(bytes, p.toInt) + 256L
                  case 4 => Bytes.le32u(bytes, p.toInt)
                  case _ => Bytes.le64(bytes, p.toInt)
                }
                // an 8-byte FCS with the top bit set goes negative and
                // would alias the -1 "absent" sentinel, silently skipping
                // the size-lie check; no real file declares ≥ 2^63 bytes
                // — fail closed instead
                if (fcsLen > 0 && fcs < 0) ok = false
                p += fcsLen
              } else ok = false
            }
          }
          // block walk — counted locally, committed only if the frame
          // completes (rollback-whole-frame contract)
          var fRaw = 0; var fRle = 0; var fComp = 0
          var fContent = 0L; var fCompressed = 0L
          var fLitRaw = 0; var fLitRle = 0; var fLitComp = 0; var fLitTreeless = 0
          var fLitRegen = 0L; var fLitMalformed = 0
          var last = false
          while (ok && !last) {
            if (n - p < 3) ok = false
            else {
              val h = Bytes.le24(bytes, p.toInt).toLong
              p += 3
              last = (h & 1) != 0
              val tpe = ((h >> 1) & 3).toInt
              val size = h >> 3 // ≤ 2^21−1: cannot wrap anything
              tpe match {
                case 0 =>
                  if (size > n - p) ok = false
                  else {
                    if (fContent + size > maxContentBytes) ok = false
                    else {
                      if (checksumFlag) content.write(bytes, p.toInt, size.toInt)
                      p += size; fRaw += 1; fContent += size
                    }
                  }
                case 1 =>
                  if (n - p < 1) ok = false
                  else {
                    if (fContent + size > maxContentBytes) ok = false
                    else {
                      if (checksumFlag) {
                        val b = bytes(p.toInt)
                        var i = 0L
                        while (i < size) { content.write(b); i += 1 }
                      }
                      p += 1; fRle += 1; fContent += size
                    }
                  }
                case 2 =>
                  if (size > n - p) ok = false
                  else {
                    peekLiterals(bytes, p, size) match {
                      case Some((0, regen, _, _)) => fLitRaw += 1; fLitRegen += regen
                      case Some((1, regen, _, _)) => fLitRle += 1; fLitRegen += regen
                      case Some((2, regen, _, _)) => fLitComp += 1; fLitRegen += regen
                      case Some((_, regen, _, _)) => fLitTreeless += 1; fLitRegen += regen
                      case None => fLitMalformed += 1
                    }
                    p += size; fComp += 1; fCompressed += size; allDecodable = false
                  }
                case _ => ok = false // reserved
              }
            }
          }
          if (ok && allDecodable && fcs >= 0 && fContent != fcs) ok = false // size lie
          var fCsOk = 0; var fCsBad = 0
          if (ok && checksumFlag) {
            if (n - p >= 4) {
              val want = Bytes.le32u(bytes, p.toInt); p += 4
              if (allDecodable) {
                if (xxh64Low32(content.toByteArray) == want) fCsOk = 1 else fCsBad = 1
              }
            } else ok = false
          }
          if (!ok) { halted = true; pos = frameStart }
          else {
            nFrames += 1; nRaw += fRaw; nRle += fRle; nCompressed += fComp
            contentBytes += fContent; compressedBytes += fCompressed
            nLitRaw += fLitRaw; nLitRle += fLitRle; nLitComp += fLitComp
            nLitTreeless += fLitTreeless; litRegen += fLitRegen
            nLitMalformed += fLitMalformed
            if (checksumFlag) csPresent += 1
            csOk += fCsOk; csBad += fCsBad
            pos = p
          }
        } else halted = true
      }
    }
    ZstdMeta(if (halted) 0 else 1, nFrames, nSkippable, nRaw, nRle,
      nCompressed, contentBytes, compressedBytes, csPresent, csOk, csBad,
      nLitRaw, nLitRle, nLitComp, nLitTreeless, litRegen, nLitMalformed,
      if (halted) n - pos else 0L)
  }

  /** Literals-section header bytes for fixtures (RFC 8878
    * §3.1.1.3.1.1). Raw/RLE literals use the 12-bit two-byte form;
    * compressed/treeless use the 10-bit three-byte four-stream form —
    * the other size formats are exercised by hand-built headers in
    * ZstdOpsSpec.
    */
  def literalsHeader(litType: Int, regen: Int, comp: Int = 0): Array[Byte] = {
    require(litType >= 0 && litType <= 3, s"litType $litType")
    if (litType <= 1) {
      require(regen >= 0 && regen <= 0xFFF, s"regen $regen outside the 12-bit form")
      Array((litType | (1 << 2) | ((regen & 0xF) << 4)).toByte, (regen >> 4).toByte)
    } else {
      require(regen >= 0 && regen <= 0x3FF && comp >= 0 && comp <= 0x3FF,
        s"regen $regen / comp $comp outside the 10-bit form")
      val packed = regen.toLong | (comp.toLong << 10)
      Array((litType | (1 << 2) | ((packed & 0xF) << 4)).toByte,
        ((packed >> 4) & 0xff).toByte, ((packed >> 12) & 0xff).toByte)
    }
  }

  /** Single frame from explicit (blockType, payload) pairs — the
    * fixture builder for type-2 blocks. FCS is ABSENT (compressed
    * blocks make the regenerated size unknowable without entropy
    * decode, so a declared size could not be verified); the frame
    * header is the 2-byte no-FCS form (descriptor + window byte).
    * A non-zero `dictId` (≤ 255) plants the RFC's 1-byte
    * Dictionary_ID field — the census's honest `dict_gated` class.
    */
  def encodeFrameWithBlocks(blocks: Seq[(Int, Array[Byte])],
                            dictId: Int = 0): Array[Byte] = {
    require(blocks.nonEmpty, "a frame needs at least one block")
    require(dictId >= 0 && dictId <= 255, s"dictId must fit one byte, got $dictId")
    val bos = new ByteSink().le32(FrameMagic)
    // FHD: no FCS, not single-segment, no checksum; DID flag 01 when set
    bos.write(if (dictId > 0) 0x01 else 0x00)
    bos.write(0x58) // window descriptor (exponent 21 → 2 MiB; uninterpreted)
    if (dictId > 0) bos.write(dictId)
    blocks.zipWithIndex.foreach { case ((tpe, payload), j) =>
      require(payload.length <= 0x1FFFFF, s"block ${payload.length} B over the 21-bit field")
      val h = (if (j == blocks.length - 1) 1 else 0) | (tpe << 1) | (payload.length << 3)
      bos.write(h & 0xff); bos.write((h >> 8) & 0xff); bos.write((h >> 16) & 0xff)
      bos.write(payload)
    }
    bos.toByteArray
  }

  def zstdFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid", "n_frames", "n_skippable", "n_raw",
      "n_rle", "n_compressed", "content_bytes", "compressed_bytes", "checksum_present",
      "checksum_ok", "checksum_bad", "lit_raw", "lit_rle", "lit_compressed",
      "lit_treeless", "lit_regen_bytes", "lit_malformed",
      "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.valid.toLong, m.nFrames.toLong, m.nSkippable.toLong,
        m.nRaw.toLong, m.nRle.toLong, m.nCompressed.toLong,
        m.contentBytes, m.compressedBytes, m.checksumPresent.toLong,
        m.checksumOk.toLong, m.checksumBad.toLong,
        m.nLitRaw.toLong, m.nLitRle.toLong, m.nLitCompressed.toLong,
        m.nLitTreeless.toLong, m.litRegenBytes, m.nLitMalformed.toLong,
        m.trailingBytes)
    }
}
