package graft.operators

import org.apache.spark.sql.DataFrame

/** Snappy framing-format census — the codec the whole lake trio names
  * (parquet q377 / Avro q378 / ORC q381 all declare SNAPPY) in its
  * streaming container form (google/snappy framing_format.txt): .sz
  * shard exchange, Kafka payloads, and WARC transfer all use it, so
  * the compression-container family (gzip decode q194, zstd q366,
  * frame census q378) gains its last ubiquitous member.
  *
  * Layout: chunks of `type(1) · length(3 LE) · payload`, first chunk
  * MUST be the stream identifier (type 0xFF, payload exactly
  * "sNaPpY"). Data chunks carry a 4-byte masked CRC-32C of the
  * UNCOMPRESSED data before the payload — the SAME Castagnoli +
  * rotate-and-add mask as TFRecord, so the kernel is shared
  * (TfRecordOps.crc32c/mask). Type 0x01 (uncompressed) payloads are
  * raw bytes, so their checksum VERIFIES here; type 0x00 (compressed)
  * payloads are Snappy bitstreams — counted and sized, checksum
  * recorded as unverifiable (the honest stub boundary, q366
  * discipline). Types 0x02–0x7F are reserved-unskippable (a compliant
  * reader must stop); 0x80–0xFD are reserved-skippable; 0xFE is
  * padding.
  *
  * Stop-don't-guess: a missing/malformed LEADING stream identifier
  * rejects the file whole; REPEATED identifiers mid-stream are
  * spec-legal (concatenated .sz streams, the gzip-cat pattern) —
  * verified and stepped over; a chunk header overrunning the buffer
  * (subtraction-form bounds — the 24-bit length is attacker-
  * controlled), an unskippable reserved type, a data chunk shorter
  * than its checksum, or an uncompressed chunk over the spec's
  * 65540-byte cap halts the walk at that chunk's start with the
  * walked prefix kept and the remainder as trailing. A FAILED CRC is
  * counted (`crcBad`), never a halt — the length field's framing
  * stays authoritative over payload integrity, the q368 discipline.
  */
object SnappyFrameOps {

  final case class SnappyMeta(
      valid: Int,            // 1 iff the identifier + every chunk walked to EOF
      nCompressed: Int,
      nUncompressed: Int,
      nPadding: Int,
      nSkippable: Int,       // reserved-skippable chunks + repeated stream
                             // identifiers (concatenated streams) stepped over
      uncompressedBytes: Long, // raw bytes in type-1 chunks
      compressedBytes: Long,   // payload bytes in type-0 chunks (excl. CRC)
      crcOk: Int,            // verified checksums (type-1 only)
      crcBad: Int,
      stoppedUnskippable: Int, // halted on a 0x02–0x7F type
      trailingBytes: Long,
      // ---- raw-block decode layer (r11 verdict item 8): type-0 chunk
      // payloads run through [[SnappyRaw.decode]], so the declared
      // content is VERIFIED, not trusted. A failed decode or CRC is
      // counted, never a halt — the framing stays authoritative.
      rawOk: Int,            // compressed chunks that decoded cleanly
      rawFailed: Int,
      rawBytes: Long,        // Σ decoded (uncompressed) bytes
      rawCrcOk: Int,         // chunk CRC verified against DECODED bytes
      rawCrcBad: Int,
      nLiterals: Int,        // raw elements across all decoded chunks
      nCopies: Int)

  private val Invalid = SnappyMeta(0, 0, 0, 0, 0, 0L, 0L, 0, 0, 0, 0L,
    0, 0, 0L, 0, 0, 0, 0)
  private val MaxUncompressed = 65540L // spec: 65536 data + 4 CRC

  def parse(bytes: Array[Byte]): SnappyMeta = {
    val n = bytes.length
    // stream identifier: ff 06 00 00 "sNaPpY"
    if (n < 10 || (bytes(0) & 0xff) != 0xFF || Bytes.le24(bytes, 1).toLong != 6L ||
        new String(bytes, 4, 6, "US-ASCII") != "sNaPpY")
      return Invalid.copy(trailingBytes = n.toLong)
    var pos = 10L
    var nComp = 0; var nUnc = 0; var nPad = 0; var nSkip = 0
    var uncBytes = 0L; var compBytes = 0L
    var crcOk = 0; var crcBad = 0; var unskippable = 0
    var rawOk = 0; var rawFailed = 0; var rawBytes = 0L
    var rawCrcOk = 0; var rawCrcBad = 0; var nLit = 0; var nCopy = 0
    var halted = false
    while (!halted && pos < n) {
      if (pos + 4 > n) { halted = true }
      else {
        val t = bytes(pos.toInt) & 0xff
        val len = Bytes.le24(bytes, pos.toInt + 1).toLong
        // payload must fit (subtraction form; len is attacker-controlled)
        if (len > n - pos - 4) halted = true
        else t match {
          case 0x00 => // compressed data: CRC (of the uncompressed data)
            // + snappy raw bitstream — DECODED, so the declared content
            // is verified rather than trusted (bounded by the 65536
            // block cap; a failed decode is counted, never a halt)
            if (len < 4) halted = true
            else {
              nComp += 1; compBytes += len - 4
              val r = SnappyRaw.decode(bytes, pos.toInt + 8, pos.toInt + 4 + len.toInt)
              if (r.ok == 1) {
                rawOk += 1; rawBytes += r.decoded
                nLit += r.nLiterals; nCopy += r.nCopies
                val crc = Bytes.le32(bytes, pos.toInt + 4)
                val want = TfRecordOps.mask(
                  TfRecordOps.crc32c(r.out, 0, r.out.length))
                if (crc == want) rawCrcOk += 1 else rawCrcBad += 1
              } else rawFailed += 1
              pos += 4 + len
            }
          case 0x01 => // uncompressed data: CRC verifies right here
            if (len < 4 || len > MaxUncompressed) halted = true
            else {
              val crc = Bytes.le32(bytes, pos.toInt + 4)
              val want = TfRecordOps.mask(
                TfRecordOps.crc32c(bytes, pos.toInt + 8, (len - 4).toInt))
              if (crc == want) crcOk += 1 else crcBad += 1
              nUnc += 1; uncBytes += len - 4
              pos += 4 + len
            }
          case 0xFE => nPad += 1; pos += 4 + len
          case 0xFF =>
            // repeated stream identifier: the framing spec PERMITS it
            // (concatenated .sz streams, the gzip-cat pattern) — verify
            // the 6-byte payload and step over; a wrong payload halts
            if (len == 6L &&
                new String(bytes, pos.toInt + 4, 6, "US-ASCII") == "sNaPpY") {
              nSkip += 1; pos += 4 + len
            } else halted = true
          case r if r >= 0x80 => nSkip += 1; pos += 4 + len
          case _ => unskippable = 1; halted = true // 0x02–0x7F: must stop
        }
      }
    }
    SnappyMeta(if (halted) 0 else 1, nComp, nUnc, nPad, nSkip,
      uncBytes, compBytes, crcOk, crcBad, unskippable,
      n - math.min(pos, n.toLong),
      rawOk, rawFailed, rawBytes, rawCrcOk, rawCrcBad, nLit, nCopy)
  }

  // ------------------------------------------------------------------
  // synthetic encoder (tests + the q382 oracle's closed-form replay)

  /** The mandatory leading stream-identifier chunk (ff 06 00 00 "sNaPpY"). */
  def identifierChunk: Array[Byte] = chunk(0xFF, "sNaPpY".getBytes("US-ASCII"))

  private def chunk(t: Int, payload: Array[Byte]): Array[Byte] =
    new ByteSink(4 + payload.length).u8(t).le24(payload.length).raw(payload).toByteArray

  /** Stream of `blocks` uncompressed-data chunks (deterministic bodies
    * of the given lengths, valid CRCs), `compressed` opaque chunks of
    * (payloadLen incl. a fake CRC word), optional padding.
    */
  def encodeSynthetic(uncLens: Seq[Int], compLens: Seq[Int],
      padLen: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(chunk(0xFF, "sNaPpY".getBytes("US-ASCII")))
    uncLens.foreach { len =>
      val body = Array.tabulate(len)(i => ((i * 19 + 3) & 0xff).toByte)
      val crc = TfRecordOps.mask(TfRecordOps.crc32c(body, 0, body.length))
      out.write(chunk(0x01, new ByteSink(4 + len).le32(crc).raw(body).toByteArray))
    }
    compLens.foreach { len =>
      // fake CRC word + opaque bitstream bytes
      out.write(chunk(0x00, Array.tabulate(4 + len)(i => ((i * 41 + 9) & 0xff).toByte)))
    }
    if (padLen > 0) out.write(chunk(0xFE, new Array[Byte](padLen)))
    out.toByteArray
  }

  def snappyFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid", "n_compressed", "n_uncompressed",
      "n_padding", "n_skippable", "uncompressed_bytes", "compressed_bytes", "crc_ok",
      "crc_bad", "stopped_unskippable", "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.valid.toLong, m.nCompressed.toLong, m.nUncompressed.toLong,
        m.nPadding.toLong, m.nSkippable.toLong, m.uncompressedBytes,
        m.compressedBytes, m.crcOk.toLong, m.crcBad.toLong,
        m.stoppedUnskippable.toLong, m.trailingBytes)
    }

  /** A REAL compressed data chunk (type 0x00): `ops` encoded as a raw
    * snappy bitstream with the masked CRC-32C of the decoded bytes in
    * front — [[encodeSynthetic]]'s fake-bitstream sibling for fixtures
    * that exercise the decode layer. `flipCrc` plants a rawCrcBad;
    * `truncate` drops the bitstream's last byte (a rawFailed).
    */
  def compressedChunk(ops: Seq[SnappyRaw.RawOp], flipCrc: Boolean = false,
                      truncate: Boolean = false): Array[Byte] = {
    val stream0 = SnappyRaw.encode(ops)
    val stream = if (truncate) stream0.dropRight(1) else stream0
    val body = SnappyRaw.decode(stream0, 0, stream0.length).out
    val crc0 = TfRecordOps.mask(TfRecordOps.crc32c(body, 0, body.length))
    val crc = if (flipCrc) crc0 ^ 0x5A else crc0
    chunk(0x00, new ByteSink(4 + stream.length).le32(crc).raw(stream).toByteArray)
  }

  /** Raw-decode census over (id, framed bytes) — the q382 frame walk's
    * verification layer surfaced (r11 verdict item 8): per file, how
    * many compressed chunks decode cleanly, their exact uncompressed
    * mass, whether the chunk CRCs verify against the DECODED bytes,
    * and the literal/copy element mix. Map-only, zero shuffles;
    * [[snappyFeatures]]' projection stays frozen.
    */
  def snappyDecodeFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid", "n_compressed", "compressed_bytes",
      "raw_ok", "raw_failed", "raw_bytes", "raw_crc_ok", "raw_crc_bad", "n_literals",
      "n_copies") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.valid.toLong, m.nCompressed.toLong, m.compressedBytes,
        m.rawOk.toLong, m.rawFailed.toLong, m.rawBytes,
        m.rawCrcOk.toLong, m.rawCrcBad.toLong,
        m.nLiterals.toLong, m.nCopies.toLong)
    }
}
