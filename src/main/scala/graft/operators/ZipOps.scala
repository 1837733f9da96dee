package graft.operators

import org.apache.spark.sql.DataFrame

/** ZIP archive walker — the remaining ubiquitous dataset container
  * ([[TarOps]] WebDataset shards, [[WarcOps]] crawl archives): public
  * datasets overwhelmingly arrive as .zip. The walk is the REAL
  * one — find the end-of-central-directory record by scanning
  * BACKWARD from EOF (its position is only known from the end; a
  * forward scan is wrong the moment any entry's payload contains the
  * signature bytes), then walk the central directory and CROSS-CHECK
  * each entry's local header (signature + name must match at the
  * recorded offset — central/local disagreement is the classic
  * zip-bomb/smuggling vector, counted rather than guessed through).
  *
  * Census: entry count, stored/deflated mix, compressed vs
  * uncompressed mass (the compression ratio doubles as a quality/dup
  * signal), central-directory overhead, local-mismatch count, and
  * undecodable tail. Entry CRCs are recorded over UNCOMPRESSED data,
  * so verifying them requires inflation — outside this walker's
  * honest boundary (the [[MultimodalStub]] discipline); what IS
  * checked is central↔local structural consistency.
  *
  * Contract (stop-don't-guess): no EOCD in the trailing 64 KiB + 22
  * ⇒ the whole input is trailing; a central entry with a bad
  * signature or overrunning the directory bounds stops the walk
  * there; local mismatches don't stop the walk (they're the signal).
  */
object ZipOps {

  final case class ZipMeta(
      eocdFound: Int,
      nEntries: Int,
      nStored: Int,
      nDeflated: Int,
      nOtherMethod: Int,
      sumCompBytes: Long,
      sumUncompBytes: Long,
      centralBytes: Long,    // central directory size per EOCD
      nLocalMismatch: Int,
      trailingBytes: Long)

  private val Ascii = java.nio.charset.StandardCharsets.ISO_8859_1

  /** Deterministic archive from (name, method, compSize, uncompSize);
    * payload filler bytes include `PK` runs on purpose — discovery
    * must come from the EOCD, not signature scanning.
    */
  def encodeSynthetic(entries: Seq[(String, Int, Int, Int)]): Array[Byte] = {
    val bos = new ByteSink()
    val offsets = new Array[Long](entries.length)
    entries.zipWithIndex.foreach { case ((name, method, csize, usize), j) =>
      offsets(j) = bos.size().toLong
      bos.le32(0x04034b50L); bos.le16(20); bos.le16(0); bos.le16(method); bos.le16(0); bos.le16(0)
      bos.le32((j * 2654435761L) & 0xffffffffL) // deterministic fake CRC
      bos.le32(csize.toLong); bos.le32(usize.toLong)
      bos.le16(name.length); bos.le16(0)
      bos.write(name.getBytes(Ascii))
      var i = 0
      while (i < csize) { bos.write(if (i % 97 == 0) 'P' else if (i % 97 == 1) 'K' else (i * 11 + j * 3) % 256); i += 1 }
    }
    val cdStart = bos.size().toLong
    entries.zipWithIndex.foreach { case ((name, method, csize, usize), j) =>
      bos.le32(0x02014b50L); bos.le16(20); bos.le16(20); bos.le16(0); bos.le16(method); bos.le16(0); bos.le16(0)
      bos.le32((j * 2654435761L) & 0xffffffffL)
      bos.le32(csize.toLong); bos.le32(usize.toLong)
      bos.le16(name.length); bos.le16(0); bos.le16(0); bos.le16(0); bos.le16(0); bos.le32(0)
      bos.le32(offsets(j))
      bos.write(name.getBytes(Ascii))
    }
    val cdSize = bos.size().toLong - cdStart
    bos.le32(0x06054b50L); bos.le16(0); bos.le16(0); bos.le16(entries.length); bos.le16(entries.length)
    bos.le32(cdSize); bos.le32(cdStart); bos.le16(0)
    bos.toByteArray
  }

  def parse(bytes: Array[Byte]): ZipMeta = {
    val n = bytes.length
    // EOCD: backward scan over the last 64 KiB + 22 (max comment)
    var eocd = -1
    var i = n - 22
    val stop = math.max(0, n - 22 - 65535)
    while (eocd < 0 && i >= stop) {
      if (Bytes.le32u(bytes, i) == 0x06054b50L && i + 22 + Bytes.le16(bytes, i + 20) == n) eocd = i
      else i -= 1
    }
    if (eocd < 0)
      return ZipMeta(0, 0, 0, 0, 0, 0L, 0L, 0L, 0, n.toLong)
    val nEntries = Bytes.le16(bytes, eocd + 10)
    val cdSize = Bytes.le32u(bytes, eocd + 12)
    val cdOff = Bytes.le32u(bytes, eocd + 16)
    var pos = cdOff
    val cdEnd = cdOff + cdSize
    var parsed = 0; var nStored = 0; var nDeflated = 0; var nOther = 0
    var comp = 0L; var uncomp = 0L; var mismatch = 0
    var ok = cdEnd <= eocd && cdOff >= 0
    while (ok && parsed < nEntries && pos + 46 <= cdEnd) {
      if (Bytes.le32u(bytes, pos.toInt) != 0x02014b50L) ok = false
      else {
        val p = pos.toInt
        val method = Bytes.le16(bytes, p + 10)
        val csize = Bytes.le32u(bytes, p + 20)
        val usize = Bytes.le32u(bytes, p + 24)
        val nameLen = Bytes.le16(bytes, p + 28)
        val extraLen = Bytes.le16(bytes, p + 30)
        val commentLen = Bytes.le16(bytes, p + 32)
        val localOff = Bytes.le32u(bytes, p + 42)
        if (pos + 46 + nameLen + extraLen + commentLen > cdEnd) ok = false
        else {
          val name = new String(bytes, p + 46, nameLen, Ascii)
          // cross-check the local header at the recorded offset
          val lo = localOff.toInt
          val localOk = localOff + 30 + nameLen <= cdOff &&
            Bytes.le32u(bytes, lo) == 0x04034b50L && Bytes.le16(bytes, lo + 26) == nameLen &&
            new String(bytes, lo + 30, nameLen, Ascii) == name
          if (!localOk) mismatch += 1
          parsed += 1
          comp += csize
          uncomp += usize
          method match {
            case 0 => nStored += 1
            case 8 => nDeflated += 1
            case _ => nOther += 1
          }
          pos += 46 + nameLen + extraLen + commentLen
        }
      }
    }
    // trailing accounting, fail-closed: a CD pointer outside the file
    // (cdEnd > eocd) means NOTHING beyond the EOCD record was validated
    // — report the whole file unparsed rather than `n - cdOff`, which
    // goes NEGATIVE for an attacker cdOff > n (found by WalkerFuzzSpec:
    // a 0xFF window over the EOCD offset field). A mid-walk failure
    // has pos ∈ [cdOff, cdEnd] ⊆ [0, n], so n - pos is always sane.
    val trailing =
      if (ok && parsed == nEntries) 0L
      else if (cdEnd > eocd) n.toLong
      else n - pos
    ZipMeta(1, parsed, nStored, nDeflated, nOther, comp, uncomp, cdSize,
      mismatch, trailing)
  }

  def zipFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "eocd_found", "n_entries", "n_stored",
      "n_deflated", "n_other_method", "sum_comp_bytes", "sum_uncomp_bytes",
      "central_bytes", "n_local_mismatch", "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.eocdFound.toLong, m.nEntries.toLong, m.nStored.toLong,
        m.nDeflated.toLong, m.nOtherMethod.toLong, m.sumCompBytes,
        m.sumUncompBytes, m.centralBytes, m.nLocalMismatch.toLong,
        m.trailingBytes)
    }
}
