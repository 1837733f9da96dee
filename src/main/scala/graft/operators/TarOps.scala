package graft.operators

import org.apache.spark.sql.DataFrame

/** POSIX ustar archive walker + WebDataset shard audit — the
  * multimodal-shard member of the container family ([[WarcOps]] crawl
  * archives, [[IsoBmff]] MP4): large image/audio/text training sets
  * ship as tar shards where each SAMPLE is a run of files sharing a
  * basename with different extensions (`000123.jpg` + `000123.json` +
  * `000123.txt` — the WebDataset convention). Walking headers gives
  * the shard audit a 100 TB corpus runs before any decode: entry and
  * sample counts, payload mass vs 512-byte-block padding + header
  * overhead, and which samples are missing required components (an
  * incomplete sample silently drops from training — the audit is how
  * you notice).
  *
  * Format walked: 512-byte headers (name[100] mode[8] uid[8] gid[8]
  * size[12 octal] mtime[12] chksum[8] typeflag link[100]
  * magic[6]), payload rounded up to 512-byte blocks, two zero blocks
  * at end. The header CHECKSUM (unsigned byte sum with the chksum
  * field read as spaces) is verified — a flipped byte in a header is
  * indistinguishable from a wrong size field without it, and a wrong
  * size desynchronizes every later entry.
  *
  * Contract (stop-don't-guess): short header block, bad magic, bad
  * octal size, checksum mismatch, or truncated payload stop the walk
  * at that header's offset; everything after the two end-of-archive
  * zero blocks is also trailing (a well-formed writer never emits
  * it).
  */
object TarOps {

  final case class TarMeta(
      nEntries: Int,
      nSamples: Int,          // distinct basenames among regular files
      nCompleteSamples: Int,  // basenames holding every required extension
      sumFileBytes: Long,
      sumPaddingBytes: Long,  // block round-up waste
      archiveBytes: Long,     // headers + padded payloads + end blocks walked
      trailingBytes: Long)

  private val Ascii = java.nio.charset.StandardCharsets.ISO_8859_1

  /** Deterministic ustar archive from (fileName, payloadLen); payload
    * filler is closed-form bytes. Headers carry correct checksums.
    */
  def encodeSynthetic(files: Seq[(String, Int)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    files.zipWithIndex.foreach { case ((name, len), j) =>
      bos.write(header(name, len))
      var i = 0
      while (i < len) { bos.write((i * 13 + j * 29) % 256); i += 1 }
      val pad = (512 - len % 512) % 512
      var p = 0
      while (p < pad) { bos.write(0); p += 1 }
    }
    bos.write(new Array[Byte](1024)) // end-of-archive
    bos.toByteArray
  }

  /** A correct ustar header for a regular file. */
  def header(name: String, size: Int): Array[Byte] = {
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes(Ascii)
      System.arraycopy(b, 0, h, off, math.min(b.length, 99))
    }
    def putOctal(off: Int, width: Int, v: Long): Unit =
      put(off, ("%0" + (width - 1) + "o").format(v)) // NUL-terminated by the zero fill
    put(0, name)
    putOctal(100, 8, 420)          // mode 0644
    putOctal(108, 8, 0)            // uid
    putOctal(116, 8, 0)            // gid
    putOctal(124, 12, size.toLong)
    putOctal(136, 12, 1700000000L) // mtime
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum as spaces
    h(156) = '0'                   // typeflag: regular file
    put(257, "ustar")              // magic (NUL-terminated by zero fill)
    put(263, "00")                 // version
    var sum = 0L
    var i = 0
    while (i < 512) { sum += h(i) & 0xff; i += 1 }
    put(148, "%06o".format(sum))
    h(154) = 0; h(155) = ' '
    h
  }

  def parse(bytes: Array[Byte], requiredExts: Seq[String]): TarMeta = {
    val n = bytes.length
    def isZeroBlock(off: Int): Boolean = {
      var i = off
      val end = off + 512
      while (i < end && bytes(i) == 0) i += 1
      i == end
    }
    def octal(off: Int, width: Int): Long = {
      // octal digits, possibly space/NUL padded both sides
      var i = off
      val end = off + width
      while (i < end && (bytes(i) == ' ' || bytes(i) == 0)) i += 1
      if (i == end) return -1L
      var v = 0L
      var any = false
      while (i < end && bytes(i) >= '0' && bytes(i) <= '7') {
        v = v * 8 + (bytes(i) - '0'); any = true; i += 1
      }
      while (i < end && (bytes(i) == ' ' || bytes(i) == 0)) i += 1
      if (any && i == end) v else -1L
    }
    var pos = 0
    var nEntries = 0
    var fileBytes = 0L
    var padBytes = 0L
    val exts = scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.Set[String]]()
    var ended = false
    var ok = true
    while (ok && !ended && pos + 512 <= n) {
      if (isZeroBlock(pos)) {
        if (pos + 1024 <= n && isZeroBlock(pos + 512)) { ended = true; pos += 1024 }
        else ok = false // a lone zero block is a malformed end marker
      } else {
        val magicOk = bytes(pos + 257) == 'u' && bytes(pos + 258) == 's' &&
          bytes(pos + 259) == 't' && bytes(pos + 260) == 'a' && bytes(pos + 261) == 'r'
        val size = octal(pos + 124, 12)
        val storedCk = octal(pos + 148, 8)
        var actualCk = 0L
        var i = 0
        while (i < 512) {
          actualCk += (if (i >= 148 && i < 156) ' '.toInt else bytes(pos + i) & 0xff)
          i += 1
        }
        val padded = if (size >= 0) (size + 511) / 512 * 512 else -1L
        if (!magicOk || size < 0 || storedCk != actualCk ||
          pos + 512 + padded > n) ok = false
        else {
          val typeflag = bytes(pos + 156)
          if (typeflag == '0' || typeflag == 0) {
            var e = pos
            while (e < pos + 100 && bytes(e) != 0) e += 1
            val name = new String(bytes, pos, e - pos, Ascii)
            val dot = name.lastIndexOf('.')
            val (base, ext) =
              if (dot > 0) (name.substring(0, dot), name.substring(dot + 1))
              else (name, "")
            exts.getOrElseUpdate(base, scala.collection.mutable.Set[String]()) += ext
            nEntries += 1
            fileBytes += size
            padBytes += padded - size
          }
          pos += 512 + padded.toInt
        }
      }
    }
    if (!ended && ok && pos + 512 > n && pos < n) ok = false // ragged tail
    val required = requiredExts.toSet
    TarMeta(nEntries, exts.size,
      exts.valuesIterator.count(s => required.subsetOf(s.toSet)),
      fileBytes, padBytes, pos.toLong, (n - pos).toLong)
  }

  def tarFeatures(df: DataFrame, idCol: String, payloadCol: String,
      requiredExts: Seq[String]): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_entries", "n_samples",
      "n_complete_samples", "sum_file_bytes", "sum_padding_bytes", "archive_bytes",
      "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes, requiredExts)
      (id, m.nEntries.toLong, m.nSamples.toLong, m.nCompleteSamples.toLong,
        m.sumFileBytes, m.sumPaddingBytes, m.archiveBytes, m.trailingBytes)
    }
}
