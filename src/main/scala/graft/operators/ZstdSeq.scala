package graft.operators

/** Zstandard compressed-block DECODER (RFC 8878) — the FULL
  * non-dictionary format, closing the entropy boundary q366/q368
  * could only walk structurally:
  *
  *   - literals: Raw, RLE, Compressed (Huffman — tree from direct
  *     4-bit weights or FSE-compressed weights via two interleaved
  *     states; 1-stream and 4-stream layouts), and Treeless (the
  *     frame's previous table);
  *   - sequences: Predefined_Mode (tables BUILT from the RFC's
  *     default normalized counts via the spec's spread algorithm),
  *     RLE_Mode, FSE_Compressed (the table DESCRIPTION read from the
  *     stream's forward bitstream), and Repeat_Mode (previous
  *     block's tables);
  *   - the backward bitstream, interleaved state updates, the
  *     three-slot repeat-offset history (persisting across blocks,
  *     with the literals-length-0 shift), and the frame WINDOW
  *     (matches referencing earlier blocks' decoded output).
  *
  * The decoder is graded by the REFERENCE implementation, not by a
  * round-trip with our own encoder: ZstdSeqSpec pins real zstd-CLI
  * frames byte-for-byte — one-sequence/overlap/multi-sequence
  * predefined forms, FSE_Compressed-mode frames, 1-stream and
  * 4-stream Huffman frames — each decoded to its exact content AND
  * verified against the frame's OWN XXH64 checksum. Dictionary
  * frames are rejected at the frame level; on an intact frame every
  * decode failure is a DEFECT (a treeless/Repeat FIRST block is
  * spec-corrupt), while blocks whose cross-block state was lost to
  * an earlier failure are skipped as honestly undecodable.
  *
  * Bomb discipline: the caller passes `maxOut`; decoded output and
  * every declared length is bounded against it BEFORE allocation
  * grows (the gzip/LZ4 rule).
  */
object ZstdSeq {

  // ------------------------------------------------------------------
  // FSE decoding table (RFC 8878 §4.1)

  final case class FseTable(accuracyLog: Int, symbol: Array[Int],
                            numBits: Array[Int], baseline: Array[Int])

  /** Build the decoding table from normalized counts (-1 = the
    * "less than 1" probability: one cell at the table's END, full
    * accuracyLog-bit state reload).
    */
  def buildFse(norm: Array[Int], accuracyLog: Int): FseTable = {
    val tableSize = 1 << accuracyLog
    val cells = new Array[Int](tableSize)
    val symbolNext = new Array[Int](norm.length)
    var highThreshold = tableSize - 1
    var s = 0
    while (s < norm.length) {
      if (norm(s) == -1) {
        cells(highThreshold) = s; highThreshold -= 1
        symbolNext(s) = 1
      } else symbolNext(s) = norm(s)
      s += 1
    }
    val step = (tableSize >> 1) + (tableSize >> 3) + 3
    val mask = tableSize - 1
    var pos = 0
    s = 0
    while (s < norm.length) {
      var i = 0
      while (i < norm(s)) { // skips -1 and 0 counts
        cells(pos) = s
        do { pos = (pos + step) & mask } while (pos > highThreshold)
        i += 1
      }
      s += 1
    }
    require(pos == 0, s"FSE spread did not close (pos=$pos)")
    val symbol = new Array[Int](tableSize)
    val numBits = new Array[Int](tableSize)
    val baseline = new Array[Int](tableSize)
    var u = 0
    while (u < tableSize) {
      val sym = cells(u)
      val nextState = symbolNext(sym); symbolNext(sym) += 1
      val nb = accuracyLog - (31 - Integer.numberOfLeadingZeros(nextState))
      symbol(u) = sym
      numBits(u) = nb
      baseline(u) = (nextState << nb) - tableSize
      u += 1
    }
    FseTable(accuracyLog, symbol, numBits, baseline)
  }

  // Predefined distributions (RFC 8878 §3.1.1.3.2.2.1)
  val LLDefaultNorm: Array[Int] = Array(
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
    2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
    -1, -1, -1, -1)
  val MLDefaultNorm: Array[Int] = Array(
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
    -1, -1, -1, -1, -1)
  val OFDefaultNorm: Array[Int] = Array(
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1)

  lazy val LLDefault: FseTable = buildFse(LLDefaultNorm, 6)
  lazy val MLDefault: FseTable = buildFse(MLDefaultNorm, 6)
  lazy val OFDefault: FseTable = buildFse(OFDefaultNorm, 5)

  // code → (baseline, extra bits) (RFC 8878 §3.1.1.3.2.1.1)
  private val LLBase = Array(
    0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024, 2048,
    4096, 8192, 16384, 32768, 65536)
  private val LLBits = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private val MLBase = Array(
    3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18,
    19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34,
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027,
    2051, 4099, 8195, 16387, 32771, 65539)
  private val MLBits = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  // ------------------------------------------------------------------
  // FSE table DESCRIPTION reader (RFC 8878 §4.1.1): a forward
  // little-endian bitstream encoding the normalized counts with
  // variable-width values (width shrinks as probability mass is
  // spent) and 2-bit run codes after zeros. This is what
  // FSE_Compressed sequence modes and Huffman-weight tables ship.

  /** @return (normalized counts sized maxSymbol+1, accuracyLog,
    *         bytes consumed) or None on a malformed description
    */
  def readFseDistribution(bytes: Array[Byte], off: Int, end: Int,
                          maxSymbol: Int, maxAccuracy: Int): Option[(Array[Int], Int, Int)] = {
    if (off >= end) return None
    val limitBits = (end - off) * 8
    def peek(bitPos: Int): Long = {
      val byteOff = off + (bitPos >> 3)
      var v = 0L
      var i = 0
      while (i < 5 && byteOff + i < end) {
        v |= (bytes(byteOff + i) & 0xffL) << (8 * i); i += 1
      }
      v >>> (bitPos & 7)
    }
    var bitPos = 0
    val accLog = ((peek(0) & 0xF) + 5).toInt
    bitPos = 4
    if (accLog > maxAccuracy) return None
    var remaining = (1 << accLog) + 1
    var threshold = 1 << accLog
    var nbBits = accLog + 1
    val norm = new Array[Int](maxSymbol + 1)
    var charnum = 0
    var previous0 = false
    while (remaining > 1 && charnum <= maxSymbol) {
      if (bitPos + nbBits > limitBits + 7) return None
      if (previous0) {
        // zero-run extension: 2-bit groups, 0b11 = three more zeros
        while ((peek(bitPos) & 3) == 3 && bitPos + 2 <= limitBits) {
          charnum += 3; bitPos += 2
        }
        charnum += (peek(bitPos) & 3).toInt
        bitPos += 2
        previous0 = false
        if (charnum > maxSymbol) return None
      } else {
        val max = (2 * threshold - 1) - remaining
        val bs = peek(bitPos)
        var count =
          if ((bs & (threshold - 1)) < max) {
            bitPos += nbBits - 1
            (bs & (threshold - 1)).toInt
          } else {
            val c0 = (bs & (2 * threshold - 1)).toInt
            bitPos += nbBits
            if (c0 >= threshold) c0 - max else c0
          }
        count -= 1 // coded values are count+1; -1 = "less than 1"
        remaining -= math.abs(count)
        if (remaining < 0) return None
        norm(charnum) = count
        charnum += 1
        previous0 = count == 0
        while (remaining > 1 && remaining < threshold) {
          nbBits -= 1; threshold >>= 1
        }
      }
    }
    if (remaining != 1) return None
    if (bitPos > limitBits) return None
    Some((norm, accLog, (bitPos + 7) >> 3))
  }

  // ------------------------------------------------------------------
  // backward bitstream (RFC 8878 §4.1.1): written forward, read
  // backward from a 1-bit end marker in the last byte

  private final class BackBits(bytes: Array[Byte], start: Int, end: Int) {
    // number of readable bits below the marker; -1 = invalid stream
    var bitPos: Int = {
      if (end <= start) -1
      else {
        val last = bytes(end - 1) & 0xff
        if (last == 0) -1 // no marker: corrupt
        else (end - 1 - start) * 8 + (31 - Integer.numberOfLeadingZeros(last))
      }
    }
    def ok: Boolean = bitPos >= 0
    /** Read `n` bits moving DOWNWARD; bits assemble little-endian. */
    def read(n: Int): Int = {
      if (n == 0) return 0
      bitPos -= n
      if (bitPos < 0) return 0 // caller checks ok via bitPos
      var v = 0
      var i = 0
      while (i < n) {
        val b = bitPos + i
        val bit = (bytes(start + (b >> 3)) >> (b & 7)) & 1
        v |= bit << i
        i += 1
      }
      v
    }
  }

  // ------------------------------------------------------------------
  // Huffman literals (RFC 8878 §4.2): tree description (direct 4-bit
  // weights or FSE-compressed weights via two interleaved states),
  // canonical table build with the deduced last weight, and the
  // backward per-stream decode (1-stream and 4-stream forms).

  final case class HufTable(maxBits: Int, symbol: Array[Int], numBits: Array[Int])

  /** FSE decompression with two interleaved states (the weights
    * codec): decode until the backward stream exhausts, flushing the
    * opposite state's symbol on overflow — the reference algorithm.
    */
  private def fseInterleaved2(bytes: Array[Byte], start: Int, end: Int,
                              table: FseTable, maxOut: Int): Option[Array[Int]] = {
    if (end <= start) return None
    val last = bytes(end - 1) & 0xff
    if (last == 0) return None
    var bitPos = (end - 1 - start) * 8 + (31 - Integer.numberOfLeadingZeros(last))
    // padded backward read: bits below stream start arrive as zeros in
    // the LOW positions (the reference's shift-left padding)
    def readPadded(n: Int): Int = {
      val newPos = bitPos - n
      val avail = if (newPos < 0) bitPos else n
      val base = math.max(newPos, 0)
      var v = 0
      var i = 0
      while (i < avail) {
        val b = base + i
        v |= ((bytes(start + (b >> 3)) >> (b & 7)) & 1) << i
        i += 1
      }
      bitPos = newPos
      if (newPos < 0) v << (-newPos) else v
    }
    var s1 = readPadded(table.accuracyLog)
    var s2 = readPadded(table.accuracyLog)
    if (bitPos < 0) return None
    val out = new scala.collection.mutable.ArrayBuffer[Int](64)
    def step(state: Int): Int = { // emits symbol, returns updated state
      out += table.symbol(state)
      table.baseline(state) + readPadded(table.numBits(state))
    }
    var done = false
    while (!done) {
      if (out.length > maxOut) return None
      s1 = step(s1)
      if (bitPos < 0) { out += table.symbol(s2); done = true }
      else {
        s2 = step(s2)
        if (bitPos < 0) { out += table.symbol(s1); done = true }
      }
    }
    Some(out.toArray)
  }

  /** Canonical Huffman decode table from EXPLICIT weights (the last
    * weight is deduced here, per spec). None on inconsistent weights.
    */
  def buildHuf(explicitWeights: Array[Int]): Option[HufTable] = {
    if (explicitWeights.isEmpty || explicitWeights.exists(w => w < 0 || w > 11))
      return None
    var total = 0L
    explicitWeights.foreach(w => if (w > 0) total += 1L << (w - 1))
    if (total == 0) return None
    val maxBits = 64 - java.lang.Long.numberOfLeadingZeros(total)
    if (maxBits > 11) return None
    val rest = (1L << maxBits) - total
    if (rest == 0 || (rest & (rest - 1)) != 0) return None // must be a power of 2
    val lastWeight = (64 - java.lang.Long.numberOfLeadingZeros(rest)).toInt
    val weights = explicitWeights :+ lastWeight
    val size = 1 << maxBits
    val symbol = new Array[Int](size)
    val numBits = new Array[Int](size)
    // entries per length class, symbols ascending, classes from the
    // LONGEST code (smallest weight) upward
    val rankCount = new Array[Int](maxBits.toInt + 2)
    weights.foreach(w => if (w > 0) rankCount(maxBits.toInt + 1 - w) += 1)
    val rankIdx = new Array[Int](maxBits.toInt + 2)
    rankIdx(maxBits.toInt) = 0
    var l = maxBits.toInt
    while (l >= 1) {
      rankIdx(l - 1) = rankIdx(l) + rankCount(l) * (1 << (maxBits.toInt - l))
      l -= 1
    }
    if (rankIdx(0) != size) return None
    val cursor = rankIdx.clone()
    var s = 0
    while (s < weights.length) {
      val w = weights(s)
      if (w > 0) {
        val len = maxBits.toInt + 1 - w
        val span = 1 << (maxBits.toInt - len)
        var i = 0
        while (i < span) {
          symbol(cursor(len) + i) = s
          numBits(cursor(len) + i) = len
          i += 1
        }
        cursor(len) += span
      }
      s += 1
    }
    Some(HufTable(maxBits.toInt, symbol, numBits))
  }

  /** Huffman tree description: (table, bytes consumed incl. header). */
  def readHufTable(bytes: Array[Byte], off: Int, end: Int): Option[(HufTable, Int)] = {
    if (off >= end) return None
    val h = bytes(off) & 0xff
    if (h >= 128) {
      // direct: 4-bit weights, big nibble first
      val n = h - 127
      val nBytes = (n + 1) / 2
      if (off + 1 + nBytes > end) return None
      val w = new Array[Int](n)
      var i = 0
      while (i < n) {
        val b = bytes(off + 1 + (i >> 1)) & 0xff
        w(i) = if ((i & 1) == 0) b >> 4 else b & 0xF
        i += 1
      }
      buildHuf(w).map(t => (t, 1 + nBytes))
    } else {
      // FSE-compressed weights: h = compressed size
      if (h == 0 || off + 1 + h > end) return None
      val s = off + 1
      readFseDistribution(bytes, s, s + h, maxSymbol = 15, maxAccuracy = 6)
        .flatMap { case (norm, accLog, used) =>
          scala.util.Try(buildFse(norm, accLog)).toOption.flatMap { table =>
            fseInterleaved2(bytes, s + used, s + h, table, maxOut = 255)
          }
        }
        .flatMap(buildHuf)
        .map(t => (t, 1 + h))
    }
  }

  /** Decode ONE Huffman-coded backward stream to exactly `expected`
    * symbols, consuming the bitstream exactly.
    */
  private def decodeHufStream(bytes: Array[Byte], start: Int, end: Int,
                              table: HufTable, expected: Int,
                              out: Array[Byte], outOff: Int): Boolean = {
    if (end <= start) return expected == 0
    val last = bytes(end - 1) & 0xff
    if (last == 0) return false
    var bitPos = (end - 1 - start) * 8 + (31 - Integer.numberOfLeadingZeros(last))
    def peek(n: Int): Int = { // padded (zeros below stream start)
      var v = 0
      var i = 0
      while (i < n) {
        val b = bitPos - n + i
        if (b >= 0) v |= ((bytes(start + (b >> 3)) >> (b & 7)) & 1) << i
        i += 1
      }
      v
    }
    var produced = 0
    while (produced < expected) {
      if (bitPos <= 0) return false
      val idx = peek(table.maxBits)
      val nb = table.numBits(idx)
      if (nb == 0) return false
      out(outOff + produced) = table.symbol(idx).toByte
      bitPos -= nb
      produced += 1
    }
    bitPos == 0 // exact consumption
  }

  /** The Compressed/Treeless literals form: [tree +] 1 or 4 streams.
    * `preset` non-null = Treeless (reuse the frame's last table).
    * Returns (literals, bytes consumed, table used).
    */
  private def decodeHufLiterals(bytes: Array[Byte], off: Int, end: Int,
                                maxOut: Int,
                                preset: HufTable): Option[(Array[Byte], Int, HufTable)] = {
    if (off >= end) return None
    val b0 = bytes(off) & 0xff
    val sf = (b0 >> 2) & 3
    // header: sf=00 -> 3 bytes, 1 stream, 10+10 bits;
    // 01 -> 3 bytes, 4 streams, 10+10; 10 -> 4 bytes, 14+14;
    // 11 -> 5 bytes, 18+18
    val (hdrLen, nStreams, regen, comp) = sf match {
      case 0 | 1 =>
        if (end - off < 3) return None
        val v = Bytes.le24(bytes, off) >>> 4
        (3, if (sf == 0) 1 else 4, v & 0x3FF, (v >> 10) & 0x3FF)
      case 2 =>
        if (end - off < 4) return None
        val v = Bytes.le32u(bytes, off) >>> 4
        (4, 4, (v & 0x3FFF).toInt, ((v >> 14) & 0x3FFF).toInt)
      case _ =>
        if (end - off < 5) return None
        val v = (Bytes.le32u(bytes, off) | ((bytes(off + 4) & 0xffL) << 32)) >>> 4
        (5, 4, (v & 0x3FFFF).toInt, ((v >> 18) & 0x3FFFF).toInt)
    }
    if (regen > maxOut) return None
    val compStart = off + hdrLen
    val compEnd = compStart + comp
    if (comp <= 0 || compEnd > end) return None
    val tableAndStart: Option[(HufTable, Int)] =
      if (preset != null) Some((preset, compStart))
      else readHufTable(bytes, compStart, compEnd)
        .map { case (t, used) => (t, compStart + used) }
    tableAndStart.flatMap { case (table, streamStart) =>
      val out = new Array[Byte](regen)
      var p = streamStart
      if (nStreams == 1) {
        if (decodeHufStream(bytes, p, compEnd, table, regen, out, 0))
          Some((out, hdrLen + comp, table))
        else None
      } else {
        // 6-byte jump table: LE16 sizes of streams 1-3
        if (compEnd - p < 6) return None
        val (s1, s2, s3) = (Bytes.le16(bytes, p), Bytes.le16(bytes, p + 2), Bytes.le16(bytes, p + 4))
        p += 6
        val streamTotal = compEnd - p
        if (s1 + s2 + s3 > streamTotal) return None
        val per = (regen + 3) / 4
        val last = regen - 3 * per
        if (last < 0) return None
        val bounds = Seq((p, p + s1, per), (p + s1, p + s1 + s2, per),
          (p + s1 + s2, p + s1 + s2 + s3, per),
          (p + s1 + s2 + s3, compEnd, last))
        var outPos = 0
        val ok = bounds.forall { case (a, b, n) =>
          val r = decodeHufStream(bytes, a, b, table, n, out, outPos)
          outPos += n
          r
        }
        if (ok) Some((out, hdrLen + comp, table)) else None
      }
    }
  }

  // per-stream decoder config (a real FSE table or an RLE pin) and
  // its running state
  private final case class StreamCfg(table: FseTable, rleSymbol: Int)
  private final class StreamState(val cfg: StreamCfg) {
    var state = 0
    def isRle: Boolean = cfg.table == null
    def init(br: BackBits): Unit = if (!isRle) state = br.read(cfg.table.accuracyLog)
    def sym: Int = if (isRle) cfg.rleSymbol else cfg.table.symbol(state)
    def update(br: BackBits): Unit = if (!isRle)
      state = cfg.table.baseline(state) + br.read(cfg.table.numBits(state))
  }

  /** Cross-block frame state (RFC 8878): repeat offsets persist across
    * blocks, Repeat_Mode reuses the previous block's stream tables,
    * Treeless literals reuse the previous Huffman table, and sequence
    * matches may reference the WINDOW — decoded output of earlier
    * blocks. One instance per frame; a fresh instance = the
    * single-block behavior.
    */
  final class FrameCtx(windowCap: Int = 1 << 22) {
    private[ZstdSeq] var rep1 = 1L
    private[ZstdSeq] var rep2 = 4L
    private[ZstdSeq] var rep3 = 8L
    private[ZstdSeq] var hufTable: HufTable = null
    private[ZstdSeq] var llCfg: StreamCfg = null
    private[ZstdSeq] var ofCfg: StreamCfg = null
    private[ZstdSeq] var mlCfg: StreamCfg = null
    private[ZstdSeq] var hist: Array[Byte] = Array.emptyByteArray
    /** Append decoded content to the rolling window (raw/RLE blocks
      * feed it too — a later match may reference them).
      */
    def pushHist(b: Array[Byte], off: Int, len: Int): Unit = {
      if (len >= windowCap)
        hist = java.util.Arrays.copyOfRange(b, off + len - windowCap, off + len)
      else if (len > 0) {
        val tot = math.min(windowCap, hist.length + len)
        val nh = new Array[Byte](tot)
        val fromHist = tot - len
        System.arraycopy(hist, hist.length - fromHist, nh, 0, fromHist)
        System.arraycopy(b, off, nh, fromHist, len)
        hist = nh
      }
    }
  }

  // ------------------------------------------------------------------

  /** Decode one COMPRESSED block's content. `None` = the block uses a
    * form outside the supported boundary (Huffman literals,
    * FSE_Compressed/Repeat sequence modes) or is malformed — the
    * caller distinguishes via [[probe]].
    */
  def decodeBlock(bytes: Array[Byte], off: Int, end: Int,
                  maxOut: Int,
                  ctx: FrameCtx = new FrameCtx()): Option[Array[Byte]] = {
    if (end - off < 1) return None
    val b0 = bytes(off) & 0xff
    val litType = b0 & 3
    if (litType == 3 && ctx.hufTable == null)
      return None // treeless with no prior table in the frame
    var p = off
    val lit: Array[Byte] =
      if (litType >= 2) {
        // Huffman literals: [tree +] 1 or 4 streams; treeless reuses
        // the frame's last table
        decodeHufLiterals(bytes, off, end, maxOut,
            if (litType == 3) ctx.hufTable else null) match {
          case Some((a, consumed, table)) =>
            p += consumed
            ctx.hufTable = table
            a
          case None => return None
        }
      } else {
        // Raw/RLE size forms: bit2 clear -> 1-byte header, 5-bit size;
        // sf=01 -> 2 bytes, 12 bits; sf=11 -> 3 bytes, 20 bits
        val (litHdrLen, regen) =
          if ((b0 & 4) == 0) (1, b0 >> 3)
          else if ((b0 & 8) == 0) {
            if (end - off < 2) return None
            (2, Bytes.le16(bytes, off) >> 4)
          } else {
            if (end - off < 3) return None
            (3, Bytes.le24(bytes, off) >> 4)
          }
        if (regen > maxOut) return None
        p += litHdrLen
        if (litType == 0) {
          if (regen > end - p) return None
          val a = java.util.Arrays.copyOfRange(bytes, p, p + regen)
          p += regen
          a
        } else { // RLE
          if (p >= end) return None
          val a = new Array[Byte](regen)
          java.util.Arrays.fill(a, bytes(p))
          p += 1
          a
        }
      }
    // sequences section header
    if (p >= end) return None
    val s0 = bytes(p) & 0xff
    var nbSeq = 0
    if (s0 < 128) { nbSeq = s0; p += 1 }
    else if (s0 < 255) {
      if (end - p < 2) return None
      nbSeq = ((s0 - 128) << 8) + (bytes(p + 1) & 0xff); p += 2
    } else {
      if (end - p < 3) return None
      nbSeq = Bytes.le16(bytes, p + 1) + 0x7F00
      p += 3
    }
    if (nbSeq == 0)
      return if (p == end) Some(lit) else None
    if (p >= end) return None
    val modes = bytes(p) & 0xff
    p += 1
    if ((modes & 3) != 0) return None // reserved bits must be zero
    def mkStream(mode: Int, table: FseTable, maxSym: Int, maxAcc: Int,
                 prev: StreamCfg): Option[StreamState] =
      mode match {
        case 0 => Some(new StreamState(StreamCfg(table, -1)))
        case 1 =>
          if (p >= end) None
          else {
            val sym = bytes(p) & 0xff; p += 1
            if (sym > maxSym) None else Some(new StreamState(StreamCfg(null, sym)))
          }
        case 2 => // FSE_Compressed: the table description rides the stream
          readFseDistribution(bytes, p, end, maxSym, maxAcc).flatMap {
            case (norm, accLog, used) =>
              p += used
              scala.util.Try(buildFse(norm, accLog)).toOption
                .map(t => new StreamState(StreamCfg(t, -1)))
          }
        case _ => // Repeat: the previous block's table/pin, verbatim
          Option(prev).map(new StreamState(_))
      }
    // header order in the byte stream: LL, OF, ML; per-stream
    // accuracy ceilings are the RFC's (LL 9, OF 8, ML 9)
    val llOpt = mkStream((modes >> 6) & 3, LLDefault, 35, 9, ctx.llCfg)
    val ofOpt = mkStream((modes >> 4) & 3, OFDefault, 31, 8, ctx.ofCfg)
    val mlOpt = mkStream((modes >> 2) & 3, MLDefault, 52, 9, ctx.mlCfg)
    if (llOpt.isEmpty || ofOpt.isEmpty || mlOpt.isEmpty) return None
    val (llS, ofS, mlS) = (llOpt.get, ofOpt.get, mlOpt.get)
    val br = new BackBits(bytes, p, end)
    if (!br.ok) return None
    // initial states: LL, then OF, then ML
    llS.init(br); ofS.init(br); mlS.init(br)
    if (br.bitPos < 0) return None
    var buf = new Array[Byte](math.min(maxOut, 1 << 16))
    var o = 0
    def ensure(n: Int): Boolean = {
      if (o + n > maxOut) false
      else {
        if (o + n > buf.length)
          buf = java.util.Arrays.copyOf(buf,
            math.min(maxOut, math.max(buf.length * 2, o + n)))
        true
      }
    }
    var litPos = 0
    // repeat offsets persist ACROSS blocks within a frame
    var rep1 = ctx.rep1; var rep2 = ctx.rep2; var rep3 = ctx.rep3
    val hist = ctx.hist
    var i = 0
    while (i < nbSeq) {
      val ofCode = ofS.sym
      if (ofCode > 30) return None
      val offsetValue = (1L << ofCode) + (
        // offset codes can exceed 24 bits: read in two pulls to stay
        // inside the Int-sized reader
        if (ofCode <= 16) br.read(ofCode).toLong
        else {
          val hi = br.read(ofCode - 16).toLong
          (hi << 16) | (br.read(16).toLong & 0xffff)
        })
      val mlCode = mlS.sym
      if (mlCode > 52) return None
      val ml = MLBase(mlCode) + br.read(MLBits(mlCode))
      val llCode = llS.sym
      if (llCode > 35) return None
      val ll = LLBase(llCode) + br.read(LLBits(llCode))
      if (br.bitPos < 0) return None
      // repeat-offset resolution (RFC 8878 §3.1.1.5)
      val offset: Long =
        if (offsetValue > 3) {
          val x = offsetValue - 3
          rep3 = rep2; rep2 = rep1; rep1 = x
          x
        } else {
          val v = if (ll == 0) offsetValue + 1 else offsetValue
          v match {
            case 1 => rep1
            case 2 => val x = rep2; rep2 = rep1; rep1 = x; x
            case 3 => val x = rep3; rep3 = rep2; rep2 = rep1; rep1 = x; x
            case _ => // 4: rep1 - 1 (ll == 0, offsetValue == 3)
              val x = rep1 - 1
              if (x <= 0) return None
              rep3 = rep2; rep2 = rep1; rep1 = x
              x
          }
        }
      // state updates BEFORE executing, skipped after the last
      // sequence; order: LL, ML, OF
      if (i != nbSeq - 1) {
        llS.update(br); mlS.update(br); ofS.update(br)
        if (br.bitPos < 0) return None
      }
      // execute: literals copy, then match copy (negative sources
      // read the frame WINDOW — earlier blocks' decoded output)
      if (litPos + ll > lit.length || !ensure(ll + ml)) return None
      System.arraycopy(lit, litPos, buf, o, ll)
      litPos += ll; o += ll
      if (offset > o + hist.length || ml < 3) return None
      val src = (o - offset).toInt
      var j = 0
      while (j < ml) {
        val s = src + j
        buf(o + j) = if (s >= 0) buf(s) else hist(hist.length + s)
        j += 1
      }
      o += ml
      i += 1
    }
    // the bitstream must be consumed EXACTLY, and the remaining
    // literals flush to the output
    if (br.bitPos != 0) return None
    val rest = lit.length - litPos
    if (!ensure(rest)) return None
    System.arraycopy(lit, litPos, buf, o, rest)
    o += rest
    // commit cross-block state only on success
    ctx.rep1 = rep1; ctx.rep2 = rep2; ctx.rep3 = rep3
    ctx.llCfg = llS.cfg; ctx.ofCfg = ofS.cfg; ctx.mlCfg = mlS.cfg
    Some(java.util.Arrays.copyOf(buf, o))
  }

  // ------------------------------------------------------------------
  // dictionaries (RFC 8878 §5) — the r14 `dict_gated` class completed:
  // a caller-SUPPLIED dictionary seeds the frame the way the reference
  // decoder's DDict does — window content (matches may reach into it),
  // the three repeat offsets, the Huffman literals table (a first
  // block may be Treeless) and the three FSE tables (a first block may
  // use Repeat_Mode). Frames naming an id the caller did NOT supply
  // stay declined (`dict_gated`), exactly as before.

  /** A parsed dictionary: `Magic(0xEC30A437) · Dictionary_ID ·
    * Entropy_Tables (Huffman desc, then FSE ncounts for Offsets,
    * Match_Lengths, Literals_Lengths) · 3 × 4-byte LE repeat
    * offsets · Content`.
    */
  final case class ZstdDictionary(dictId: Long, huf: HufTable,
      ofTable: FseTable, mlTable: FseTable, llTable: FseTable,
      rep1: Long, rep2: Long, rep3: Long, content: Array[Byte])

  val DictMagic = 0xEC30A437L

  /** Parse a dictionary blob. None = not a magic-led dictionary or any
    * entropy table fails to decode (fail-closed: a half-loaded
    * dictionary could seed silently wrong state).
    */
  def parseDictionary(bytes: Array[Byte]): Option[ZstdDictionary] = {
    val n = bytes.length
    if (n < 8 || Bytes.le32u(bytes, 0) != DictMagic) return None
    val id = Bytes.le32u(bytes, 4)
    var p = 8
    val hufOpt = readHufTable(bytes, p, n)
    if (hufOpt.isEmpty) return None
    val (huf, hufUsed) = hufOpt.get
    p += hufUsed
    def fse(maxSym: Int, maxAcc: Int): Option[FseTable] =
      readFseDistribution(bytes, p, n, maxSym, maxAcc).flatMap {
        case (norm, accLog, used) =>
          p += used
          scala.util.Try(buildFse(norm, accLog)).toOption
      }
    // RFC order: Offsets, Match_Lengths, Literals_Lengths
    val of = fse(31, 8); if (of.isEmpty) return None
    val ml = fse(52, 9); if (ml.isEmpty) return None
    val ll = fse(35, 9); if (ll.isEmpty) return None
    if (n - p < 12) return None
    val (r1, r2, r3) = (Bytes.le32u(bytes, p), Bytes.le32u(bytes, p + 4), Bytes.le32u(bytes, p + 8))
    p += 12
    val content = java.util.Arrays.copyOfRange(bytes, p, n)
    // reps must be usable offsets: nonzero, within the seedable window
    if (r1 <= 0 || r2 <= 0 || r3 <= 0) return None
    Some(ZstdDictionary(id, huf, of.get, ml.get, ll.get, r1, r2, r3, content))
  }

  /** Synthetic dictionary for the closed-form fixtures: a real 2-symbol
    * Huffman table (direct weights), three single-symbol FSE tables
    * (accuracy 5), default-valued repeat offsets, caller content. The
    * PARSER cannot tell it from a trained one — every section is the
    * wire format.
    */
  def encodeDictionary(dictId: Long, content: Array[Byte]): Array[Byte] = {
    val out = new ByteSink()
    out.le32(DictMagic).le32(dictId)
    out.write(128); out.write(0x10) // huf: 1 explicit weight → 2 symbols, 1 bit
    // FSE ncount "all probability on symbol 0" at accuracy 5:
    // 4 bits accLog-5=0, then the 6-bit long-form count 63 → 33 → 32
    for (_ <- 0 until 3) { out.write(0xF0); out.write(0x03) }
    out.le32(1L).le32(4L).le32(8L) // repeat offsets
    out.write(content)
    out.toByteArray
  }

  /** A [[FrameCtx]] pre-seeded from a dictionary — the DDict load. */
  def seededCtx(d: ZstdDictionary, maxOut: Int): FrameCtx = {
    val ctx = new FrameCtx(maxOut)
    ctx.rep1 = d.rep1; ctx.rep2 = d.rep2; ctx.rep3 = d.rep3
    ctx.hufTable = d.huf
    ctx.llCfg = StreamCfg(d.llTable, -1)
    ctx.ofCfg = StreamCfg(d.ofTable, -1)
    ctx.mlCfg = StreamCfg(d.mlTable, -1)
    ctx.pushHist(d.content, 0, d.content.length)
    ctx
  }

  // ------------------------------------------------------------------
  // frame-level decode census

  final case class SeqCensus(valid: Int, nBlocks: Int, nRaw: Int, nRle: Int,
                             nCompressed: Int, nDecoded: Int, nUnsupported: Int,
                             nFailed: Int, decodedBytes: Long, contentOk: Int,
                             dictGated: Int = 0, dictUsed: Int = 0)

  private val InvalidCensus = SeqCensus(0, 0, 0, 0, 0, 0, 0, 0, 0L, -1)

  /** Walk ONE zstd frame and decode every block it can: raw and RLE
    * blocks directly, compressed blocks through [[decodeBlock]].
    * When the frame carries a content checksum AND every block
    * decoded, `contentOk` verifies XXH64-low32 over the decoded
    * stream (1/0); otherwise -1. Single-frame census — the fixture
    * and synthetic shapes; a declared-unsupported block never counts
    * as failed.
    *
    * Two honest-skip classes ride `n_unsupported`, never `n_failed`:
    *
    *  - a frame declaring a DICTIONARY id (`dict_gated` = 1) is a
    *    VALID frame this decoder declines — the block structure is
    *    still walked (raw/RLE content decodes; it does not depend on
    *    the dictionary) but every compressed block is counted
    *    unsupported, since its entropy tables/window may seed from
    *    dictionary content the walker does not have;
    *  - after a FAILED block, every remaining compressed block in the
    *    frame is state-lost (LZ4's linked-block discipline): its
    *    repeat-offset history and window came from bytes never
    *    produced, so a "successful" decode could be silently wrong —
    *    skipped and counted, never guessed at.
    */
  def frameSeqCensus(bytes: Array[Byte], maxOut: Int = 1 << 22,
                     dicts: Map[Long, ZstdDictionary] = Map.empty): SeqCensus =
    frameSeqCensusImpl(bytes, maxOut, dicts)._1

  /** Whole-frame DECODE to content bytes: Some iff the frame is valid,
    * EVERY block decoded (nothing unsupported, nothing failed, content
    * within maxOut), and — when the frame carries a checksum — it
    * verifies. The API parquet's zstd column chunks ride.
    */
  def decodeFrame(bytes: Array[Byte], maxOut: Int = 1 << 26,
                  dicts: Map[Long, ZstdDictionary] = Map.empty): Option[Array[Byte]] = {
    val (c, content) = frameSeqCensusImpl(bytes, maxOut, dicts)
    if (c.valid == 1 && content != null && c.nUnsupported == 0 &&
      c.nFailed == 0 && c.contentOk != 0) Some(content)
    else None
  }

  private def frameSeqCensusImpl(bytes: Array[Byte], maxOut: Int,
      dicts: Map[Long, ZstdDictionary]): (SeqCensus, Array[Byte]) = {
    val n = bytes.length
    if (n < 6 || Bytes.le32u(bytes, 0) != 0xFD2FB528L) return (InvalidCensus, null)
    val fhd = bytes(4) & 0xff
    // Dictionary_ID_Flag (RFC 8878 §3.1.1.1.1): with the named
    // dictionary SUPPLIED the frame decodes against its seeded state;
    // an unsupplied id stays a DECLINED (dict_gated) frame, never an
    // invalid one
    val didLen = (fhd & 3) match {
      case 0 => 0
      case 1 => 1
      case 2 => 2
      case _ => 4
    }
    val single = (fhd & 0x20) != 0
    val hasChecksum = (fhd & 0x04) != 0
    val fcsLen = (fhd >> 6) match {
      case 0 => if (single) 1 else 0
      case 1 => 2
      case 2 => 4
      case _ => 8
    }
    var pos = 5 + (if (single) 0 else 1) + didLen + fcsLen
    if (pos > n) return (InvalidCensus, null)
    val didPos = 5 + (if (single) 0 else 1)
    val dictId: Long = didLen match {
      case 0 => -1L
      case 1 => bytes(didPos) & 0xffL
      case 2 => Bytes.le16(bytes, didPos).toLong
      case _ => Bytes.le32u(bytes, didPos)
    }
    val dict = if (didLen > 0) dicts.get(dictId) else None
    val dictGated = didLen > 0 && dict.isEmpty
    val dictUsed = dict.isDefined
    var nBlocks = 0; var nRaw = 0; var nRle = 0; var nComp = 0
    var nDec = 0; var nUnsup = 0; var nFail = 0
    var decodedBytes = 0L
    val content = new java.io.ByteArrayOutputStream()
    var tracked = true
    // cross-block frame state: repeat offsets, Repeat-mode tables,
    // treeless Huffman table, and the match window. A failed block
    // loses it (matches could reference bytes never produced), so the
    // ctx resets — later self-contained blocks still decode.
    var ctx = dict.map(seededCtx(_, maxOut)).getOrElse(new FrameCtx(maxOut))
    var ctxBroken = false
    var last = false
    while (!last) {
      if (n - pos < 3) return (InvalidCensus, null)
      val h = Bytes.le24(bytes, pos).toLong
      pos += 3
      last = (h & 1) != 0
      val tpe = ((h >> 1) & 3).toInt
      val size = (h >> 3).toInt
      nBlocks += 1
      tpe match {
        case 0 => // raw
          if (size > n - pos) return (InvalidCensus, null)
          nRaw += 1
          decodedBytes += size
          ctx.pushHist(bytes, pos, size)
          if (tracked && content.size() + size <= maxOut)
            content.write(bytes, pos, size)
          else tracked = false
          pos += size
        case 1 => // RLE: size field = regenerated length, payload 1 byte
          if (pos >= n || size > maxOut) return (InvalidCensus, null)
          nRle += 1
          decodedBytes += size
          val rle = new Array[Byte](size)
          java.util.Arrays.fill(rle, bytes(pos))
          ctx.pushHist(rle, 0, size)
          if (tracked && content.size() + size <= maxOut)
            content.write(rle, 0, size)
          else tracked = false
          pos += 1
        case 2 =>
          if (size > n - pos) return (InvalidCensus, null)
          nComp += 1
          if (dictGated || ctxBroken) {
            // honest skip, no decode attempt: dictionary-seeded state is
            // unavailable / frame state was lost to an earlier failure —
            // a decode here could SUCCEED with wrong bytes (repeat
            // offsets and window both reset), so it must not be counted
            // decoded, and its failure would not be a defect either
            nUnsup += 1
            tracked = false
          } else decodeBlock(bytes, pos, pos + size, maxOut, ctx) match {
            case Some(dec) =>
              nDec += 1
              decodedBytes += dec.length
              ctx.pushHist(dec, 0, dec.length)
              if (tracked && content.size() + dec.length <= maxOut)
                content.write(dec, 0, dec.length)
              else tracked = false
            case None =>
              nFail += 1
              tracked = false
              ctx = new FrameCtx(maxOut)
              ctxBroken = true
          }
          pos += size
        case _ => return (InvalidCensus, null) // reserved
      }
    }
    var contentOk = -1
    if (hasChecksum) {
      if (n - pos < 4) return (InvalidCensus, null)
      if (tracked && nUnsup == 0 && nFail == 0)
        contentOk = if (ZstdOps.xxh64Low32(content.toByteArray) == Bytes.le32u(bytes, pos)) 1 else 0
      pos += 4
    }
    (SeqCensus(if (pos == n) 1 else 0, nBlocks, nRaw, nRle, nComp,
      nDec, nUnsup, nFail, decodedBytes, contentOk,
      if (dictGated) 1 else 0, if (dictUsed) 1 else 0),
      if (tracked) content.toByteArray else null)
  }

  /** Map-only dataset census over (id, frame bytes) — the decode layer
    * q366/q368's structural walk could not reach. `dicts` (id →
    * parsed dictionary) is broadcast-by-closure: frames naming a
    * supplied id decode against it (`dict_used`), others with an id
    * stay declined (`dict_gated`).
    */
  def zstdSeqFeatures(df: org.apache.spark.sql.DataFrame, idCol: String,
                      payloadCol: String,
                      dicts: Map[Long, ZstdDictionary] = Map.empty):
      org.apache.spark.sql.DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid", "n_blocks", "n_raw", "n_rle",
      "n_compressed", "n_decoded", "n_unsupported", "n_failed", "decoded_bytes",
      "content_ok", "dict_gated", "dict_used") { (id, bytes) =>
      val c = frameSeqCensus(bytes, dicts = dicts)
      (id, c.valid.toLong, c.nBlocks.toLong, c.nRaw.toLong, c.nRle.toLong,
        c.nCompressed.toLong, c.nDecoded.toLong, c.nUnsupported.toLong,
        c.nFailed.toLong, c.decodedBytes, c.contentOk.toLong,
        c.dictGated.toLong, c.dictUsed.toLong)
    }
}
