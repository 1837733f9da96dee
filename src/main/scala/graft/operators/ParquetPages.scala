package graft.operators

import org.apache.spark.sql.DataFrame

import ParquetFooter.{walkStruct, Writer}

/** Min, max and sum of a column's decoded values (or their lengths) —
  * the fold every decode census reports; min and max read 0 when no
  * value was decoded.
  */
private[operators] final class ValueFold {
  var lo = Long.MaxValue
  var hi = Long.MinValue
  var total = 0L
  def add(x: Long): Unit = {
    total += x
    if (x < lo) lo = x
    if (x > hi) hi = x
  }
  def min(nValues: Long): Long = if (nValues == 0) 0L else lo
  def max(nValues: Long): Long = if (nValues == 0) 0L else hi
}

/** Parquet DATA-PAGE decode — the layer BELOW the page index. q377
  * reads footers, q380 prunes row groups, q413/q414 prune and price
  * pages; this module decodes the bytes those indexes point at, so a
  * lake auditor can verify actual VALUES without delegating to a full
  * scan framework: page headers (the same Thrift Compact walker as
  * the footer), definition levels and dictionary indices (the
  * RLE/bit-packed hybrid), PLAIN int64 values, and the dictionary
  * page itself — over uncompressed and snappy column chunks
  * ([[SnappyRaw]] closes the decompression layer).
  *
  * Wire layout (apache/parquet-format): a column chunk is a
  * contiguous run of `total_compressed_size` bytes holding an
  * optional DICTIONARY page then data pages, each page = PageHeader
  * (thrift compact) + payload. Targeted PageHeader fields
  * (parquet.thrift): 1 type (0 data / 2 dictionary / 3 data-v2),
  * 2 uncompressed_page_size, 3 compressed_page_size,
  * 5 DataPageHeader {1 num_values, 2 encoding,
  * 3 definition_level_encoding}, 7 DictionaryPageHeader
  * {1 num_values, 2 encoding}. A V1 data page's payload is
  * `[def-levels when the column is OPTIONAL: u32le length +
  * RLE/bit-packed hybrid at bit width 1] · values`, where values are
  * PLAIN 8-byte LE longs or `u8 bit-width · RLE/bit-packed hybrid`
  * dictionary indices (PLAIN_DICTIONARY and RLE_DICTIONARY share the
  * data-page wire shape).
  *
  * Honest boundaries, kept separate from malformation:
  *   - `gated = 1` (valid file, DECLINED class): nested or repeated
  *     schema, physical types beyond INT32/INT64 (INT32 decodes
  *     through the same path at width 4, sign-extended), codecs
  *     beyond uncompressed/snappy/zstd (zstd pages decode as single
  *     frames through [[ZstdSeq.decodeFrame]]),
  *     DELTA_LENGTH/DELTA_BYTE_ARRAY / BYTE_STREAM_SPLIT / legacy
  *     BIT_PACKED encodings. V2 data pages DECODE (levels
  *     uncompressed up front, the values region compressed alone,
  *     the num_nulls claim verified against the decoded levels), and
  *     so does DELTA_BINARY_PACKED — the V2 writer's integer
  *     fallback;
  *   - `ok = 0` (malformed): structural violations — header walk
  *     faults, page spans outside the chunk, snappy mismatch against
  *     the declared uncompressed size, duplicate or missing
  *     dictionary, an index past the dictionary, RLE exhaustion, or
  *     a value tally that does not reconcile with `num_values`.
  *
  * Fail-closed contract (house rules): every declared size checked in
  * subtraction form before use, page count capped, bit widths capped
  * at 32, a decode NEVER returns partial values — ok = 0 zeroes every
  * census field. Pinned against a REAL Spark-written (parquet-mr)
  * file — dictionary + snappy + nulls + the dictionary→PLAIN
  * fallback — in ParquetPagesSpec; fuzz target in WalkerFuzzSpec.
  */
object ParquetPages {

  // thrift enum values (parquet.thrift)
  private val TInt32 = 1
  private val TInt64 = 2
  private val EncPlain = 0
  private val EncPlainDict = 2
  private val EncRle = 3
  private val EncRleDict = 8
  private val CodecUncompressed = 0
  private val CodecSnappy = 1
  private val CodecZstd = 6
  private val MaxPages = 1 << 16
  private val MaxPageBytes = 1 << 26 // 64 MiB: largest page a decoder will buffer

  /** One column chunk's locator, from the footer: physical type,
    * codec, declared value count, first-page offsets (dictOff = -1
    * when absent) and the chunk's total compressed span. `maxDef` is
    * the flat column's definition-level ceiling (0 required /
    * 1 optional); `flat = false` marks a nested or repeated schema —
    * a gated class, never guessed at.
    */
  final case class ChunkMeta(physType: Int, codec: Int, numValues: Long,
      dataOff: Long, dictOff: Long, totalCompressed: Long,
      maxDef: Int, flat: Boolean)

  /** Per-row-group [[ChunkMeta]] for the `colIdx`-th column chunk, from
    * the one footer walk ([[ParquetFooter.footer]]). Empty = not
    * parquet / malformed footer / a target chunk missing a field it
    * needs (fail-closed).
    */
  def chunkMetas(bytes: Array[Byte], colIdx: Int): Vector[ChunkMeta] =
    ParquetFooter.footer(bytes).filter(_.schemaOk).fold(Vector.empty[ChunkMeta]) { f =>
      // flat ⇔ the root's children are exactly the leaves and none is
      // REPEATED or an inner group
      val (leaves, groups) = f.schema.drop(1).partition(_.physType >= 0)
      val flat = groups.isEmpty && !leaves.exists(_.repetition == 2) &&
        f.schema.headOption.fold(-1L)(_.numChildren) == f.schema.size - 1L
      val maxDef = if (leaves.lift(colIdx).exists(_.repetition == 1)) 1 else 0
      val cms = f.rowGroups.flatMap(_.chunks.lift(colIdx)).map { c =>
        val codec = c.codecs.lastOption.getOrElse(-1L)
        if (c.physType < 0 || codec < 0 || c.numValues < 0 || c.dataOff < 0 ||
          c.totalCompressed < 0) None
        else Some(ChunkMeta(c.physType.toInt, codec.toInt, c.numValues, c.dataOff,
          c.dictOff, c.totalCompressed, maxDef, flat))
      }
      if (cms.contains(None)) Vector.empty else cms.flatten
    }

  /** RLE/bit-packed hybrid decode: exactly `n` values of `bitWidth`
    * bits from `b[off, end)`. Runs alternate by the header varint's
    * LSB — `1`: `(header>>>1)` GROUPS of 8 values bit-packed LSB
    * first (`bitWidth` bytes per group; the final group may pad past
    * `n`, padding is discarded); `0`: `(header>>>1)` repeats of one
    * `ceil(bitWidth/8)`-byte LE value. Throws Malformed on exhaustion,
    * zero-length runs, or an RLE run overshooting `n` (bit-packed
    * padding is the only sanctioned overshoot). Returns the position
    * after the last consumed byte via the second element.
    */
  private[operators] def rleHybrid(b: Array[Byte], off: Int, end: Int,
      bitWidth: Int, n: Int): (Array[Int], Int) = {
    if (bitWidth < 0 || bitWidth > 32 || n < 0) throw Malformed
    val out = new Array[Int](n)
    val byteW = (bitWidth + 7) / 8
    var produced = 0
    val r = new ByteCursor(b, off, end)
    while (produced < n) {
      val header = r.varint()
      if ((header & 1L) == 1L) { // bit-packed: groups of 8
        val groups = header >>> 1
        if (groups <= 0 || groups > (MaxPageBytes / 8).toLong) throw Malformed
        val count = groups * 8
        val nBytes = groups * bitWidth
        if (nBytes > r.end - r.pos) throw Malformed
        val base = r.pos
        var i = 0L
        val take = math.min(count, (n - produced).toLong)
        while (i < take) {
          var v = 0L
          var bit = 0
          val start = i * bitWidth
          while (bit < bitWidth) {
            val p = start + bit
            if (((b(base + (p >>> 3).toInt) >> (p & 7).toInt) & 1) != 0)
              v |= 1L << bit
            bit += 1
          }
          out(produced + i.toInt) = v.toInt
          i += 1
        }
        produced += take.toInt
        r.pos += nBytes.toInt
      } else { // RLE
        val count = header >>> 1
        if (count <= 0 || count > (n - produced).toLong) throw Malformed
        if (byteW > r.end - r.pos) throw Malformed
        var v = 0L
        var j = byteW - 1
        while (j >= 0) { v = (v << 8) | (b(r.pos + j) & 0xffL); j -= 1 }
        r.pos += byteW
        var i = 0L
        while (i < count) { out(produced + i.toInt) = v.toInt; i += 1 }
        produced += count.toInt
      }
    }
    (out, r.pos)
  }

  /** DELTA_BINARY_PACKED decode (parquet encodings spec): header =
    * `block size · miniblocks/block · total count · first value
    * (zigzag)`, then blocks of `min-delta (zigzag) · one bit-width
    * byte per miniblock · packed deltas` — each miniblock
    * `blockSize/miniblocks` values LSB-first at its width, present
    * only while values remain. value[i] = value[i-1] + minDelta +
    * packed[i]; 32-bit columns wrap mod 2³² (the writer's int
    * arithmetic). Throws Malformed on any structural violation.
    */
  private[operators] def deltaBinaryPacked(buf: Array[Byte], off: Int,
      n: Int, width: Int): (Array[Long], Int) = {
    val r = new ByteCursor(buf, off, buf.length)
    val blockSize = r.varint()
    val miniPerBlock = r.varint()
    val total = r.varint()
    if (blockSize <= 0 || blockSize % 128 != 0 || miniPerBlock <= 0 ||
      blockSize > MaxPageBytes || miniPerBlock > blockSize ||
      blockSize % miniPerBlock != 0) throw Malformed
    val perMini = (blockSize / miniPerBlock).toInt
    if (perMini % 8 != 0) throw Malformed
    if (total != n.toLong) throw Malformed // the page header already claims n
    val first = r.zigzag() // written unconditionally, even for 0 values
    if (n == 0) return (Array.emptyLongArray, r.pos)
    val out = new Array[Long](n)
    def clamp(v: Long): Long = if (width == 4) v.toInt.toLong else v
    out(0) = clamp(first)
    var produced = 1
    var prev = out(0)
    while (produced < n) {
      val minDelta = r.zigzag()
      val widths = Array.fill(miniPerBlock.toInt)(r.u8())
      if (widths.exists(w0 => w0 > 64)) throw Malformed
      var m = 0
      while (m < widths.length && produced < n) {
        val bw = widths(m)
        val nBytes = perMini * bw / 8
        if (nBytes > r.end - r.pos) throw Malformed
        val base = r.pos
        val take = math.min(perMini, n - produced)
        var i = 0
        while (i < take) {
          var v = 0L
          var bit = 0
          val start = i.toLong * bw
          while (bit < bw) {
            val p = start + bit
            if (((buf(base + (p >>> 3).toInt) >> (p & 7).toInt) & 1) != 0)
              v |= 1L << bit
            bit += 1
          }
          prev = clamp(prev + minDelta + v)
          out(produced + i) = prev
          i += 1
        }
        produced += take
        r.pos += nBytes
        m += 1
      }
    }
    (out, r.pos)
  }

  /** The mirror encoder (fixtures + the q415 oracle class): blockSize
    * 128, 4 miniblocks of 32 — parquet-mr's defaults.
    */
  def encodeDeltaBinaryPacked(values: Seq[Long], width: Int): Array[Byte] = {
    val out = new ByteSink()
    out.varint(128L); out.varint(4L); out.varint(values.size.toLong)
    if (values.isEmpty) { out.varint(0L); return out.toByteArray }
    out.zigzag(values.head)
    var prev = values.head
    values.drop(1).grouped(128).foreach { block =>
      val deltas = block.map { v => val d = v - prev; prev = v; d }
      val minD = deltas.min
      out.zigzag(minD)
      val rel = deltas.map(_ - minD)
      val minis = rel.grouped(32).toSeq.padTo(4, Seq.empty[Long])
      val widths = minis.map(g =>
        if (g.isEmpty || g.forall(_ == 0L)) 0
        else 64 - java.lang.Long.numberOfLeadingZeros(g.max))
      widths.foreach(out.write)
      minis.zip(widths).foreach { case (g, bw) =>
        if (g.nonEmpty && bw > 0) {
          val padded = g.padTo(32, 0L)
          val bytes = new Array[Byte](32 * bw / 8)
          padded.zipWithIndex.foreach { case (v, i) =>
            var bit = 0
            while (bit < bw) {
              if (((v >> bit) & 1L) != 0) {
                val p = i * bw + bit
                bytes(p >>> 3) = (bytes(p >>> 3) | (1 << (p & 7))).toByte
              }
              bit += 1
            }
          }
          out.write(bytes)
        }
      }
    }
    out.toByteArray
  }

  /** Whole-file decode of the `colIdx`-th column: every row group's
    * chunk, summed. One malformed chunk fails the FILE closed; one
    * gated chunk gates it (counts zeroed either way — never a
    * half-decoded census). `values` holds the NON-NULL longs in row
    * order — null unless `ok = 1` AND the decode was asked to keep
    * them (aggregate callers pass keepValues = false so a 100 TB
    * audit never buffers a chunk's values past its own aggregates).
    */
  final case class FileDecode(ok: Int, gated: Int, nRgs: Int, nPages: Int,
      nDictVals: Long, nValues: Long, nNulls: Long,
      minV: Long, maxV: Long, sum: Long, values: Array[Long])

  final case class BinFileDecode(ok: Int, gated: Int, nRgs: Int, nPages: Int,
      nDictVals: Long, nValues: Long, nNulls: Long,
      sumLen: Long, minLen: Long, maxLen: Long, values: Array[Array[Byte]])

  /** One chunk's (or file's) decode before it takes its type's result
    * shape: `lo`/`hi`/`total` fold the values (INT) or their lengths
    * (BYTE_ARRAY).
    */
  private final case class Tally[A](ok: Int, gated: Int, nPages: Int,
      nDictVals: Long, nValues: Long, nNulls: Long,
      lo: Long, hi: Long, total: Long, values: Array[A])

  private def gatedTally[A]: Tally[A] = Tally(0, 1, 0, 0L, 0L, 0L, 0L, 0L, 0L, null)
  private def badTally[A]: Tally[A] = Tally(0, 0, 0, 0L, 0L, 0L, 0L, 0L, 0L, null)

  /** One physical type's side of the page walk: the dictionary page and
    * each data page's value section, decoded and folded into the
    * tallies. The per-value loops live in the subclasses, over
    * primitive arrays.
    */
  private abstract class PageValues[A] {
    var nValues = 0L
    var nNulls = 0L
    val fold = new ValueFold
    /** -1 until the dictionary page is read. */
    def dictSize: Long
    def dictionary(buf: Array[Byte], n: Long): Unit
    /** Decode and fold one data page's `nNonNull` values at `buf[q..]`
      * (`nLevels` rows, nulls included); false = an encoding this type
      * declines.
      */
    def page(buf: Array[Byte], q: Int, enc: Long, nNonNull: Int, nLevels: Long): Boolean
    def kept: Array[A]
  }

  /** How many levels are 1 (a flat column's non-null rows). */
  private def ones(levels: Array[Int]): Int = {
    var n = 0; var i = 0
    while (i < levels.length) { if (levels(i) == 1) n += 1; i += 1 }
    n
  }

  /** The page walk every physical type shares: page headers (the same
    * Thrift Compact walker as the footer), codec decompression, the
    * dictionary page, V1 definition levels, the V2 level split and its
    * num_nulls check, the page cap and the gated classes. See the
    * object doc for the gated-vs-malformed split.
    */
  private def walkChunk[A](bytes: Array[Byte], cm: ChunkMeta, v: PageValues[A]): Tally[A] = {
    if (cm.codec != CodecUncompressed && cm.codec != CodecSnappy &&
      cm.codec != CodecZstd) return gatedTally
    val start =
      if (cm.dictOff >= 0 && cm.dictOff < cm.dataOff) cm.dictOff else cm.dataOff
    if (start < 0 || cm.totalCompressed <= 0 ||
        start > bytes.length.toLong - cm.totalCompressed) return badTally
    val chunkEnd = (start + cm.totalCompressed).toInt
    try {
      var nPages = 0
      var consumed = 0L
      var gated = false
      var pos = start.toInt
      while (consumed < cm.numValues && !gated) {
        if (nPages + (if (v.dictSize < 0) 0 else 1) >= MaxPages) throw Malformed
        // ---- page header
        val r = new ByteCursor(bytes, pos, chunkEnd)
        var pType = -1L; var uncomp = -1L; var comp = -1L
        var dNum = -1L; var dEnc = -1L; var dDefEnc = -1L
        var dictNum = -1L; var dictEnc = -1L
        var v2Num = -1L; var v2Nulls = -1L; var v2Enc = -1L
        var v2DefLen = -1L; var v2RepLen = -1L; var v2Compressed = true
        walkStruct(r, 0) { (id, tpe) =>
          (id, tpe) match {
            case (1, 5) => pType = r.zigzag(); true
            case (2, 5) => uncomp = r.zigzag(); true
            case (3, 5) => comp = r.zigzag(); true
            case (5, 12) =>
              walkStruct(r, 1) { (fid, ftpe) =>
                (fid, ftpe) match {
                  case (1, 5) => dNum = r.zigzag(); true
                  case (2, 5) => dEnc = r.zigzag(); true
                  case (3, 5) => dDefEnc = r.zigzag(); true
                  case _ => false
                }
              }
              true
            case (7, 12) =>
              walkStruct(r, 1) { (fid, ftpe) =>
                (fid, ftpe) match {
                  case (1, 5) => dictNum = r.zigzag(); true
                  case (2, 5) => dictEnc = r.zigzag(); true
                  case _ => false
                }
              }
              true
            case (8, 12) => // DataPageHeaderV2
              walkStruct(r, 1) { (fid, ftpe) =>
                (fid, ftpe) match {
                  case (1, 5) => v2Num = r.zigzag(); true
                  case (2, 5) => v2Nulls = r.zigzag(); true
                  case (4, 5) => v2Enc = r.zigzag(); true
                  case (5, 5) => v2DefLen = r.zigzag(); true
                  case (6, 5) => v2RepLen = r.zigzag(); true
                  case (7, 1) => v2Compressed = true; true  // bool in nibble
                  case (7, 2) => v2Compressed = false; true
                  case _ => false
                }
              }
              true
            case _ => false
          }
        }
        if (pType < 0 || uncomp < 0 || comp < 0 ||
            uncomp > MaxPageBytes || comp > chunkEnd - r.pos) throw Malformed
        val payloadOff = r.pos
        val payloadEnd = r.pos + comp.toInt
        // ---- payload: [from, payloadEnd) decompressed to exactly `want` bytes
        def inflate(from: Int, want: Long): Array[Byte] = cm.codec match {
          case CodecSnappy =>
            val m = SnappyRaw.decode(bytes, from, payloadEnd, maxOut = want.toInt)
            if (m.ok != 1 || m.decoded != want) throw Malformed
            m.out
          case _ => // zstd: a page is ONE frame ([[ZstdSeq]])
            ZstdSeq.decodeFrame(java.util.Arrays.copyOfRange(bytes, from, payloadEnd),
                maxOut = want.toInt)
              .filter(_.length.toLong == want)
              .getOrElse(throw Malformed)
        }
        def raw(from: Int): Array[Byte] = {
          if (comp != uncomp) throw Malformed
          java.util.Arrays.copyOfRange(bytes, from, payloadEnd)
        }
        def payload(): Array[Byte] =
          if (cm.codec == CodecUncompressed) raw(payloadOff) else inflate(payloadOff, uncomp)
        pType match {
          case 2L => // dictionary page
            if (v.dictSize >= 0 || dictNum < 0) throw Malformed
            if (dictEnc != EncPlain && dictEnc != EncPlainDict) throw Malformed
            v.dictionary(payload(), dictNum)
          case 0L => // data page V1
            if (dNum < 0 || dEnc < 0) throw Malformed
            nPages += 1
            val buf = payload()
            var q = 0
            // definition levels: OPTIONAL flat column ⇒ RLE at width 1
            // behind a u32le length; REQUIRED ⇒ absent entirely
            var nNonNull = dNum.toInt
            if (cm.maxDef == 1) {
              if (dDefEnc != EncRle) { gated = true } // legacy BIT_PACKED
              else {
                if (4 > buf.length - q) throw Malformed
                val len = Bytes.le32u(buf, q)
                q += 4
                if (len > buf.length - q) throw Malformed
                val (defs, _) = rleHybrid(buf, q, q + len.toInt, 1, dNum.toInt)
                q += len.toInt
                nNonNull = ones(defs)
              }
            }
            if (!gated) {
              if (v.page(buf, q, dEnc, nNonNull, dNum)) consumed += dNum
              else gated = true
            }
          case 3L => // data page V2: levels UNcompressed up front,
            // values (possibly compressed alone) after them
            if (v2Num < 0 || v2Enc < 0 || v2DefLen < 0 || v2RepLen < 0 ||
              v2Nulls < 0) throw Malformed
            nPages += 1
            if (v2RepLen != 0) throw Malformed // flat column: no rep levels
            val lvlLen = v2RepLen + v2DefLen
            if (lvlLen > comp || lvlLen > uncomp) throw Malformed
            val nNonNull = (v2Num - v2Nulls).toInt
            if (nNonNull < 0) throw Malformed
            if (cm.maxDef == 1 && v2DefLen > 0) {
              // the header CLAIMS num_nulls; the levels are decoded and
              // must agree — a lying header is malformed, never trusted
              val (defs, _) = rleHybrid(bytes, payloadOff + v2RepLen.toInt,
                payloadOff + lvlLen.toInt, 1, v2Num.toInt)
              if (ones(defs) != nNonNull) throw Malformed
            } else if (v2Nulls > 0 && v2DefLen == 0) throw Malformed
            val vStart = payloadOff + lvlLen.toInt
            val rawVals: Array[Byte] =
              if (v2Compressed && cm.codec != CodecUncompressed) {
                val want = (uncomp - lvlLen).toInt
                if (want < 0) throw Malformed
                inflate(vStart, want.toLong)
              } else raw(vStart)
            if (v.page(rawVals, 0, v2Enc, nNonNull, v2Num)) consumed += v2Num
            else gated = true
          case _ => throw Malformed
        }
        pos = payloadEnd
      }
      if (gated) gatedTally
      else if (consumed != cm.numValues) badTally
      else Tally(1, 0, nPages, math.max(v.dictSize, 0L), v.nValues, v.nNulls,
        v.fold.min(v.nValues), v.fold.max(v.nValues), v.fold.total, v.kept)
    } catch {
      case Malformed => badTally
      case _: ArrayIndexOutOfBoundsException => badTally
      case _: NegativeArraySizeException => badTally
    }
  }

  /** Every row group's `colIdx` chunk through `chunk`, folded into the
    * file's tally: a gated chunk gates the file, else a failed one fails
    * it; with `keepValues` the chunks' values concatenate in order.
    * Also returns the chunk count.
    */
  private def decodeFile[A: scala.reflect.ClassTag](bytes: Array[Byte], colIdx: Int,
      keepValues: Boolean)(chunk: ChunkMeta => Tally[A]): (Int, Tally[A]) = {
    val ts = chunkMetas(bytes, colIdx).map(chunk)
    val file =
      if (ts.exists(_.gated == 1)) gatedTally[A]
      else if (ts.isEmpty || ts.exists(_.ok != 1)) badTally[A]
      else {
        val withVals = ts.filter(_.nValues > 0)
        Tally(1, 0, ts.map(_.nPages).sum, ts.map(_.nDictVals).sum,
          ts.map(_.nValues).sum, ts.map(_.nNulls).sum,
          if (withVals.isEmpty) 0L else withVals.map(_.lo).min,
          if (withVals.isEmpty) 0L else withVals.map(_.hi).max,
          ts.map(_.total).sum,
          if (keepValues) Array.concat(ts.map(_.values): _*) else null)
      }
    (ts.size, file)
  }

  /** INT64 (and INT32, at width 4, sign-extended) values: PLAIN,
    * dictionary indices and DELTA_BINARY_PACKED.
    */
  private final class Int64Values(w: Int, keepValues: Boolean) extends PageValues[Long] {
    private var dict: Array[Long] = null
    private val keep = if (keepValues) Array.newBuilder[Long] else null
    def dictSize: Long = if (dict == null) -1L else dict.length.toLong
    def kept: Array[Long] = if (keep == null) null else keep.result()

    // w-byte little-endian, sign-extended (INT32/INT64 are signed)
    private def readLe(buf: Array[Byte], off: Int): Long = {
      var v = 0L; var j = w - 1
      while (j >= 0) { v = (v << 8) | (buf(off + j) & 0xffL); j -= 1 }
      if (w == 4) v.toInt.toLong else v
    }

    def dictionary(buf: Array[Byte], n: Long): Unit = {
      if (n * w != buf.length.toLong) throw Malformed
      val d = new Array[Long](n.toInt)
      var i = 0
      while (i < d.length) { d(i) = readLe(buf, i * w); i += 1 }
      dict = d
    }

    def page(buf: Array[Byte], q0: Int, enc: Long, nNonNull: Int, nLevels: Long): Boolean = {
      val vals: Array[Long] = enc match {
        case 0L => // PLAIN
          if (nNonNull.toLong * w > buf.length - q0) throw Malformed
          val out = new Array[Long](math.max(nNonNull, 0))
          var i = 0
          while (i < out.length) { out(i) = readLe(buf, q0 + i * w); i += 1 }
          out
        case 2L | 8L => // PLAIN_DICTIONARY / RLE_DICTIONARY
          if (dict == null) throw Malformed
          if (q0 >= buf.length) throw Malformed
          val bw = buf(q0) & 0xff
          if (bw > 32) throw Malformed
          val (idxs, _) = rleHybrid(buf, q0 + 1, buf.length, bw, nNonNull)
          val out = new Array[Long](idxs.length)
          var i = 0
          while (i < idxs.length) {
            val k = idxs(i)
            if (k < 0 || k >= dict.length) throw Malformed
            out(i) = dict(k)
            i += 1
          }
          out
        case 5L => // DELTA_BINARY_PACKED (the V2 writer's int fallback)
          deltaBinaryPacked(buf, q0, nNonNull, w)._1
        case _ => return false // DELTA_LENGTH/BYTE_ARRAY, BYTE_STREAM_SPLIT: declined
      }
      var i = 0
      while (i < vals.length) { fold.add(vals(i)); i += 1 }
      if (keep != null) keep ++= vals
      nValues += nNonNull
      nNulls += nLevels - nNonNull
      true
    }
  }

  private def int64Tally(bytes: Array[Byte], cm: ChunkMeta, keepValues: Boolean): Tally[Long] =
    if (!cm.flat || (cm.physType != TInt64 && cm.physType != TInt32)) gatedTally
    else walkChunk(bytes, cm, new Int64Values(if (cm.physType == TInt32) 4 else 8, keepValues))

  def decodeInt64File(bytes: Array[Byte], colIdx: Int,
      keepValues: Boolean = false): FileDecode = {
    val (nRgs, t) = decodeFile(bytes, colIdx, keepValues)(int64Tally(bytes, _, keepValues))
    FileDecode(t.ok, t.gated, nRgs, t.nPages, t.nDictVals, t.nValues, t.nNulls,
      t.lo, t.hi, t.total, t.values)
  }

  /** Census DataFrame over (id, parquet-bytes): per file, the decoded
    * value-level truth of the `colIdx`-th column — page/dictionary
    * structure, value/null tallies, min/max/sum. Map-only, zero
    * shuffles; aggregates only, values are never buffered
    * (keepValues = false), so the operator is scan-shaped at 100 TB.
    */
  def pageDecodeAudit(df: DataFrame, idCol: String, payloadCol: String,
      colIdx: Int): DataFrame =
    Payloads.census(df, idCol, payloadCol, "ok", "gated", "n_rgs", "n_pages",
      "n_dict_vals", "n_values", "n_nulls", "min_v", "max_v", "sum_v") { (id, bytes) =>
      val d = decodeInt64File(bytes, colIdx)
      (id, d.ok.toLong, d.gated.toLong, d.nRgs.toLong, d.nPages.toLong,
        d.nDictVals, d.nValues, d.nNulls, d.minV, d.maxV, d.sum)
    }

  // ------------------------------------------------------------------
  // BYTE_ARRAY (string/binary) columns — the other physical type the
  // testdata actually carries. Same page walk; values are
  // `u32le length · bytes` (PLAIN and dictionary pages), plus the V2
  // writers' string encodings: DELTA_LENGTH_BYTE_ARRAY (delta-packed
  // lengths · concatenated bytes) and DELTA_BYTE_ARRAY (delta-packed
  // PREFIX lengths · DELTA_LENGTH-coded suffixes; value = previous
  // value's prefix + suffix — front coding), both riding
  // [[deltaBinaryPacked]]. The tallies fold value LENGTHS.

  private val TByteArray = 6

  private final class BinaryValues(keepValues: Boolean) extends PageValues[Array[Byte]] {
    private var dict: Array[Array[Byte]] = null
    private val keep = if (keepValues) Array.newBuilder[Array[Byte]] else null
    def dictSize: Long = if (dict == null) -1L else dict.length.toLong
    def kept: Array[Array[Byte]] = if (keep == null) null else keep.result()

    // `u32le length · bytes` × n, exact span consumption
    private def readPlainValues(buf: Array[Byte], off: Int, n: Int): Array[Array[Byte]] = {
      val out = new Array[Array[Byte]](n)
      var q = off
      var i = 0
      while (i < n) {
        if (4 > buf.length - q) throw Malformed
        val len = Bytes.le32u(buf, q)
        q += 4
        if (len > buf.length - q) throw Malformed
        out(i) = java.util.Arrays.copyOfRange(buf, q, q + len.toInt)
        q += len.toInt
        i += 1
      }
      out
    }
    private def deltaLengthValues(buf: Array[Byte], off: Int, n: Int): Array[Array[Byte]] = {
      val (lens, dataStart) = deltaBinaryPacked(buf, off, n, 4)
      var q = dataStart
      Array.tabulate(n) { i =>
        val len = lens(i)
        if (len < 0 || len > buf.length - q) throw Malformed
        val v = java.util.Arrays.copyOfRange(buf, q, q + len.toInt)
        q += len.toInt
        v
      }
    }
    private def deltaByteArrayValues(buf: Array[Byte], off: Int, n: Int): Array[Array[Byte]] = {
      val (prefixes, sufStart) = deltaBinaryPacked(buf, off, n, 4)
      val suffixes = deltaLengthValues(buf, sufStart, n)
      val out = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        val p = prefixes(i)
        if (p < 0 || (i == 0 && p != 0) ||
          (i > 0 && p > out(i - 1).length)) throw Malformed
        val v = new Array[Byte](p.toInt + suffixes(i).length)
        if (i > 0) System.arraycopy(out(i - 1), 0, v, 0, p.toInt)
        System.arraycopy(suffixes(i), 0, v, p.toInt, suffixes(i).length)
        out(i) = v
        i += 1
      }
      out
    }

    def dictionary(buf: Array[Byte], n: Long): Unit =
      dict = readPlainValues(buf, 0, n.toInt)

    def page(buf: Array[Byte], q0: Int, enc: Long, nNonNull: Int, nLevels: Long): Boolean = {
      val vals: Array[Array[Byte]] = enc match {
        case 0L => readPlainValues(buf, q0, nNonNull)
        case 2L | 8L =>
          if (dict == null) throw Malformed
          if (q0 >= buf.length && nNonNull > 0) throw Malformed
          if (nNonNull == 0) Array.empty
          else {
            val bw = buf(q0) & 0xff
            if (bw > 32) throw Malformed
            val (idxs, _) = rleHybrid(buf, q0 + 1, buf.length, bw, nNonNull)
            val out = new Array[Array[Byte]](idxs.length)
            var i = 0
            while (i < idxs.length) {
              val k = idxs(i)
              if (k < 0 || k >= dict.length) throw Malformed
              out(i) = dict(k)
              i += 1
            }
            out
          }
        case 6L => deltaLengthValues(buf, q0, nNonNull)
        case 7L => deltaByteArrayValues(buf, q0, nNonNull)
        case _ => return false // BYTE_STREAM_SPLIT etc: declined
      }
      var i = 0
      while (i < vals.length) { fold.add(vals(i).length.toLong); i += 1 }
      if (keep != null) keep ++= vals
      nValues += vals.length
      nNulls += nLevels - vals.length
      true
    }
  }

  private def binaryTally(bytes: Array[Byte], cm: ChunkMeta,
      keepValues: Boolean): Tally[Array[Byte]] =
    if (!cm.flat || cm.physType != TByteArray) gatedTally
    else walkChunk(bytes, cm, new BinaryValues(keepValues))

  def decodeBinaryFile(bytes: Array[Byte], colIdx: Int,
      keepValues: Boolean = false): BinFileDecode = {
    val (nRgs, t) = decodeFile(bytes, colIdx, keepValues)(binaryTally(bytes, _, keepValues))
    BinFileDecode(t.ok, t.gated, nRgs, t.nPages, t.nDictVals, t.nValues, t.nNulls,
      t.total, t.lo, t.hi, t.values)
  }

  /** Census DataFrame over (id, parquet-bytes) for a BYTE_ARRAY
    * column: structure + length statistics. Map-only, zero shuffles,
    * aggregates only.
    */
  def binaryDecodeAudit(df: DataFrame, idCol: String, payloadCol: String,
      colIdx: Int): DataFrame =
    Payloads.census(df, idCol, payloadCol, "ok", "gated", "n_rgs", "n_pages",
      "n_dict_vals", "n_values", "n_nulls", "sum_len", "min_len",
      "max_len") { (id, bytes) =>
      val d = decodeBinaryFile(bytes, colIdx)
      (id, d.ok.toLong, d.gated.toLong, d.nRgs.toLong, d.nPages.toLong,
        d.nDictVals, d.nValues, d.nNulls, d.sumLen, d.minLen, d.maxLen)
    }

  /** Synthetic single-BYTE_ARRAY-column file for the oracle/specs:
    * encoding 0 PLAIN / 8 RLE_DICTIONARY / 6 DELTA_LENGTH /
    * 7 DELTA_BYTE_ARRAY (front coding against sorted values).
    */
  def encodeBinaryFile(rowGroups: Seq[Seq[Seq[Option[Array[Byte]]]]],
      encoding: Int, codec: Int, truncate: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("US-ASCII"))
    def compress(raw: Array[Byte]): Array[Byte] =
      if (codec == CodecSnappy) snappyLiteral(raw) else raw
    def plainBlob(vs: Seq[Array[Byte]]): Array[Byte] = {
      val b = new ByteSink()
      vs.foreach(v => b.le32(v.length).raw(v))
      b.toByteArray
    }
    val metas = rowGroups.map { pages =>
      val chunkStart = out.size().toLong
      val allVals = pages.flatten
      val dict: Array[Array[Byte]] =
        if (encoding != 8) null
        else allVals.flatten.map(_.toSeq).distinct.map(_.toArray).toArray
      var dictOff = -1L
      if (dict != null) {
        dictOff = out.size().toLong
        val raw = plainBlob(dict.toSeq)
        val comp = compress(raw)
        val w = new Writer
        w.field(0, 1, 5).zigzag(2L)
        w.field(1, 2, 5).zigzag(raw.length.toLong)
        w.field(2, 3, 5).zigzag(comp.length.toLong)
        w.field(3, 7, 12)
        w.field(0, 1, 5).zigzag(dict.length.toLong)
        w.field(1, 2, 5).zigzag(EncPlain.toLong)
        w.stop(); w.stop()
        out.write(w.bytes); out.write(comp)
      }
      val dataOff = out.size().toLong
      pages.foreach { page =>
        val nonNull = page.flatten
        val body = new java.io.ByteArrayOutputStream()
        val defs = encodeRleHybrid(page.map(v => if (v.isDefined) 1 else 0), 1)
        body.write(defs.length & 0xff); body.write((defs.length >> 8) & 0xff)
        body.write((defs.length >> 16) & 0xff); body.write((defs.length >> 24) & 0xff)
        body.write(defs)
        encoding match {
          case 0 => body.write(plainBlob(nonNull))
          case 8 =>
            val bw = math.max(1,
              32 - Integer.numberOfLeadingZeros(math.max(1, dict.length - 1)))
            body.write(bw)
            body.write(encodeRleHybrid(
              nonNull.map(v => dict.indexWhere(_.sameElements(v))), bw))
          case 6 =>
            body.write(encodeDeltaBinaryPacked(
              nonNull.map(_.length.toLong), 4))
            nonNull.foreach(body.write)
          case 7 =>
            val prefixes = nonNull.zipWithIndex.map { case (v, i) =>
              if (i == 0) 0
              else {
                val p = nonNull(i - 1)
                var k = 0
                while (k < math.min(p.length, v.length) && p(k) == v(k)) k += 1
                k
              }
            }
            body.write(encodeDeltaBinaryPacked(prefixes.map(_.toLong), 4))
            val sufs = nonNull.zip(prefixes).map { case (v, p) => v.drop(p) }
            body.write(encodeDeltaBinaryPacked(sufs.map(_.length.toLong), 4))
            sufs.foreach(body.write)
          case _ => throw new IllegalArgumentException(s"encoding $encoding")
        }
        val raw = body.toByteArray
        val comp = compress(raw)
        val w = new Writer
        w.field(0, 1, 5).zigzag(0L)
        w.field(1, 2, 5).zigzag(raw.length.toLong)
        w.field(2, 3, 5).zigzag(comp.length.toLong)
        w.field(3, 5, 12)
        w.field(0, 1, 5).zigzag(page.size.toLong)
        w.field(1, 2, 5).zigzag(encoding.toLong)
        w.field(2, 3, 5).zigzag(EncRle.toLong)
        w.field(3, 4, 5).zigzag(EncRle.toLong)
        w.stop(); w.stop()
        out.write(w.bytes); out.write(comp)
      }
      (allVals.size.toLong, dataOff, dictOff, out.size().toLong - chunkStart)
    }
    val w = new Writer
    w.field(0, 1, 5).zigzag(1L)
    w.field(1, 2, 9).listHeader(2, 12)
    w.field(0, 4, 8).str("schema")
    w.field(4, 5, 5).zigzag(1L)
    w.stop()
    w.field(0, 1, 5).zigzag(TByteArray.toLong)
    w.field(1, 3, 5).zigzag(1L) // OPTIONAL
    w.field(3, 4, 8).str("s")
    w.stop()
    w.field(2, 3, 6).zigzag(metas.map(_._1).sum)
    w.field(3, 4, 9).listHeader(rowGroups.size, 12)
    metas.foreach { case (nv, dataOff, dictOff, tot) =>
      w.field(0, 1, 9).listHeader(1, 12)
      w.field(0, 2, 6).zigzag(dataOff)
      w.field(2, 3, 12)
      w.field(0, 1, 5).zigzag(TByteArray.toLong)
      w.field(1, 2, 9).listHeader(1, 5); w.zigzag(EncPlain.toLong)
      w.field(2, 3, 9).listHeader(1, 8); w.str("s")
      w.field(3, 4, 5).zigzag(codec.toLong)
      w.field(4, 5, 6).zigzag(nv)
      w.field(5, 6, 6).zigzag(tot)
      w.field(6, 7, 6).zigzag(tot)
      w.field(7, 9, 6).zigzag(dataOff)
      if (dictOff >= 0) w.field(9, 11, 6).zigzag(dictOff)
      w.stop(); w.stop()
      w.field(1, 2, 6).zigzag(tot)
      w.field(2, 3, 6).zigzag(nv)
      w.stop()
    }
    w.field(4, 6, 8).str("graft-pages")
    w.stop()
    val footer = w.bytes
    out.write(footer)
    val len = footer.length
    out.write(Array((len & 0xff).toByte, ((len >> 8) & 0xff).toByte,
      ((len >> 16) & 0xff).toByte, ((len >> 24) & 0xff).toByte))
    out.write("PAR1".getBytes("US-ASCII"))
    val b = out.toByteArray
    if (truncate > 0) b.take(math.max(0, b.length - truncate)) else b
  }

  // ------------------------------------------------------------------
  // Encoder — synthetic single-column int64 files for the closed-form
  // oracle (q415) and the adversarial specs. Real enough that the
  // DECODER can't tell: true page headers, def levels, dictionary
  // pages, RLE + bit-packed runs, raw-snappy compression.

  /** Literal-only raw snappy (valid per format_description.txt —
    * compression is optional, literals are not): varint preamble then
    * ≤60-byte and extended-length literal elements. [[SnappyRaw]]
    * round-trips it exactly.
    */
  def snappyLiteral(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var v = raw.length.toLong
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
    var p = 0
    while (p < raw.length) {
      val n = math.min(raw.length - p, 60)
      out.write((n - 1) << 2) // tag 00, length ≤ 60 inline
      out.write(raw, p, n)
      p += n
    }
    out.toByteArray
  }

  /** RLE/bit-packed hybrid encode (both run kinds): maximal equal
    * runs ≥ 8 emit RLE, everything else bit-packs in groups of 8
    * (tail zero-padded). Mirrors what [[rleHybrid]] accepts and what
    * parquet-mr emits.
    */
  def encodeRleHybrid(values: Seq[Int], bitWidth: Int): Array[Byte] = {
    val out = new ByteSink()
    val byteW = (bitWidth + 7) / 8
    def rleRun(v: Int, count: Int): Unit = {
      out.varint(count.toLong << 1)
      (0 until byteW).foreach(j => out.write((v >> (8 * j)) & 0xff))
    }
    def packRun(vs: Seq[Int]): Unit = {
      val groups = (vs.size + 7) / 8
      out.varint((groups.toLong << 1) | 1)
      val buf = new Array[Byte](groups * bitWidth)
      vs.zipWithIndex.foreach { case (v, i) =>
        var bit = 0
        while (bit < bitWidth) {
          if (((v >> bit) & 1) != 0) {
            val p = i * bitWidth + bit
            buf(p >>> 3) = (buf(p >>> 3) | (1 << (p & 7))).toByte
          }
          bit += 1
        }
      }
      out.write(buf)
    }
    var i = 0
    val pend = scala.collection.mutable.ArrayBuffer[Int]()
    while (i < values.size) {
      var j = i
      while (j < values.size && values(j) == values(i)) j += 1
      // an RLE run is only legal at a group-of-8 boundary: a MID-stream
      // bit-packed run must hold exact multiples of 8 values (padding
      // is sanctioned solely in the final run — the decoder clamps it)
      if (j - i >= 8 && pend.size % 8 == 0) {
        if (pend.nonEmpty) { packRun(pend.toSeq); pend.clear() }
        rleRun(values(i), j - i)
      } else pend ++= values.slice(i, j)
      i = j
    }
    if (pend.nonEmpty) packRun(pend.toSeq)
    out.toByteArray
  }

  /** One synthetic single-INT64-column file ("v", OPTIONAL): per row
    * group a page list, each page its Option[Long] values. `useDict`
    * writes a chunk-wide dictionary page (first-occurrence order, the
    * real writers' shape) + RLE_DICTIONARY data pages; else PLAIN.
    * `codec` 0/1 really encodes; any other value stamps the footer
    * (payloads raw) to plant the GATED class. `truncate` cuts the
    * final file for the malformed class.
    */
  def encodeInt64File(rowGroups: Seq[Seq[Seq[Option[Long]]]],
      useDict: Boolean, codec: Int, truncate: Int = 0,
      pageV2: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("US-ASCII"))
    def compress(raw: Array[Byte]): Array[Byte] =
      if (codec == CodecSnappy) snappyLiteral(raw) else raw
    // (numValues, dataOff, dictOff, totalCompressed) per row group
    val metas = rowGroups.map { pages =>
      val chunkStart = out.size().toLong
      val allVals = pages.flatten
      val dict: Array[Long] =
        if (!useDict) null
        else allVals.flatten.distinct.toArray
      var dictOff = -1L
      if (dict != null) {
        dictOff = out.size().toLong
        val raw = new Array[Byte](dict.length * 8)
        dict.zipWithIndex.foreach { case (v, i) =>
          (0 until 8).foreach(j => raw(i * 8 + j) = ((v >> (8 * j)) & 0xff).toByte)
        }
        val comp = compress(raw)
        val w = new Writer
        w.field(0, 1, 5).zigzag(2L)               // type: DICTIONARY_PAGE
        w.field(1, 2, 5).zigzag(raw.length.toLong) // uncompressed_page_size
        w.field(2, 3, 5).zigzag(comp.length.toLong)
        w.field(3, 7, 12)                          // DictionaryPageHeader
        w.field(0, 1, 5).zigzag(dict.length.toLong)
        w.field(1, 2, 5).zigzag(EncPlain.toLong)
        w.stop()
        w.stop()
        out.write(w.bytes); out.write(comp)
      }
      val dataOff = out.size().toLong
      pages.foreach { page =>
        val nonNull = page.flatten
        val valsBody = new ByteSink()
        if (useDict) {
          val bw = math.max(1,
            32 - Integer.numberOfLeadingZeros(math.max(1, dict.length - 1)))
          valsBody.write(bw)
          valsBody.write(encodeRleHybrid(nonNull.map(dict.indexOf(_)), bw))
        } else nonNull.foreach(valsBody.le64)
        val defs = encodeRleHybrid(page.map(v => if (v.isDefined) 1 else 0), 1)
        val enc = if (useDict) EncRleDict.toLong else EncPlain.toLong
        if (pageV2) {
          // V2: levels UNcompressed up front, values compressed alone
          val valsRaw = valsBody.toByteArray
          val valsComp = compress(valsRaw)
          val w = new Writer
          w.field(0, 1, 5).zigzag(3L)              // type: DATA_PAGE_V2
          w.field(1, 2, 5).zigzag(defs.length.toLong + valsRaw.length)
          w.field(2, 3, 5).zigzag(defs.length.toLong + valsComp.length)
          w.field(3, 8, 12)                        // DataPageHeaderV2
          w.field(0, 1, 5).zigzag(page.size.toLong)
          w.field(1, 2, 5).zigzag(page.count(_.isEmpty).toLong)
          w.field(2, 3, 5).zigzag(page.size.toLong) // num_rows (flat)
          w.field(3, 4, 5).zigzag(enc)
          w.field(4, 5, 5).zigzag(defs.length.toLong)
          w.field(5, 6, 5).zigzag(0L)              // rep levels: none
          w.field(6, 7, 1)                         // is_compressed = true
          w.stop()
          w.stop()
          out.write(w.bytes); out.write(defs); out.write(valsComp)
        } else {
          val body = new java.io.ByteArrayOutputStream()
          // def levels: u32le length + width-1 hybrid
          body.write(defs.length & 0xff); body.write((defs.length >> 8) & 0xff)
          body.write((defs.length >> 16) & 0xff); body.write((defs.length >> 24) & 0xff)
          body.write(defs)
          body.write(valsBody.toByteArray)
          val raw = body.toByteArray
          val comp = compress(raw)
          val w = new Writer
          w.field(0, 1, 5).zigzag(0L)                // type: DATA_PAGE
          w.field(1, 2, 5).zigzag(raw.length.toLong)
          w.field(2, 3, 5).zigzag(comp.length.toLong)
          w.field(3, 5, 12)                          // DataPageHeader
          w.field(0, 1, 5).zigzag(page.size.toLong)
          w.field(1, 2, 5).zigzag(enc)
          w.field(2, 3, 5).zigzag(EncRle.toLong)     // def-level encoding
          w.field(3, 4, 5).zigzag(EncRle.toLong)     // rep-level encoding
          w.stop()
          w.stop()
          out.write(w.bytes); out.write(comp)
        }
      }
      (allVals.size.toLong, dataOff, dictOff, out.size().toLong - chunkStart)
    }
    // ---- footer
    val w = new Writer
    w.field(0, 1, 5).zigzag(1L)
    w.field(1, 2, 9).listHeader(2, 12) // schema: root + the one leaf
    w.field(0, 4, 8).str("schema")
    w.field(4, 5, 5).zigzag(1L)
    w.stop()
    w.field(0, 1, 5).zigzag(TInt64.toLong)
    w.field(1, 3, 5).zigzag(1L) // OPTIONAL
    w.field(3, 4, 8).str("v")
    w.stop()
    w.field(2, 3, 6).zigzag(metas.map(_._1).sum)
    w.field(3, 4, 9).listHeader(rowGroups.size, 12)
    metas.foreach { case (nv, dataOff, dictOff, tot) =>
      w.field(0, 1, 9).listHeader(1, 12) // columns
      w.field(0, 2, 6).zigzag(dataOff)   // file_offset
      w.field(2, 3, 12)                  // meta_data
      w.field(0, 1, 5).zigzag(TInt64.toLong)
      w.field(1, 2, 9).listHeader(1, 5); w.zigzag(EncPlain.toLong)
      w.field(2, 3, 9).listHeader(1, 8); w.str("v")
      w.field(3, 4, 5).zigzag(codec.toLong)
      w.field(4, 5, 6).zigzag(nv)
      w.field(5, 6, 6).zigzag(tot)
      w.field(6, 7, 6).zigzag(tot)
      w.field(7, 9, 6).zigzag(dataOff)
      if (dictOff >= 0) w.field(9, 11, 6).zigzag(dictOff)
      w.stop() // ColumnMetaData
      w.stop() // ColumnChunk
      w.field(1, 2, 6).zigzag(tot)
      w.field(2, 3, 6).zigzag(nv)
      w.stop() // RowGroup
    }
    w.field(4, 6, 8).str("graft-pages")
    w.stop()
    val footer = w.bytes
    out.write(footer)
    val len = footer.length
    out.write(Array((len & 0xff).toByte, ((len >> 8) & 0xff).toByte,
      ((len >> 16) & 0xff).toByte, ((len >> 24) & 0xff).toByte))
    out.write("PAR1".getBytes("US-ASCII"))
    val bytes = out.toByteArray
    if (truncate > 0) bytes.take(math.max(0, bytes.length - truncate)) else bytes
  }
}
