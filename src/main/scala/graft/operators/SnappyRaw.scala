package graft.operators

/** Raw (block-format) Snappy decoder — the layer UNDER the q382 framing
  * census. The framing walk trusts each compressed chunk's declared
  * content; raw Snappy is simple varint + literal/copy LZ with NO
  * entropy coding (google/snappy format_description.txt), so a bounded
  * decoder can verify the uncompressed length and checksum EXACTLY
  * instead of trusting headers — closing the stretch the zstd walk
  * (q366) honestly stubs (zstd literals ARE entropy-coded; snappy's
  * aren't).
  *
  * Wire format: a varint preamble (uncompressed length), then elements
  * tagged by the low 2 bits of the first byte —
  *
  *   - `00` literal: length `(tag>>2)+1` for ≤ 60, else `tag>>2 − 59`
  *     little-endian extra bytes hold `length−1`;
  *   - `01` copy, 1-byte offset: length `((tag>>2)&7)+4` (4–11),
  *     offset `((tag>>5)<<8) | next` (3 high bits in the tag);
  *   - `10` copy, 2-byte LE offset: length `(tag>>2)+1` (1–64);
  *   - `11` copy, 4-byte LE offset: same length form.
  *
  * Copies may OVERLAP the output cursor (offset < length — the RLE
  * idiom), which is why the copy loop is byte-at-a-time. Bounds are
  * attacker-facing and all fail closed: declared length over the cap
  * (the gzip-bomb discipline — output is allocated AFTER the cap
  * check), unterminated/oversized preamble varint, literal or copy
  * arithmetic overrunning input or output, offset of 0 or beyond the
  * bytes decoded so far, input left over after the output filled, or
  * input exhausted before it did. No partial output is ever returned.
  */
object SnappyRaw {

  /** Framing-format cap: a data chunk decodes to at most 65536 bytes. */
  val MaxBlock: Int = 65536

  /** Decode outcome: `ok = 1` iff the element walk consumed EXACTLY the
    * input and produced EXACTLY the declared length. `out` is null
    * unless ok (fail-closed — no partial buffers escape).
    */
  final case class RawMeta(ok: Int, declared: Long, decoded: Long,
                           nLiterals: Int, nCopies: Int, out: Array[Byte])

  private def fail(declared: Long, decoded: Long, nLit: Int, nCopy: Int) =
    RawMeta(0, declared, decoded, nLit, nCopy, null)

  def decode(bytes: Array[Byte], off: Int, end: Int,
             maxOut: Int = MaxBlock): RawMeta = {
    var p = off
    // preamble: varint uncompressed length (32-bit range per the spec)
    var declared = 0L
    var shift = 0
    var more = true
    while (more) {
      if (p >= end || shift > 28) return fail(0L, 0L, 0, 0)
      val b = bytes(p) & 0xff
      p += 1
      declared |= (b & 0x7fL) << shift
      if ((b & 0x80) == 0) more = false else shift += 7
    }
    if (declared < 0 || declared > maxOut) return fail(declared, 0L, 0, 0)
    val out = new Array[Byte](declared.toInt)
    var o = 0
    var nLit = 0
    var nCopy = 0
    def copy(offset: Long, len: Int): Boolean = {
      if (offset <= 0 || offset > o || o + len > declared) false
      else {
        // byte-at-a-time: an overlapping copy (offset < len) reads
        // bytes this same copy just wrote — the RLE idiom
        val src = o - offset.toInt
        var i = 0
        while (i < len) { out(o + i) = out(src + i); i += 1 }
        o += len
        nCopy += 1
        true
      }
    }
    while (p < end) {
      val tag = bytes(p) & 0xff
      p += 1
      (tag & 3) match {
        case 0 =>
          // upper six bits u: u < 60 -> length u+1 inline; u = 60..63 ->
          // u-59 little-endian extra bytes hold length-1
          var len = (tag >> 2) + 1
          if ((tag >> 2) >= 60) {
            val nb = (tag >> 2) - 59 // 1..4 little-endian bytes of length-1
            if (p + nb > end) return fail(declared, o, nLit, nCopy)
            var v = 0L
            var i = 0
            while (i < nb) { v |= (bytes(p + i) & 0xffL) << (8 * i); i += 1 }
            p += nb
            if (v >= Int.MaxValue) return fail(declared, o, nLit, nCopy)
            len = v.toInt + 1
          }
          if (len > end - p || o + len.toLong > declared)
            return fail(declared, o, nLit, nCopy)
          System.arraycopy(bytes, p, out, o, len)
          p += len; o += len; nLit += 1
        case 1 =>
          if (p >= end) return fail(declared, o, nLit, nCopy)
          val len = ((tag >> 2) & 0x7) + 4
          val offset = ((tag.toLong >> 5) << 8) | (bytes(p) & 0xffL)
          p += 1
          if (!copy(offset, len)) return fail(declared, o, nLit, nCopy)
        case 2 =>
          if (p + 2 > end) return fail(declared, o, nLit, nCopy)
          val offset = Bytes.le16(bytes, p).toLong
          p += 2
          if (!copy(offset, (tag >> 2) + 1)) return fail(declared, o, nLit, nCopy)
        case _ =>
          if (p + 4 > end) return fail(declared, o, nLit, nCopy)
          val offset = Bytes.le32u(bytes, p)
          p += 4
          if (!copy(offset, (tag >> 2) + 1)) return fail(declared, o, nLit, nCopy)
      }
    }
    if (o.toLong != declared) fail(declared, o, nLit, nCopy)
    else RawMeta(1, declared, o, nLit, nCopy, out)
  }

  // ------------------------------------------------------------------
  // synthetic encoder (tests + the q387 oracle's closed-form replay)

  sealed trait RawOp
  /** Emit `bytes` verbatim. */
  final case class Lit(bytes: Array[Byte]) extends RawOp
  /** Repeat `len` bytes starting `offset` back from the cursor
    * (offset < len = the overlapping RLE form). len ≤ 64.
    */
  final case class Copy(offset: Int, len: Int) extends RawOp

  /** Valid raw-snappy stream realizing `ops` (preamble computed from
    * the op lengths). Picks the shortest tag form each op fits.
    */
  def encode(ops: Seq[RawOp]): Array[Byte] = {
    val total = ops.map {
      case Lit(b) => b.length
      case Copy(_, l) => l
    }.sum
    val out = new ByteSink().varint(total.toLong)
    ops.foreach {
      case Lit(b) =>
        // (0-1)<<2 would stamp the 4-byte-length tag form — a silently
        // corrupt stream; empty literals have no wire representation
        require(b.length >= 1, "encoder: empty literal")
        if (b.length <= 60) out.write((b.length - 1) << 2)
        else if (b.length <= 256) { out.write(60 << 2); out.write(b.length - 1) }
        else {
          require(b.length <= 65536, "encoder: literal over 64 KiB")
          out.write(61 << 2)
          out.le16(b.length - 1)
        }
        out.write(b)
      case Copy(offset, len) =>
        require(len >= 1 && len <= 64 && offset >= 1 && offset <= 65535,
          "encoder: copy outside the 2-byte-offset forms")
        if (len >= 4 && len <= 11 && offset < 2048) {
          out.write(((offset >> 8) << 5) | ((len - 4) << 2) | 1)
          out.write(offset & 0xff)
        } else {
          out.write(((len - 1) << 2) | 2)
          out.le16(offset)
        }
    }
    out.toByteArray
  }
}
