package graft.operators

import java.io.ByteArrayOutputStream

/** The one outcome of hostile or truncated bytes in every container
  * walker and codec: a stackless signal each format's entry point
  * catches and maps to its fail-closed result (zeroed census, `None`,
  * halted walk).
  */
object Malformed extends Exception with scala.util.control.NoStackTrace

/** The shared byte layer of the binary walkers: sequential reads with a
  * byte budget ([[ByteCursor]]), MSB-first bit reads ([[BitCursor]]),
  * the synthetic writers' sink ([[ByteSink]]), and unchecked absolute
  * reads for header fields at offsets the caller has already guarded.
  *
  * Every budget check is in subtraction form (`n > end - pos`), so a
  * declared 64-bit length cannot wrap past it; every overrun throws
  * [[Malformed]].
  */
object Bytes {

  // absolute reads: no check beyond the JVM's array bounds, so callers
  // guard `p` first (the LZ4/Snappy/zstd hot loops rely on these)

  @inline final def le16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  @inline final def le24(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16)
  @inline final def le32(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
  /** Unsigned 32-bit little-endian, as a non-negative Long. */
  @inline final def le32u(b: Array[Byte], p: Int): Long = le32(b, p) & 0xffffffffL
  @inline final def le64(b: Array[Byte], p: Int): Long =
    le32u(b, p) | (le32u(b, p + 4) << 32)
  @inline final def be16(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
  @inline final def be24(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xff) << 16) | ((b(p + 1) & 0xff) << 8) | (b(p + 2) & 0xff)
  @inline final def be32(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
  /** Unsigned 32-bit big-endian, as a non-negative Long. */
  @inline final def be32u(b: Array[Byte], p: Int): Long = be32(b, p) & 0xffffffffL
  @inline final def be64(b: Array[Byte], p: Int): Long =
    (be32u(b, p) << 32) | be32u(b, p + 4)

  /** True iff the ASCII tag `s` sits at `p`. */
  def tag(b: Array[Byte], p: Int, s: String): Boolean = {
    var j = 0
    while (j < s.length) { if (b(p + j) != s.charAt(j).toByte) return false; j += 1 }
    true
  }

  /** Walk the RIFF chunks in [from, until): `visit(pos, size)` gets each
    * chunk's header offset and body size, already checked to lie inside
    * the range, and returns false to stop. Odd sizes skip their pad
    * byte; a trailing fragment shorter than a header is ignored.
    * Returns true iff every chunk was visited and no visit stopped the
    * walk — a negative or overrunning size stops it with false.
    */
  def riffChunks(b: Array[Byte], from: Int, until: Int)(visit: (Int, Int) => Boolean): Boolean = {
    var pos = from
    while (until - pos >= 8) {
      val size = le32(b, pos + 4)
      if (size < 0 || size > until - pos - 8 || !visit(pos, size)) return false
      pos += 8 + size + (size & 1)
    }
    true
  }
}

/** Sequential reader over `b[pos, end)`. Every read past `end` throws
  * [[Malformed]]; lengths are 64-bit so a declared size is checked
  * before it is narrowed.
  */
final class ByteCursor(val b: Array[Byte], var pos: Int, val end: Int) {
  if (pos < 0 || end > b.length || pos > end) throw Malformed

  def this(b: Array[Byte]) = this(b, 0, b.length)

  @inline def remaining: Int = end - pos
  @inline def hasMore: Boolean = pos < end

  @inline private def need(n: Int): Int = {
    if (n > end - pos) throw Malformed
    val p = pos; pos += n; p
  }

  def u8(): Int = {
    if (pos >= end) throw Malformed
    val v = b(pos) & 0xff; pos += 1; v
  }
  def le16(): Int = Bytes.le16(b, need(2))
  def le32(): Int = Bytes.le32(b, need(4))
  def le64(): Long = Bytes.le64(b, need(8))
  def be16(): Int = Bytes.be16(b, need(2))
  def be32(): Int = Bytes.be32(b, need(4))
  def be64(): Long = Bytes.be64(b, need(8))

  /** Unsigned LEB128, at most 10 bytes (the 64-bit range). */
  def varint(): Long = {
    var shift = 0; var out = 0L; var i = 0
    while (i < 10) {
      val v = u8()
      out |= (v & 0x7fL) << shift
      if ((v & 0x80) == 0) return out
      shift += 7; i += 1
    }
    throw Malformed
  }
  /** A zigzag-mapped [[varint]] (thrift i16/i32/i64, proto sint). */
  def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1) }
  /** Avro's long: the zigzag varint. */
  def avroLong(): Long = zigzag()

  private def check(n: Long): Int = {
    if (n < 0 || n > end - pos) throw Malformed
    n.toInt
  }
  def skip(n: Long): Unit = pos += check(n)
  def take(n: Long): Array[Byte] = {
    val k = check(n)
    val out = java.util.Arrays.copyOfRange(b, pos, pos + k)
    pos += k; out
  }
  /** The next `n` bytes as a cursor with its own end; this one skips them. */
  def slice(n: Long): ByteCursor = {
    val k = check(n)
    val s = new ByteCursor(b, pos, pos + k)
    pos += k; s
  }
}

/** MSB-first bit reader over `b[from, end)` (AV1 f(n), H.264 u(n), ORC
  * bit-packed runs). A read past `end` throws [[Malformed]] before
  * consuming anything.
  */
final class BitCursor(b: Array[Byte], from: Int, end: Int) {
  private var bit: Long = from.toLong * 8
  private val limit: Long = end.toLong * 8

  def this(b: Array[Byte]) = this(b, 0, b.length)

  /** The next `n` bits (0 ≤ n ≤ 64), first bit most significant. */
  def bits(n: Int): Long = {
    if (n < 0 || n > 64 || n > limit - bit) throw Malformed
    var v = 0L
    var p = bit
    val stop = p + n
    while (p < stop) {
      v = (v << 1) | ((b((p >>> 3).toInt) >> (7 - (p & 7).toInt)) & 1)
      p += 1
    }
    bit = stop
    v
  }
  /** Skip to the next byte boundary (no-op when aligned). */
  def alignByte(): Unit = bit = (bit + 7) & ~7L
  /** The byte holding the next bit. */
  def bytePos: Int = (bit >>> 3).toInt
}

/** The synthetic writers' sink: the reader widths plus varints and RIFF
  * chunks. Every write returns the sink, so headers chain.
  */
class ByteSink(initial: Int = 64) extends ByteArrayOutputStream(initial) {
  def u8(v: Int): this.type = { write(v & 0xff); this }
  def raw(a: Array[Byte]): this.type = { write(a, 0, a.length); this }
  def ascii(s: String): this.type = raw(s.getBytes("US-ASCII"))
  def le16(v: Int): this.type = u8(v).u8(v >> 8)
  def le24(v: Int): this.type = le16(v).u8(v >> 16)
  def le32(v: Long): this.type = le16(v.toInt).le16((v >> 16).toInt)
  def le64(v: Long): this.type = le32(v).le32(v >>> 32)
  def be16(v: Int): this.type = u8(v >> 8).u8(v)
  def be24(v: Int): this.type = u8(v >> 16).be16(v)
  def be32(v: Long): this.type = be16((v >> 16).toInt).be16(v.toInt)
  def be64(v: Long): this.type = be32(v >>> 32).be32(v)
  /** Unsigned LEB128. */
  def varint(v0: Long): this.type = {
    var v = v0
    while ((v & ~0x7fL) != 0) { write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    write(v.toInt); this
  }
  def zigzag(v: Long): this.type = varint((v << 1) ^ (v >> 63))
  def avroLong(v: Long): this.type = zigzag(v)
  /** Avro `bytes`/`string`: length then body. */
  def avroBytes(a: Array[Byte]): this.type = avroLong(a.length.toLong).raw(a)
  /** A RIFF chunk: fourcc, little-endian body size, body, pad byte when odd. */
  def riffChunk(fourcc: String, body: Array[Byte]): this.type = {
    ascii(fourcc).le32(body.length).raw(body)
    if ((body.length & 1) == 1) u8(0)
    this
  }
}

/** MSB-first bit writer, the mirror of [[BitCursor]] for the fixture
  * encoders; the last byte is zero-padded.
  */
final class BitSink {
  private val out = new ByteSink()
  private var cur = 0
  private var nb = 0

  /** The low `n` bits of `v` (0 ≤ n ≤ 64), most significant first. */
  def bits(v: Long, n: Int): this.type = {
    var i = n - 1
    while (i >= 0) {
      cur = (cur << 1) | ((v >> i) & 1L).toInt
      nb += 1
      if (nb == 8) { out.write(cur); cur = 0; nb = 0 }
      i -= 1
    }
    this
  }
  def toByteArray: Array[Byte] =
    if (nb == 0) out.toByteArray else out.u8(cur << (8 - nb)).toByteArray
}
