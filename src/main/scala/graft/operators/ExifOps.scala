package graft.operators

import org.apache.spark.sql.DataFrame

/** EXIF/TIFF IFD walker — the image-side provenance-and-PII triage
  * pass the codec family was missing: every JPEG a crawl ingests can
  * carry an APP1 "Exif" segment whose TIFF-structured IFD records
  * camera make, capture time, orientation — and, the curation-critical
  * bit, a GPS sub-IFD (tag 0x8825) that is straight location PII. A
  * 100 TB image corpus runs THIS walk (fixed-layout byte reads, ~50
  * bytes touched per file) long before any pixel decode; `has_gps`
  * feeds the same redaction-escalation path as q328's verified card
  * numbers.
  *
  * Layout walked (all offsets relative to the TIFF header, per the
  * EXIF 2.3 / TIFF 6.0 specs):
  *
  *   FFD8 (SOI) · FFE1 len₂ "Exif\0\0" · TIFF header
  *   (II|MM, magic 42, IFD0 offset₄) · IFD0: count₂ +
  *   12-byte entries (tag₂ type₂ count₄ value/offset₄) + next₄
  *
  * Both byte orders are real in the wild (II = little per Intel, MM =
  * big per Motorola) and both are parsed — the `little_endian` output
  * is itself a provenance signal.
  *
  * Contract (stop-don't-guess, the family rule): missing SOI/APP1,
  * a non-"Exif\0\0" APP1, a TIFF magic ≠ 42, an IFD0 offset or entry
  * table overrunning the APP1 segment — each stops the walk with
  * `valid = 0`; everything after the APP1 segment is reported as
  * `image_bytes` (the entropy-coded mass the honest
  * [[MultimodalStub]] boundary never touches).
  */
object ExifOps {

  final case class ExifMeta(
      valid: Int,
      littleEndian: Int,
      nIfd0Entries: Int,
      orientation: Int,     // tag 0x0112, 0 when absent
      hasGps: Int,          // tag 0x8825 present — the PII signal
      hasExifIfd: Int,      // tag 0x8769 present
      hasDateTime: Int,     // tag 0x0132 present
      hasMake: Int,         // tag 0x010F present
      app1Bytes: Long,      // marker + length + payload
      imageBytes: Long,     // everything after the APP1 segment
      trailingBytes: Long)  // unparsed remainder on a failed walk

  private val Empty = ExifMeta(0, 0, 0, 0, 0, 0, 0, 0, 0L, 0L, 0L)

  /** Deterministic JPEG-with-EXIF skeleton: SOI + APP1 (TIFF header in
    * the given byte order, IFD0 with the requested tags) + `imageLen`
    * filler bytes standing in for the entropy-coded scan.
    */
  def encodeSynthetic(littleEndian: Boolean, orientation: Int,
      withGps: Boolean, withExifIfd: Boolean, withDateTime: Boolean,
      withMake: Boolean, imageLen: Int): Array[Byte] = {
    val le = littleEndian
    def w16(s: ByteSink, v: Int): ByteSink = if (le) s.le16(v) else s.be16(v)
    def w32(s: ByteSink, v: Long): ByteSink = if (le) s.le32(v) else s.be32(v)
    // IFD0 entries, ascending tag order per the TIFF spec
    final case class E(tag: Int, typ: Int, count: Long, value: Long)
    val entries = Seq(
      if (withMake) Some(E(0x010F, 2, 6L, 0L)) else None,        // Make, ASCII (offset patched below)
      if (orientation > 0) Some(E(0x0112, 3, 1L, orientation.toLong)) else None,
      if (withDateTime) Some(E(0x0132, 2, 20L, 0L)) else None,   // DateTime, ASCII
      if (withExifIfd) Some(E(0x8769, 4, 1L, 0L)) else None,     // Exif IFD pointer
      if (withGps) Some(E(0x8825, 4, 1L, 0L)) else None          // GPS IFD pointer
    ).flatten
    val n = entries.size
    // TIFF-relative layout: header 8 · IFD0 2+12n+4 · value area
    val ifd0End = 8 + 2 + 12 * n + 4
    var valueOff = ifd0End.toLong
    val valueArea = new ByteSink()
    val patched = entries.map { e =>
      val needsOffset =
        (e.typ == 2 && e.count > 4) || e.tag == 0x8769 || e.tag == 0x8825
      if (!needsOffset) e
      else {
        val off = valueOff
        e.tag match {
          case 0x010F =>
            valueArea.write("graft ".getBytes("ISO-8859-1")); valueOff += 6
          case 0x0132 =>
            valueArea.write("2026:08:15 00:00:00 ".getBytes("ISO-8859-1"))
            valueOff += 20
          case _ => // a minimal empty sub-IFD: count 0 + next 0
            w32(w16(valueArea, 0), 0L); valueOff += 6
        }
        e.copy(value = off)
      }
    }
    val tiff = new ByteSink()
    tiff.write(if (le) "II".getBytes("ISO-8859-1") else "MM".getBytes("ISO-8859-1"))
    w16(tiff, 42)
    w32(tiff, 8L) // IFD0 directly after the header
    w16(tiff, n)
    patched.foreach { e =>
      w16(tiff, e.tag); w16(tiff, e.typ); w32(tiff, e.count)
      // SHORT count-1 values sit left-justified in the 4-byte field
      if (e.typ == 3 && e.count == 1) { w16(tiff, e.value.toInt); w16(tiff, 0) }
      else w32(tiff, e.value)
    }
    w32(tiff, 0L) // no IFD1
    tiff.write(valueArea.toByteArray)
    val tiffBytes = tiff.toByteArray
    val bos = new ByteSink()
    bos.u8(0xFF).u8(0xD8) // SOI
    bos.u8(0xFF).u8(0xE1) // APP1
    val app1Len = 2 + 6 + tiffBytes.length // length field counts itself
    bos.be16(app1Len)
    bos.write("Exif".getBytes("ISO-8859-1")); bos.write(0); bos.write(0)
    bos.write(tiffBytes)
    var i = 0
    while (i < imageLen) { bos.write((i * 17 + 3) % 256); i += 1 }
    bos.toByteArray
  }

  def parse(bytes: Array[Byte]): ExifMeta = {
    val n = bytes.length
    def fail(pos: Int) = Empty.copy(trailingBytes = (n - pos).toLong)
    if (n < 4 || (bytes(0) & 0xff) != 0xFF || (bytes(1) & 0xff) != 0xD8) return fail(0)
    if ((bytes(2) & 0xff) != 0xFF || (bytes(3) & 0xff) != 0xE1) return fail(2)
    // the APP1 length field needs bytes 4–5 to exist: a 4- or 5-byte
    // truncated `FF D8 FF E1` must fail closed, not crash the task
    if (n < 6) return fail(4)
    val app1Len = Bytes.be16(bytes, 4)
    // the length field counts itself: payload = app1Len - 2 bytes
    val segEnd = 4 + 2 + (app1Len - 2)
    if (app1Len < 2 + 6 + 8 || segEnd > n) return fail(4)
    if (!(bytes(6) == 'E' && bytes(7) == 'x' && bytes(8) == 'i' && bytes(9) == 'f' &&
        bytes(10) == 0 && bytes(11) == 0)) return fail(6)
    val t0 = 12 // TIFF header origin; all IFD offsets are relative to it
    def inSeg(off: Long, len: Long): Boolean = t0 + off + len <= segEnd
    val le =
      if (bytes(t0) == 'I' && bytes(t0 + 1) == 'I') true
      else if (bytes(t0) == 'M' && bytes(t0 + 1) == 'M') false
      else return fail(t0)
    def rd16(off: Int): Int = if (le) Bytes.le16(bytes, off) else Bytes.be16(bytes, off)
    def rd32(off: Int): Long = if (le) Bytes.le32u(bytes, off) else Bytes.be32u(bytes, off)
    if (rd16(t0 + 2) != 42) return fail(t0 + 2)
    val ifd0 = rd32(t0 + 4)
    if (!inSeg(ifd0, 2L)) return fail(t0 + 4)
    val cnt = rd16(t0 + ifd0.toInt)
    if (!inSeg(ifd0, 2L + 12L * cnt + 4L)) return fail(t0 + ifd0.toInt)
    var orientation = 0; var gps = 0; var exifIfd = 0; var dt = 0; var mk = 0
    var i = 0
    while (i < cnt) {
      val e = t0 + ifd0.toInt + 2 + 12 * i
      val tag = rd16(e)
      tag match {
        case 0x0112 => orientation = rd16(e + 8) // SHORT, left-justified
        case 0x8825 => gps = 1
        case 0x8769 => exifIfd = 1
        case 0x0132 => dt = 1
        case 0x010F => mk = 1
        case _ => ()
      }
      i += 1
    }
    ExifMeta(1, if (le) 1 else 0, cnt, orientation, gps, exifIfd, dt, mk,
      (segEnd - 2).toLong, (n - segEnd).toLong, 0L)
  }

  def exifFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid", "little_endian", "n_ifd0_entries",
      "orientation", "has_gps", "has_exif_ifd", "has_datetime", "has_make",
      "app1_bytes", "image_bytes", "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.valid.toLong, m.littleEndian.toLong, m.nIfd0Entries.toLong,
        m.orientation.toLong, m.hasGps.toLong, m.hasExifIfd.toLong,
        m.hasDateTime.toLong, m.hasMake.toLong, m.app1Bytes,
        m.imageBytes, m.trailingBytes)
    }
}
