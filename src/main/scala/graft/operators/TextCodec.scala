package graft.operators

import java.io.ByteArrayOutputStream
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.DataFrame

/** Real compressed-TEXT decode over opaque `binary` payload columns —
  * the text twin of the media codecs: web crawls, log archives, and
  * shard interchange all ship documents gzip-compressed (RFC 1952
  * framing around RFC 1951 DEFLATE — LZ77 + canonical Huffman), so
  * "scan the corpus" starts with an entropy-coded decode. The JDK's
  * zlib binding does the DEFLATE itself (exact by specification — a
  * lossless codec has ONE correct output), which gives the same
  * oracle leverage as the media fixtures: q194 compresses the
  * `documents` table's own text, decodes through this path, and gates
  * the features against SQL computed directly on the plain table.
  *
  * Untrusted-corpus discipline (the LIST-depth-cap theme): DEFLATE
  * ratios reach ~1000×, so a ~100 KB crafted payload can expand to
  * 100 MB and a chain of them can OOM an executor — decompression
  * output is therefore CAPPED (default 64 MiB per document) and a
  * payload that exceeds the cap is rejected as corrupt (None), never
  * silently truncated.
  */
object TextCodec {

  /** Default per-document decompressed-size cap: 64 MiB. */
  val MaxDecodedBytes: Int = 64 * 1024 * 1024

  /** gzip-compress UTF-8 text. Java's GZIPOutputStream writes MTIME=0
    * and a fixed default compression level, so the bytes are
    * deterministic for a given input — fixture-safe.
    */
  def gzipUtf8(text: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(text.getBytes("UTF-8"))
    gz.close()
    bos.toByteArray
  }

  /** Decompress a gzip payload to UTF-8 text. None for anything that
    * is not a complete, well-formed gzip stream — bad magic, CRC
    * mismatch, truncation — or whose decompressed size exceeds
    * `maxBytes` (a decompression bomb, not a document).
    */
  def gunzipUtf8(bytes: Array[Byte],
                 maxBytes: Int = MaxDecodedBytes): Option[String] =
    try {
      val in = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      val out = new ByteArrayOutputStream(math.min(bytes.length * 4, 1 << 16))
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      var total = 0L
      while (n > 0) {
        total += n
        if (total > maxBytes) { in.close(); return None } // bomb, not a doc
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      in.close()
      Some(new String(out.toByteArray, "UTF-8"))
    } catch {
      case _: java.io.IOException => None // bad magic/CRC/truncation
    }

  /** Decode a gzip payload column to (idCol, decodable, text) — one
    * inflater pass per partition, map-only; undecodable payloads
    * surface as rows with a null text. Compose with the text operators
    * (tokens, fingerprints, quality) downstream exactly as if the
    * column had been stored plain.
    */
  def decodeTextPayloads(df: DataFrame, idCol: String, payloadCol: String,
                         maxBytes: Int = MaxDecodedBytes): DataFrame =
    Payloads.census(df, idCol, payloadCol, "decodable", "text") { (id, bytes) =>
      gunzipUtf8(bytes, maxBytes) match {
        case Some(t) => (id, true, t)
        case None    => (id, false, null: String)
      }
    }

  // ---- UTF-8 structural validation (RFC 3629) — the byte-level twin
  // of the q350 mojibake census (which is a heuristic over DECODED
  // text): raw crawl payloads arrive as bytes of unknown validity, and
  // `new String(bytes, UTF_8)` silently replaces malformed sequences,
  // destroying the signal. This walk classifies every byte before any
  // decode: a 100 TB ingest routes on these counts (reject, repair,
  // or transcode) without materializing a single String.

  final case class Utf8Meta(
      nCodepoints: Long,   // well-formed scalar values (incl. ASCII)
      nAscii: Long,
      n2Byte: Long,
      n3Byte: Long,
      n4Byte: Long,
      nOverlong: Long,     // decodable but non-shortest form (C0 80 …)
      nSurrogate: Long,    // U+D800–DFFF encoded directly (CESU-8 halves)
      nBeyondMax: Long,    // > U+10FFFF (F4 90+ leads)
      nInvalid: Long,      // stray continuations, bad leads, bad/missing
                           //   continuation bytes, truncated tails
      nBytes: Long)

  /** One pass over raw bytes, WHATWG-style resync: a malformed
    * sequence counts ONCE and decoding resumes at the offending byte
    * (so one flipped byte costs one event, not a cascade). Overlong /
    * surrogate / beyond-max forms are structurally complete and
    * counted in their own columns, NOT in nInvalid — the repair
    * decision differs (overlongs decode unambiguously; surrogates
    * usually mean CESU-8/WTF-8 and want transcoding; structural
    * breakage wants rejection).
    */
  def utf8Audit(bytes: Array[Byte]): Utf8Meta = {
    val n = bytes.length
    var i = 0
    var cp = 0L; var ascii = 0L; var b2 = 0L; var b3 = 0L; var b4 = 0L
    var overlong = 0L; var surrogate = 0L; var beyond = 0L; var invalid = 0L
    while (i < n) {
      val b0 = bytes(i) & 0xff
      if (b0 < 0x80) { ascii += 1; cp += 1; i += 1 }
      else if (b0 < 0xC2 && b0 >= 0x80 && b0 < 0xC0) { invalid += 1; i += 1 } // stray continuation
      else if (b0 >= 0xF8) { invalid += 1; i += 1 } // 5/6-byte leads: never valid
      else {
        val need = if (b0 < 0xE0) 1 else if (b0 < 0xF0) 2 else 3
        var v = if (b0 < 0xE0) b0 & 0x1F else if (b0 < 0xF0) b0 & 0x0F else b0 & 0x07
        var k = 0
        var bad = false
        while (k < need && !bad) {
          if (i + 1 + k >= n) bad = true // truncated at end of input
          else {
            val c = bytes(i + 1 + k) & 0xff
            if (c < 0x80 || c >= 0xC0) bad = true
            else { v = (v << 6) | (c & 0x3F); k += 1 }
          }
        }
        if (bad) { invalid += 1; i += 1 + k } // resync AT the bad byte
        else {
          i += 1 + need
          if (need == 1) {
            if (v < 0x80) overlong += 1 else { b2 += 1; cp += 1 }
          } else if (need == 2) {
            if (v < 0x800) overlong += 1
            else if (v >= 0xD800 && v <= 0xDFFF) surrogate += 1
            else { b3 += 1; cp += 1 }
          } else {
            if (v < 0x10000) overlong += 1
            else if (v > 0x10FFFF) beyond += 1
            else { b4 += 1; cp += 1 }
          }
        }
      }
    }
    Utf8Meta(cp, ascii, b2, b3, b4, overlong, surrogate, beyond, invalid, n.toLong)
  }

  def utf8Features(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_codepoints", "n_ascii", "n_2byte",
      "n_3byte", "n_4byte", "n_overlong", "n_surrogate", "n_beyond_max", "n_invalid",
      "n_bytes") { (id, bytes) =>
      val m = utf8Audit(bytes)
      (id, m.nCodepoints, m.nAscii, m.n2Byte, m.n3Byte, m.n4Byte,
        m.nOverlong, m.nSurrogate, m.nBeyondMax, m.nInvalid, m.nBytes)
    }
}
