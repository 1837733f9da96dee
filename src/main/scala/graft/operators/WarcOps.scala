package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** WARC (ISO 28500) record walker — the container member of the
  * crawl-curation family (q320 robots, q316 HTML, q317 URLs, q321
  * PII): web-scale corpora arrive as WARC archives (Common Crawl's
  * storage format), a concatenation of records each framed as
  *
  *   `WARC/1.x\r\n` · header lines (`Name: value\r\n`)* · `\r\n` ·
  *   Content-Length payload bytes · `\r\n\r\n`
  *
  * Framing is BY LENGTH, never by scanning for the next `WARC/`
  * magic — response payloads routinely contain the bytes
  * `WARC/1.0\r\n` verbatim (a crawled page about WARC), so a
  * re-syncing scanner would miscount records; the spec pins this with
  * a payload-embedded-magic fixture. Walking the framing gives the
  * census a 100 TB crawl triages on before any payload parse:
  * record-type mix (a healthy crawl is ~paired request/response),
  * payload mass vs header overhead, and how much of each archive is
  * undecodable tail.
  *
  * Contract (stop-don't-guess, the header-walk family discipline): a
  * record must start with `WARC/`; its header block must close with a
  * blank line before EOF; `Content-Length` must be present, digits
  * only (header names case-insensitive per the RFC-822 lineage);
  * payload + terminator must fit; the terminator must be exactly
  * `\r\n\r\n`. Any violation stops the walk AT THAT RECORD'S START
  * and the remainder is reported as `trailing_bytes` — corrupt
  * archives triage safely at scan speed instead of yielding garbage
  * counts.
  */
object WarcOps {

  final case class WarcMeta(
      nRecords: Int,
      nWarcinfo: Int,
      nRequest: Int,
      nResponse: Int,
      nMetadata: Int,
      nOther: Int,
      sumPayloadBytes: Long, // Σ Content-Length
      sumHeaderBytes: Long,  // version lines + header lines + blank lines
      trailingBytes: Long)

  private val Ascii = java.nio.charset.StandardCharsets.ISO_8859_1

  /** Deterministic archive from a (type, optional target URI,
    * payload length) plan. Payload filler is arbitrary bytes —
    * including CR/LF — because length-framing makes content opaque.
    */
  def encodeSynthetic(plan: Seq[(String, Option[String], Int)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes(Ascii))
    plan.zipWithIndex.foreach { case ((recType, uri, payloadLen), j) =>
      w("WARC/1.0\r\n")
      w(s"WARC-Type: $recType\r\n")
      uri.foreach(u => w(s"WARC-Target-URI: $u\r\n"))
      w(s"Content-Length: $payloadLen\r\n")
      w("\r\n")
      var i = 0
      while (i < payloadLen) { bos.write((i * 31 + j * 7) % 256); i += 1 }
      w("\r\n\r\n")
    }
    bos.toByteArray
  }

  /** Like [[encodeSynthetic]] but with REAL payload bytes — the
    * fixture encoder for the extraction path, where content (not just
    * framing) must round-trip.
    */
  def encodeSyntheticContent(plan: Seq[(String, Option[String], Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes(Ascii))
    plan.foreach { case (recType, uri, payload) =>
      w("WARC/1.0\r\n")
      w(s"WARC-Type: $recType\r\n")
      uri.foreach(u => w(s"WARC-Target-URI: $u\r\n"))
      w(s"Content-Length: ${payload.length}\r\n")
      w("\r\n")
      bos.write(payload)
      w("\r\n\r\n")
    }
    bos.toByteArray
  }

  /** The extraction half of the walk: every RESPONSE record's
    * (ordinal, target URI, payload bytes), in archive order — what a
    * crawl-curation pipeline actually consumes (requests/warcinfo/
    * metadata are protocol bookkeeping). Same framing discipline as
    * [[parse]]: Content-Length is authoritative, no magic re-sync, a
    * malformed record stops the walk with the valid prefix kept.
    */
  def responses(bytes: Array[Byte]): Seq[(Int, String, Array[Byte])] = {
    val n = bytes.length
    def findCrlf(i: Int): Int = {
      var p = i
      while (p + 2 <= n && !(bytes(p) == '\r' && bytes(p + 1) == '\n')) p += 1
      if (p + 2 <= n) p else -1
    }
    val out = Seq.newBuilder[(Int, String, Array[Byte])]
    var pos = 0
    var respIdx = 0
    var ok = true
    while (ok && pos < n) {
      val vEnd = findCrlf(pos)
      if (vEnd < 0 || !new String(bytes, pos, vEnd - pos, Ascii).startsWith("WARC/")) ok = false
      else {
        pos = vEnd + 2
        var recType: String = null
        var uri: String = null
        var clen = -1L
        var headersOk = true
        var blank = false
        while (headersOk && !blank) {
          val hEnd = findCrlf(pos)
          if (hEnd < 0) headersOk = false
          else {
            val line = new String(bytes, pos, hEnd - pos, Ascii)
            pos = hEnd + 2
            if (line.isEmpty) blank = true
            else {
              val ci = line.indexOf(':')
              if (ci > 0) {
                val (k, v) = (line.substring(0, ci).trim, line.substring(ci + 1).trim)
                if (k.equalsIgnoreCase("WARC-Type")) recType = v
                else if (k.equalsIgnoreCase("WARC-Target-URI")) uri = v
                else if (k.equalsIgnoreCase("Content-Length"))
                  clen = if (v.nonEmpty && v.forall(_.isDigit) && v.length <= 18)
                    v.toLong
                  else -1L
              }
            }
          }
        }
        // same framing contract as parse(): the payload AND its
        // two-CRLF terminator must be intact before the record counts
        // — a response whose terminator is cut is NOT emitted
        if (!headersOk || !blank || clen < 0) ok = false
        else {
          val payloadEnd = pos.toLong + clen
          if (payloadEnd + 4 > n) ok = false
          else if (!(bytes(payloadEnd.toInt) == '\r' && bytes(payloadEnd.toInt + 1) == '\n' &&
            bytes(payloadEnd.toInt + 2) == '\r' && bytes(payloadEnd.toInt + 3) == '\n'))
            ok = false
          else {
            if (recType == "response") {
              out += ((respIdx, if (uri == null) "" else uri,
                java.util.Arrays.copyOfRange(bytes, pos, pos + clen.toInt)))
              respIdx += 1
            }
            pos = (payloadEnd + 4).toInt
          }
        }
      }
    }
    out.result()
  }

  /** Exploded response relation over (id, archive bytes): one row per
    * response record — (id, page, uri, html UTF-8-decoded). The
    * per-archive flatMap is the container boundary; everything after
    * is columnar.
    */
  def extractResponses(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        responses(bytes).map { case (p, uri, payload) =>
          (id, p.toLong, uri, new String(payload, java.nio.charset.StandardCharsets.UTF_8))
        }
      }
      .toDF(idCol, "page", "uri", "content")
  }

  def parse(bytes: Array[Byte]): WarcMeta = {
    val n = bytes.length
    // index of the next CRLF at-or-after i, or -1
    def findCrlf(i: Int): Int = {
      var p = i
      while (p + 2 <= n && !(bytes(p) == '\r' && bytes(p + 1) == '\n')) p += 1
      if (p + 2 <= n) p else -1
    }
    var pos = 0
    var nRec = 0; var nInfo = 0; var nReq = 0; var nResp = 0; var nMeta = 0
    var nOther = 0; var payloadSum = 0L; var headerSum = 0L
    var ok = true
    while (ok && pos < n) {
      val recStart = pos
      // version line
      val vEnd = findCrlf(pos)
      val version = if (vEnd < 0) "" else new String(bytes, pos, vEnd - pos, Ascii)
      if (vEnd < 0 || !version.startsWith("WARC/")) ok = false
      else {
        var p = vEnd + 2
        var recType: String = null
        var contentLen = -1L
        var headersOk = true
        var blankSeen = false
        while (headersOk && !blankSeen) {
          val e = findCrlf(p)
          if (e < 0) headersOk = false // EOF before the blank line
          else if (e == p) { blankSeen = true; p = e + 2 } // the blank line
          else {
            val line = new String(bytes, p, e - p, Ascii)
            val ci = line.indexOf(':')
            if (ci <= 0) headersOk = false // not a header line
            else {
              val name = line.substring(0, ci).trim.toLowerCase
              val value = line.substring(ci + 1).trim
              if (name == "warc-type") recType = value
              else if (name == "content-length") {
                if (value.nonEmpty && value.forall(_.isDigit) && value.length <= 18)
                  contentLen = value.toLong
                else headersOk = false
              }
              if (headersOk) p = e + 2
            }
          }
        }
        if (!headersOk || contentLen < 0) ok = false
        else {
          val payloadEnd = p + contentLen
          if (payloadEnd + 4 > n) ok = false // truncated payload/terminator
          else if (!(bytes(payloadEnd.toInt) == '\r' && bytes(payloadEnd.toInt + 1) == '\n' &&
            bytes(payloadEnd.toInt + 2) == '\r' && bytes(payloadEnd.toInt + 3) == '\n'))
            ok = false
          else {
            nRec += 1
            payloadSum += contentLen
            headerSum += p - recStart
            (if (recType == null) "" else recType) match {
              case "warcinfo" => nInfo += 1
              case "request" => nReq += 1
              case "response" => nResp += 1
              case "metadata" => nMeta += 1
              case _ => nOther += 1
            }
            pos = (payloadEnd + 4).toInt
          }
        }
      }
      if (!ok) pos = recStart // everything from the bad record on is trailing
    }
    WarcMeta(nRec, nInfo, nReq, nResp, nMeta, nOther, payloadSum, headerSum,
      (n - pos).toLong)
  }

  def warcFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_records", "n_warcinfo", "n_request",
      "n_response", "n_metadata", "n_other", "sum_payload_bytes", "sum_header_bytes",
      "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.nRecords.toLong, m.nWarcinfo.toLong, m.nRequest.toLong,
        m.nResponse.toLong, m.nMetadata.toLong, m.nOther.toLong,
        m.sumPayloadBytes, m.sumHeaderBytes, m.trailingBytes)
    }
}
