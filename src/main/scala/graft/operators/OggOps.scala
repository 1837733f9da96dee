package graft.operators

import org.apache.spark.sql.DataFrame

/** Ogg page walker (RFC 3533) — the open-container member of the
  * audio-triage family ([[MpegAudio]] MP3/ADTS): Opus/Vorbis corpora
  * ship as Ogg streams, a sequence of pages each framed as
  *
  *   `OggS` · version(1) · header_type(1: continued/BOS/EOS bits) ·
  *   granule_position(8 LE) · serial(4 LE) · page_seq(4 LE) ·
  *   crc32(4 LE) · n_segments(1) · segment_table(n) · payload(Σ table)
  *
  * Walking pages gives the audio census before any codec decode:
  * logical-stream count (BOS pages), duration from the final granule
  * position (48 kHz ticks for Opus — granule/48 = ms), payload mass
  * vs header overhead, packet-continuation rate. The page CRC is
  * VERIFIED (Ogg's own CRC-32: poly 0x04C11DB7, unreflected, zero
  * init/xor, computed with the CRC field zeroed) — without it a
  * corrupt segment table silently desynchronizes every later page,
  * the same failure mode the tar checksum guards against.
  *
  * Contract (stop-don't-guess): bad magic, unknown version, short
  * header/table/payload, or CRC mismatch stop the walk at that
  * page's offset; the remainder is `trailing_bytes`.
  */
object OggOps {

  final case class OggMeta(
      nPages: Int,
      nBos: Int,
      nEos: Int,
      nContinued: Int,
      payloadBytes: Long,
      headerBytes: Long,     // 27 fixed + segment table per page
      lastGranule: Long,
      durationMs: Long,      // lastGranule / 48 (Opus 48 kHz ticks)
      trailingBytes: Long)

  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var j = 0
      while (j < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        j += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  /** Ogg CRC-32 over a buffer slice. */
  def crc(bytes: Array[Byte], off: Int, len: Int): Int = {
    var r = 0
    var i = off
    val end = off + len
    while (i < end) {
      r = (r << 8) ^ CrcTable(((r >>> 24) ^ (bytes(i) & 0xff)) & 0xff)
      i += 1
    }
    r
  }

  /** Deterministic single-serial Ogg stream from a per-page plan of
    * (headerType, granule, segment lengths). CRCs are correct.
    */
  def encodeSynthetic(plan: Seq[(Int, Long, Seq[Int])], serial: Int = 0x1234): Array[Byte] = {
    val bos = new ByteSink()
    plan.zipWithIndex.foreach { case ((hType, granule, segs), seq) =>
      val payload = Array.tabulate(segs.sum)(b => ((b * 17 + seq * 31) % 256).toByte)
      bos.raw(encodePage(hType, granule, serial, seq, segs, payload))
    }
    bos.toByteArray
  }

  /** The one CRC-verified page walk both censuses share: calls `f`
    * per VALID page with (headerType, granule, serial, segment count,
    * payload offset, payload length) and returns the position after
    * the last valid page (everything from there on is trailing —
    * stop-don't-guess on bad magic/version, short header/table/
    * payload, or CRC mismatch).
    */
  private def walkPages(bytes: Array[Byte])
      (f: (Int, Long, Int, Int, Int, Int) => Unit): Int = {
    val n = bytes.length
    var pos = 0
    var ok = true
    while (ok && pos < n) {
      if (pos + 27 > n || bytes(pos) != 'O' || bytes(pos + 1) != 'g' ||
        bytes(pos + 2) != 'g' || bytes(pos + 3) != 'S' || bytes(pos + 4) != 0) ok = false
      else {
        val nSegs = bytes(pos + 26) & 0xff
        if (pos + 27 + nSegs > n) ok = false
        else {
          var payloadLen = 0
          var i = 0
          while (i < nSegs) { payloadLen += bytes(pos + 27 + i) & 0xff; i += 1 }
          val total = 27 + nSegs + payloadLen
          if (total > n - pos) ok = false
          else {
            // CRC with the stored field read as zeros (no input mutation)
            val stored = Bytes.le32(bytes, pos + 22)
            var actual = 0
            var ci = pos
            val cEnd = pos + total
            while (ci < cEnd) {
              val b = if (ci >= pos + 22 && ci < pos + 26) 0 else bytes(ci) & 0xff
              actual = (actual << 8) ^ CrcTable(((actual >>> 24) ^ b) & 0xff)
              ci += 1
            }
            if (actual != stored) ok = false
            else {
              val hType = bytes(pos + 5) & 0xff
              f(hType, Bytes.le64(bytes, pos + 6), Bytes.le32(bytes, pos + 14), nSegs,
                pos + 27 + nSegs, payloadLen)
              pos += total
            }
          }
        }
      }
    }
    pos
  }

  def parse(bytes: Array[Byte]): OggMeta = {
    var nPages = 0; var nBos = 0; var nEos = 0; var nCont = 0
    var payload = 0L; var header = 0L; var lastGranule = 0L
    val pos = walkPages(bytes) { (hType, g, _, nSegs, _, payloadLen) =>
      nPages += 1
      if ((hType & 0x01) != 0) nCont += 1
      if ((hType & 0x02) != 0) nBos += 1
      if ((hType & 0x04) != 0) nEos += 1
      payload += payloadLen
      header += 27 + nSegs
      // -1 marks a no-granule page; ANY other negative granule is an
      // attacker-controlled 64-bit field with no valid meaning — treat
      // the whole negative range as no-granule so the duration clock
      // can never go backwards past 0 (or wrap at Long.MinValue)
      if (g >= 0L) lastGranule = g
    }
    OggMeta(nPages, nBos, nEos, nCont, payload, header, lastGranule,
      lastGranule / 48, (bytes.length - pos).toLong)
  }

  // ---- codec identification from the first packet of each BOS page
  // (RFC 7845 §5.1 OpusHead / Vorbis I §4.2.2 identification header /
  // Ogg-FLAC mapping byte) — closed-form fixed-offset fields, no
  // entropy decode, completing the audio-triage family the way GGUF
  // completed the weights containers.

  /** Codec ids for [[OggCodecMeta]]: 0 = unrecognized/malformed BOS
    * packet, 1 = Opus, 2 = Vorbis, 3 = FLAC-in-Ogg.
    */
  val CodecOther = 0; val CodecOpus = 1; val CodecVorbis = 2; val CodecFlac = 3

  final case class OggCodecMeta(
      nStreams: Int,        // BOS pages = logical streams
      nOpus: Int,
      nVorbis: Int,
      nFlac: Int,
      nOtherCodec: Int,     // BOS present but first packet unrecognized
      codecId: Int,         // FIRST stream's codec (CodecOther if none)
      channels: Int,        // first stream (0 when unrecognized)
      sampleRate: Long,     // Opus: input rate; Vorbis: audio rate
      preSkip: Int,         // Opus only (0 otherwise)
      opusDurationMs: Long, // (lastGranule − preSkip)/48, ≥0, Opus first stream only
      trailingBytes: Long)

  private def hasMagic(b: Array[Byte], off: Int, m: String): Boolean = {
    var i = 0
    while (i < m.length) {
      if (b(off + i) != m.charAt(i).toByte) return false
      i += 1
    }
    true
  }

  /** Classify one BOS page's first packet (payload prefix — the id
    * headers are 19/30 bytes and RFC 7845/Vorbis I require them to be
    * the WHOLE first packet of the first page, so a prefix shorter
    * than the fixed header is malformed, not "other"):
    * (codecId, channels, sampleRate, preSkip). Stop-don't-guess: any
    * length/version violation classifies as [[CodecOther]] with zeroed
    * fields rather than reading fields that are not there.
    */
  private def classify(b: Array[Byte], off: Int, len: Int): (Int, Int, Long, Int) = {
    // OpusHead: magic(8) ver(1, major nibble 0) ch(1) preSkip(2 LE)
    //           inputRate(4 LE) gain(2) mappingFamily(1) = 19 bytes min
    if (len >= 19 && hasMagic(b, off, "OpusHead") && (b(off + 8) & 0xf0) == 0)
      (CodecOpus, b(off + 9) & 0xff, Bytes.le32u(b, off + 10 + 2), Bytes.le16(b, off + 10))
    // Vorbis id: 0x01 "vorbis" version(4 LE, == 0) ch(1) rate(4 LE)
    //            bitrates(12) blocksizes(1) framing(1) = 30 bytes
    else if (len >= 30 && b(off) == 0x01 && hasMagic(b, off + 1, "vorbis") &&
      Bytes.le32u(b, off + 7) == 0L)
      (CodecVorbis, b(off + 11) & 0xff, Bytes.le32u(b, off + 12), 0)
    // Ogg-FLAC mapping: 0x7F "FLAC" major(1) minor(1) nHeaders(2) "fLaC"
    //                   STREAMINFO block — 13 + 4 + 38 bytes min
    else if (len >= 51 && (b(off) & 0xff) == 0x7f && hasMagic(b, off + 1, "FLAC") &&
      hasMagic(b, off + 9, "fLaC")) {
      // STREAMINFO starts at off+13 (block header 4B, then 34B body);
      // rate: 20 bits at body offset 10; channels: next 3 bits + 1
      val s = off + 13 + 4 + 10
      val rate = ((b(s) & 0xff) << 12) | ((b(s + 1) & 0xff) << 4) | ((b(s + 2) & 0xff) >>> 4)
      val ch = ((b(s + 2) >>> 1) & 0x07) + 1
      (CodecFlac, ch, rate.toLong, 0)
    } else (CodecOther, 0, 0L, 0)
  }

  /** Per-logical-stream codec census: walks the same CRC-verified
    * pages as [[parse]] and classifies each BOS page's first packet.
    * The scalar fields describe the FIRST stream (single-stream files
    * — the overwhelming corpus case — read naturally; multiplexed
    * files still get full per-codec counts). `opusDurationMs` applies
    * RFC 7845 §4's pre-skip correction to the granule clock — the
    * duration a bare page walk overstates by preSkip/48 ms.
    */
  def codecMeta(bytes: Array[Byte]): OggCodecMeta = {
    var nStreams = 0; var nOpus = 0; var nVorbis = 0; var nFlac = 0; var nOther = 0
    var codecId = CodecOther; var channels = 0; var sampleRate = 0L; var preSkip = 0
    var lastGranule = 0L
    var firstSerial = 0; var haveFirst = false
    val pos = walkPages(bytes) { (hType, g, serial, _, payloadOff, payloadLen) =>
      if ((hType & 0x02) != 0) {
        nStreams += 1
        val (c, ch, sr, ps) = classify(bytes, payloadOff, payloadLen)
        c match {
          case CodecOpus => nOpus += 1
          case CodecVorbis => nVorbis += 1
          case CodecFlac => nFlac += 1
          case _ => nOther += 1
        }
        if (nStreams == 1) {
          codecId = c; channels = ch; sampleRate = sr; preSkip = ps
          firstSerial = serial; haveFirst = true
        }
      }
      // the duration clock must be the FIRST stream's granule — in a
      // multiplexed/chained file another stream's final page carries a
      // granule in a DIFFERENT unit (e.g. Vorbis sample ticks), and
      // (wrongGranule − preSkip)/48 is a number from the wrong clock
      // g >= 0, not g != -1: every negative granule (an untrusted
      // 64-bit field) is treated like the -1 no-granule marker, which
      // makes the max(0, lastGranule - preSkip) clamp below wrap-proof
      // (Long.MinValue - preSkip would wrap POSITIVE and dodge the clamp)
      if (haveFirst && serial == firstSerial && g >= 0L) lastGranule = g
    }
    val opusMs =
      if (codecId == CodecOpus) math.max(0L, lastGranule - preSkip) / 48 else 0L
    OggCodecMeta(nStreams, nOpus, nVorbis, nFlac, nOther, codecId, channels,
      sampleRate, preSkip, opusMs, (bytes.length - pos).toLong)
  }

  /** A valid OpusHead identification packet (RFC 7845 §5.1). */
  def opusHeadPacket(channels: Int, preSkip: Int, inputRate: Long): Array[Byte] =
    new ByteSink(19).ascii("OpusHead").u8(1).u8(channels).le16(preSkip).le32(inputRate)
      .le16(0).u8(0) // output gain 0, mapping family 0
      .toByteArray

  /** A valid Vorbis identification packet (Vorbis I §4.2.2). */
  def vorbisIdPacket(channels: Int, rate: Long): Array[Byte] =
    new ByteSink(30).u8(0x01).ascii("vorbis")
      .le32(0)                       // version
      .u8(channels).le32(rate)
      .raw(new Array[Byte](12))      // bitrates
      .u8((8 << 4) | 11)             // blocksizes 2^8 / 2^11
      .u8(0x01)                      // framing flag
      .toByteArray

  /** One raw page with an EXPLICIT segment table — the low-level
    * fixture builder (a non-terminal lacing run of 255s expresses a
    * packet continuing past the page). CRC is correct.
    */
  def encodePage(hType: Int, granule: Long, serial: Int, pageSeq: Int,
                 segs: Seq[Int], payload: Array[Byte]): Array[Byte] = {
    require(segs.length <= 255, s"${segs.length} lacing values > 255")
    require(segs.sum == payload.length,
      s"lacing sum ${segs.sum} != payload ${payload.length}")
    val page = new ByteSink(27 + segs.length + payload.length).ascii("OggS")
      .u8(0) // version
      .u8(hType).le64(granule).le32(serial).le32(pageSeq)
      .le32(0) // crc: zero for the computation, patched below
      .u8(segs.length)
    segs.foreach(page.u8)
    val out = page.raw(payload).toByteArray
    val c = crc(out, 0, out.length)
    System.arraycopy(new ByteSink(4).le32(c).toByteArray, 0, out, 22, 4)
    out
  }

  /** Lacing values for one COMPLETE packet: ⌊len/255⌋ 255s plus the
    * final len%255 (correctly a terminal 0 for multiples of 255).
    */
  def lacingFor(len: Int): Seq[Int] = Seq.fill(len / 255)(255) :+ (len % 255)

  /** Encode pages carrying EXPLICIT packet payloads (the id-header
    * variant of [[encodeSynthetic]]): per page (headerType, granule,
    * one complete packet). CRCs are correct.
    */
  def encodeSyntheticPackets(plan: Seq[(Int, Long, Array[Byte])],
                             serial: Int = 0x1234): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    plan.zipWithIndex.foreach { case ((hType, granule, payload), seq) =>
      bos.write(encodePage(hType, granule, serial, seq, lacingFor(payload.length), payload))
    }
    bos.toByteArray
  }

  // ---- Opus packet TOC census (RFC 6716 §3.1): the per-PACKET layer
  // under the id-header census — packets are assembled from the lacing
  // tables (a lacing value < 255 ends a packet; a trailing 255 run
  // continues it onto the next page), and each audio packet's first
  // byte is the TOC: config(5) | stereo(1) | frame-count code(2).

  final case class OpusTocMeta(
      nAudioPackets: Int,   // packets past the 2 header packets (head/tags)
      nSilk: Int,           // config 0–11
      nHybrid: Int,         // config 12–15
      nCelt: Int,           // config 16–31
      nStereo: Int,         // TOC stereo bit set
      nCode3: Int,          // arbitrary-frame-count packets (c == 3)
      totalFrames: Long,    // Σ frames per packet (c: 0→1, 1/2→2, 3→count byte)
      durationUs: Long,     // Σ frames · config frame duration
      nMalformed: Int,      // empty audio packets, c==3 without/with bad count byte
      trailingBytes: Long)

  // precomputed per-call-free lookup: opusFrameDurationUs runs once per
  // audio packet inside mapPartitions over the whole corpus — a Seq
  // allocation per call is pure garbage pressure in the innermost loop
  private val SilkDurUs = Array(10000L, 20000L, 40000L, 60000L)
  private val HybridDurUs = Array(10000L, 20000L)
  private val CeltDurUs = Array(2500L, 5000L, 10000L, 20000L)

  /** Frame duration in µs for a TOC config (RFC 6716 §3.1 Table 2):
    * SILK configs step 10/20/40/60 ms, hybrid 10/20, CELT 2.5/5/10/20.
    */
  def opusFrameDurationUs(config: Int): Long =
    if (config < 12) SilkDurUs(config % 4)
    else if (config < 16) HybridDurUs(config % 2)
    else CeltDurUs(config % 4)

  /** Walk the FIRST logical stream's packets and census the audio
    * TOCs. Packet assembly is pure lacing arithmetic — no codec
    * decode; the TOC is one byte and, for code 3, the count byte
    * after it (count must be 1–48 per RFC 6716 — 0 or >48 is
    * malformed). RFC 6716 §3.4 requires R1: packets of length 0 are
    * malformed. Frames per packet: code 0 → 1, codes 1–2 → 2, code
    * 3 → the count byte. Pages of other serials are skipped whole
    * (multiplexed files census their primary stream).
    *
    * Stop-don't-guess gate: the first stream's BOS packet must
    * classify as OpusHead (RFC 7845 §3 puts the id header alone on
    * the first page). A non-Opus stream — or an id header the page
    * cannot hold whole — makes every audio packet count as MALFORMED
    * instead of reading Vorbis/FLAC packet bytes as Opus TOCs, which
    * would yield confident garbage mode/duration statistics.
    */
  def opusTocCensus(bytes: Array[Byte]): OpusTocMeta = {
    var serial = -1; var haveSerial = false
    var isOpus = false
    var packetIdx = 0
    var carryLen = 0L        // bytes of a packet continued from prior pages
    var carryHead = -1       // its first byte (TOC candidate), -1 if len 0 so far
    var carrySecond = -1     // its second byte (code-3 count candidate)
    var nAudio = 0; var nSilk = 0; var nHybrid = 0; var nCelt = 0
    var nStereo = 0; var nCode3 = 0; var nMalformed = 0
    var frames = 0L; var durUs = 0L
    def endPacket(len: Long, head: Int, second: Int): Unit = {
      packetIdx += 1
      if (packetIdx <= 2) return // OpusHead + OpusTags
      nAudio += 1
      if (!isOpus || len < 1 || head < 0) { nMalformed += 1; return }
      val config = head >> 3
      val stereo = (head >> 2) & 1
      val code = head & 3
      val nf: Long = code match {
        case 0 => 1L
        case 1 | 2 => 2L
        case _ =>
          nCode3 += 1
          if (len < 2 || second < 0) -1L
          else {
            val cnt = second & 0x3F
            if (cnt < 1 || cnt > 48) -1L else cnt.toLong
          }
      }
      if (nf < 0) { nMalformed += 1; return }
      if (config < 12) nSilk += 1 else if (config < 16) nHybrid += 1 else nCelt += 1
      if (stereo == 1) nStereo += 1
      frames += nf
      durUs += nf * opusFrameDurationUs(config)
    }
    val pos = walkPages(bytes) { (hType, _, pageSerial, nSegs, payloadOff, payloadLen) =>
      if (!haveSerial && (hType & 0x02) != 0) {
        serial = pageSerial; haveSerial = true
        isOpus = classify(bytes, payloadOff, payloadLen)._1 == CodecOpus
      }
      if (haveSerial && pageSerial == serial) {
        // a continuation bit NOT set while a packet is open means the
        // prior page's packet was silently dropped — close it malformed
        if (carryLen > 0 && (hType & 0x01) == 0) {
          endPacket(0L, -1, -1)
          carryLen = 0; carryHead = -1; carrySecond = -1
        }
        val tableOff = payloadOff - nSegs
        var cursor = payloadOff
        var si = 0
        while (si < nSegs) {
          val lace = bytes(tableOff + si) & 0xff
          // TOC + count byte always live in the packet's FIRST chunk:
          // a packet only continues past a chunk via a 255 lacing
          // value, so any multi-chunk packet has ≥255 bytes there —
          // no cross-chunk byte capture exists
          if (lace > 0 && carryHead < 0) {
            carryHead = bytes(cursor) & 0xff
            if (lace > 1) carrySecond = bytes(cursor + 1) & 0xff
          }
          carryLen += lace
          cursor += lace
          if (lace < 255) {
            endPacket(carryLen, carryHead, carrySecond)
            carryLen = 0; carryHead = -1; carrySecond = -1
          }
          si += 1
        }
      }
    }
    if (carryLen > 0) endPacket(0L, -1, -1) // truncated open packet
    OpusTocMeta(nAudio, nSilk, nHybrid, nCelt, nStereo, nCode3, frames,
      durUs, nMalformed, (bytes.length - pos).toLong)
  }

  def opusTocFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_audio_packets", "n_silk", "n_hybrid",
      "n_celt", "n_stereo", "n_code3", "total_frames", "duration_us", "n_malformed",
      "trailing_bytes") { (id, bytes) =>
      val m = opusTocCensus(bytes)
      (id, m.nAudioPackets.toLong, m.nSilk.toLong, m.nHybrid.toLong,
        m.nCelt.toLong, m.nStereo.toLong, m.nCode3.toLong,
        m.totalFrames, m.durationUs, m.nMalformed.toLong, m.trailingBytes)
    }

  def oggCodecFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_streams", "n_opus", "n_vorbis", "n_flac",
      "n_other_codec", "codec_id", "channels", "sample_rate", "pre_skip",
      "opus_duration_ms", "trailing_bytes") { (id, bytes) =>
      val m = codecMeta(bytes)
      (id, m.nStreams.toLong, m.nOpus.toLong, m.nVorbis.toLong,
        m.nFlac.toLong, m.nOtherCodec.toLong, m.codecId.toLong,
        m.channels.toLong, m.sampleRate, m.preSkip.toLong,
        m.opusDurationMs, m.trailingBytes)
    }

  def oggFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_pages", "n_bos", "n_eos", "n_continued",
      "payload_bytes", "header_bytes", "last_granule", "duration_ms",
      "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.nPages.toLong, m.nBos.toLong, m.nEos.toLong, m.nContinued.toLong,
        m.payloadBytes, m.headerBytes, m.lastGranule, m.durationMs,
        m.trailingBytes)
    }
}
