package graft.operators

import org.apache.spark.sql.DataFrame

/** MPEG audio (MP3) frame-HEADER walk — metadata extraction for the
  * dominant lossy audio format without entropy decode.
  *
  * The honest codec boundary (MultimodalStub scaladoc): Huffman/MDCT
  * payload decode needs an external codec library this engine does not
  * ship. But an MP3's *triage* metadata — duration, sample rate,
  * per-frame bitrates, CBR/VBR, tag overhead — lives entirely in
  * closed-form bit fields: every frame starts with a 4-byte header
  * (11-bit sync, version/layer/bitrate/samplerate indices, padding
  * bit) and its byte length is `144·bitrate/samplerate + padding`
  * (MPEG-1 Layer III), so a walker can hop header-to-header across a
  * 100 TB audio corpus reading 4 bytes per ~400 and never touching
  * the entropy-coded payload. This is exactly what production audio
  * curation runs first: drop truncated/corrupt files, bucket by
  * duration/bitrate, bill storage to tag overhead — all before any
  * decoder spins up.
  *
  * Scope kept checkable: MPEG-1 Layer III only (the overwhelmingly
  * common profile), ID3v2 prefix skip (syncsafe size), stop at the
  * first byte that does not parse as a valid complete frame (free-form
  * bitrate 0, reserved indices, truncation) — the remainder is
  * reported as `trailing_bytes`, never guessed at.
  */
object MpegAudio {

  /** MPEG-1 Layer III bitrate table, kbps; index 0 is "free" (walker
    * stops — frame length is not computable), 15 is invalid.
    */
  val BitrateKbps: Array[Int] =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

  /** MPEG-1 sample-rate table, Hz; index 3 is reserved. */
  val SampleRateHz: Array[Int] = Array(44100, 48000, 32000)

  val SamplesPerFrame = 1152

  final case class Mp3Meta(
      id3Bytes: Int,       // ID3v2 prefix length incl. 10-byte header (0 if none)
      sampleRate: Int,     // from the FIRST frame (0 if no frame parsed)
      nFrames: Int,
      sumBitrateKbps: Long,
      nDistinctBitrates: Int,
      nPadded: Int,
      durationUs: Long,    // nFrames·1152·1e6 / sampleRate, truncating
      trailingBytes: Int)  // bytes after the last complete frame

  /** Build a deterministic MPEG-1 Layer III byte stream (real headers,
    * filler payload): ID3v2 tag of `id3Body` bytes, then frames with
    * the given (bitrateIndex, padding) plan. Used by fixtures/specs —
    * the ground truth is the HEADER ARITHMETIC, so the walker's decode
    * gates exactly against an oracle that replays the plan.
    */
  def encodeSynthetic(id3Body: Int, srIndex: Int,
                      frames: Seq[(Int, Int)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    if (id3Body >= 0) {
      bos.write('I'); bos.write('D'); bos.write('3')
      bos.write(3); bos.write(0) // version 2.3.0
      bos.write(0)               // flags
      // syncsafe 28-bit size, 7 bits per byte
      bos.write((id3Body >> 21) & 0x7f); bos.write((id3Body >> 14) & 0x7f)
      bos.write((id3Body >> 7) & 0x7f); bos.write(id3Body & 0x7f)
      var i = 0
      while (i < id3Body) { bos.write((i * 31 + 7) % 256); i += 1 }
    }
    val sr = SampleRateHz(srIndex)
    frames.zipWithIndex.foreach { case ((brIdx, pad), j) =>
      val kbps = BitrateKbps(brIdx)
      val frameLen = 144000 * kbps / sr + pad
      bos.write(0xff)
      bos.write(0xfb) // sync low 3 bits, MPEG-1 (11), Layer III (01), no CRC (1)
      bos.write((brIdx << 4) | (srIndex << 2) | (pad << 1))
      bos.write((j % 4) << 6) // channel mode; rest zero
      var i = 4
      while (i < frameLen) { bos.write((i * 13 + j * 7) % 256); i += 1 }
    }
    bos.toByteArray
  }

  /** Walk the stream: skip one ID3v2 prefix if present, then hop
    * complete valid MPEG-1 Layer III frames until the first byte
    * that does not parse. Never scans for sync inside payloads —
    * hop-by-computed-length is what makes this metadata-cheap.
    */
  def parse(bytes: Array[Byte]): Mp3Meta = {
    var pos = 0
    var id3 = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3' &&
        (bytes(6) & 0xff) < 0x80 && (bytes(7) & 0xff) < 0x80 && (bytes(8) & 0xff) < 0x80 && (bytes(9) & 0xff) < 0x80) {
      val size = ((bytes(6) & 0xff) << 21) | ((bytes(7) & 0xff) << 14) | ((bytes(8) & 0xff) << 7) | (bytes(9) & 0xff)
      if (10L + size <= bytes.length) { id3 = 10 + size; pos = id3 }
    }
    var sampleRate = 0
    var nFrames = 0
    var sumKbps = 0L
    var nPadded = 0
    val seen = new java.util.HashSet[Int]()
    var ok = true
    while (ok && pos + 4 <= bytes.length) {
      val b1 = (bytes(pos) & 0xff); val b2 = (bytes(pos + 1) & 0xff); val b3 = (bytes(pos + 2) & 0xff)
      // sync (11 bits) + MPEG-1 + Layer III; CRC bit free
      if (b1 != 0xff || (b2 & 0xfe) != 0xfa) ok = false
      else {
        val brIdx = (b3 >> 4) & 0xf
        val srIdx = (b3 >> 2) & 0x3
        val pad = (b3 >> 1) & 0x1
        if (brIdx == 0 || brIdx == 15 || srIdx == 3) ok = false
        else {
          val sr = SampleRateHz(srIdx)
          if (sampleRate == 0) sampleRate = sr
          if (sr != sampleRate) ok = false // mid-stream rate change: stop, report
          else {
            val kbps = BitrateKbps(brIdx)
            val frameLen = 144000 * kbps / sr + pad
            if (pos + frameLen > bytes.length) ok = false // truncated final frame
            else {
              nFrames += 1; sumKbps += kbps; nPadded += pad
              seen.add(brIdx)
              pos += frameLen
            }
          }
        }
      }
    }
    val durUs =
      if (sampleRate == 0) 0L
      else nFrames.toLong * SamplesPerFrame * 1000000L / sampleRate
    Mp3Meta(id3, sampleRate, nFrames, sumKbps, seen.size, nPadded, durUs,
      bytes.length - pos)
  }

  // ------------------------------------------------------------ ADTS

  /** ADTS (AAC transport) sample-rate table, Hz; indices 13/14
    * reserved, 15 forbidden.
    */
  val AdtsSampleRateHz: Array[Int] = Array(
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350)

  final case class AdtsMeta(
      sampleRate: Int,     // from the FIRST frame (0 if none)
      profile: Int,        // audio_object_type − 1 from the first frame
      channelConfig: Int,
      nFrames: Int,
      nRawBlocks: Long,    // Σ (number_of_raw_data_blocks + 1)
      sumFrameBytes: Long,
      nCrcFrames: Int,
      durationUs: Long,    // nRawBlocks·1024·1e6 / sampleRate, truncating
      trailingBytes: Int)

  /** Build a deterministic ADTS stream: frames with the given
    * (payloadLen, withCrc, rawBlocksMinus1) plan. Header is the real
    * 7/9-byte ADTS bit layout; payload is filler (the walker hops by
    * the explicit 13-bit frame length and never reads it).
    */
  def encodeSyntheticAdts(srIndex: Int, profile: Int, chanCfg: Int,
                          frames: Seq[(Int, Boolean, Int)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    frames.zipWithIndex.foreach { case ((payloadLen, withCrc, rawM1), j) =>
      val hdrLen = if (withCrc) 9 else 7
      val frameLen = hdrLen + payloadLen
      bos.write(0xff)
      bos.write(0xf0 | (0 << 3) | (0 << 1) | (if (withCrc) 0 else 1)) // MPEG-4, layer 00
      bos.write((profile << 6) | (srIndex << 2) | ((chanCfg >> 2) & 1))
      bos.write(((chanCfg & 3) << 6) | ((frameLen >> 11) & 0x3))
      bos.write((frameLen >> 3) & 0xff)
      bos.write(((frameLen & 0x7) << 5) | 0x1f)      // buffer fullness high
      bos.write(0xfc | (rawM1 & 0x3))                // fullness low + raw blocks
      if (withCrc) { bos.write((j * 17) % 256); bos.write((j * 29 + 3) % 256) }
      var i = 0
      while (i < payloadLen) { bos.write((i * 11 + j * 5) % 256); i += 1 }
    }
    bos.toByteArray
  }

  /** ADTS walk: hop complete frames by the header's explicit 13-bit
    * frame length; stop at the first invalid/truncated header (sync,
    * layer ≠ 00, reserved sample-rate index, length < header size,
    * mid-stream rate change) — the same stop-don't-guess contract as
    * the MP3 walker. AAC frames carry 1024 samples per raw data
    * block.
    */
  def parseAdts(bytes: Array[Byte]): AdtsMeta = {
    var pos = 0
    var sr = 0; var prof = -1; var chan = -1
    var nFrames = 0; var rawBlocks = 0L; var sumBytes = 0L; var nCrc = 0
    var ok = true
    while (ok && pos + 7 <= bytes.length) {
      val b0 = (bytes(pos) & 0xff); val b1 = (bytes(pos + 1) & 0xff)
      if (b0 != 0xff || (b1 & 0xf0) != 0xf0 || ((b1 >> 1) & 0x3) != 0) ok = false
      else {
        val noCrc = (b1 & 1) == 1
        val b2 = (bytes(pos + 2) & 0xff); val b3 = (bytes(pos + 3) & 0xff); val b4 = (bytes(pos + 4) & 0xff); val b5 = (bytes(pos + 5) & 0xff)
        val srIdx = (b2 >> 2) & 0xf
        if (srIdx >= AdtsSampleRateHz.length) ok = false
        else {
          val thisSr = AdtsSampleRateHz(srIdx)
          val hdrLen = if (noCrc) 7 else 9
          val frameLen = ((b3 & 0x3) << 11) | (b4 << 3) | ((b5 >> 5) & 0x7)
          if (sr != 0 && thisSr != sr) ok = false
          else if (frameLen < hdrLen || pos + frameLen > bytes.length) ok = false
          else {
            if (sr == 0) {
              sr = thisSr
              prof = (b2 >> 6) & 0x3
              chan = (((b2 & 1) << 2) | ((b3 >> 6) & 0x3))
            }
            val rawM1 = (bytes(pos + 6) & 0xff) & 0x3
            nFrames += 1
            rawBlocks += rawM1 + 1
            sumBytes += frameLen
            if (!noCrc) nCrc += 1
            pos += frameLen
          }
        }
      }
    }
    val durUs = if (sr == 0) 0L else rawBlocks * 1024L * 1000000L / sr
    AdtsMeta(sr, if (prof < 0) 0 else prof, if (chan < 0) 0 else chan,
      nFrames, rawBlocks, sumBytes, nCrc, durUs, bytes.length - pos)
  }

  /** Dataset-level ADTS metadata — same map-only shape as
    * [[mp3Features]].
    */
  def adtsFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "sample_rate", "profile", "channel_config",
      "n_frames", "n_raw_blocks", "sum_frame_bytes", "n_crc_frames", "duration_us",
      "trailing_bytes") { (id, bytes) =>
      val m = parseAdts(bytes)
      (id, m.sampleRate, m.profile, m.channelConfig, m.nFrames.toLong,
        m.nRawBlocks, m.sumFrameBytes, m.nCrcFrames.toLong, m.durationUs,
        m.trailingBytes.toLong)
    }

  /** Dataset-level metadata extraction: one parser instance per
    * partition, map-only (zero shuffles) — the q177/q189 codec shape.
    */
  def mp3Features(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "id3_bytes", "sample_rate", "n_frames",
      "sum_bitrate_kbps", "n_distinct_bitrates", "n_padded", "duration_us",
      "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.id3Bytes, m.sampleRate, m.nFrames.toLong, m.sumBitrateKbps,
        m.nDistinctBitrates, m.nPadded.toLong, m.durationUs,
        m.trailingBytes.toLong)
    }
}
