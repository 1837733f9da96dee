package graft.operators

import org.apache.spark.sql.DataFrame

/** FLAC metadata walker — completes the audio-triage family
  * ([[MpegAudio]] MP3/ADTS, [[OggOps]] Ogg, [[AudioCodec]] WAV/
  * ADPCM/µ-law): FLAC is the dominant lossless distribution format,
  * and everything triage needs lives in its metadata blocks, before
  * any entropy-coded audio frame (the honest [[MultimodalStub]]
  * boundary):
  *
  *   `fLaC` · blocks: header(1: last-flag | 7-bit type, 3 BE length)
  *   + payload · … · audio frames
  *
  * STREAMINFO (type 0, REQUIRED FIRST per the spec, 34 bytes) packs
  * sample rate (20 bits), channels−1 (3), bits−1 (5), and total
  * samples (36) into one big-endian 64-bit field → exact duration
  * with zero frames read.
  *
  * Contract (stop-don't-guess): bad magic, first block not
  * STREAMINFO, STREAMINFO length ≠ 34, or any block overrunning EOF
  * stops the walk; remainder is `trailing_bytes` (a stream that
  * stops before STREAMINFO parses reports zeroed audio fields).
  */
object FlacOps {

  final case class FlacMeta(
      valid: Int,
      sampleRate: Int,
      channels: Int,
      bitsPerSample: Int,
      totalSamples: Long,
      durationMs: Long,
      nMetaBlocks: Int,
      metaBytes: Long,      // block headers + payloads, excl. magic
      nPadding: Int,
      nVorbisComment: Int,
      audioBytes: Long,     // everything after the last metadata block
      trailingBytes: Long)

  private val Empty = FlacMeta(0, 0, 0, 0, 0L, 0L, 0, 0L, 0, 0, 0L, 0L)

  /** Deterministic FLAC skeleton: STREAMINFO from the given audio
    * parameters, optional extra blocks of (type, length), then
    * `audioLen` filler bytes standing in for the frame region.
    */
  def encodeSynthetic(sampleRate: Int, channels: Int, bits: Int,
      totalSamples: Long, extraBlocks: Seq[(Int, Int)], audioLen: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write('f'); bos.write('L'); bos.write('a'); bos.write('C')
    def blockHeader(t: Int, len: Int, last: Boolean): Unit = {
      bos.write((if (last) 0x80 else 0) | (t & 0x7f))
      bos.write((len >>> 16) & 0xff); bos.write((len >>> 8) & 0xff); bos.write(len & 0xff)
    }
    blockHeader(0, 34, extraBlocks.isEmpty)
    val si = new Array[Byte](34)
    si(0) = 0x10; si(1) = 0; si(2) = 0x40; si(3) = 0 // min/max blocksize 4096/16384
    // frame sizes 0 (unknown): bytes 4..9 stay zero
    var packed = (sampleRate.toLong << 44) | ((channels - 1).toLong << 41) |
      ((bits - 1).toLong << 36) | (totalSamples & ((1L << 36) - 1))
    var i = 17
    while (i >= 10) { si(i) = (packed & 0xff).toByte; packed >>>= 8; i -= 1 }
    // md5 bytes 18..33 stay zero (no decoded audio to hash)
    bos.write(si)
    extraBlocks.zipWithIndex.foreach { case ((t, len), j) =>
      blockHeader(t, len, j == extraBlocks.length - 1)
      var b = 0
      while (b < len) { bos.write((b * 7 + t * 13) % 256); b += 1 }
    }
    var a = 0
    while (a < audioLen) { bos.write((a * 31 + 5) % 256); a += 1 }
    bos.toByteArray
  }

  def parse(bytes: Array[Byte]): FlacMeta = {
    val n = bytes.length
    if (n < 4 || bytes(0) != 'f' || bytes(1) != 'L' || bytes(2) != 'a' || bytes(3) != 'C')
      return Empty.copy(trailingBytes = n.toLong)
    var pos = 4
    var first = true
    var last = false
    var rate = 0; var ch = 0; var bits = 0; var total = 0L
    var nBlocks = 0; var metaBytes = 0L; var nPad = 0; var nVc = 0
    var ok = true
    while (ok && !last && pos + 4 <= n) {
      val h = bytes(pos) & 0xff
      val t = h & 0x7f
      val isLast = (h & 0x80) != 0
      val len = ((bytes(pos + 1) & 0xff) << 16) | ((bytes(pos + 2) & 0xff) << 8) |
        (bytes(pos + 3) & 0xff)
      if (first && (t != 0 || len != 34)) ok = false // STREAMINFO must lead
      else if (pos + 4 + len > n) ok = false
      else {
        if (first) {
          var packed = 0L
          var i = 10
          while (i <= 17) { packed = (packed << 8) | (bytes(pos + 4 + i) & 0xff); i += 1 }
          rate = (packed >>> 44).toInt
          ch = ((packed >>> 41) & 0x7).toInt + 1
          bits = ((packed >>> 36) & 0x1f).toInt + 1
          total = packed & ((1L << 36) - 1)
          if (rate == 0) ok = false // spec: 0 is invalid
        }
        if (ok) {
          nBlocks += 1
          metaBytes += 4L + len
          if (t == 1) nPad += 1
          if (t == 4) nVc += 1
          first = false
          last = isLast
          pos += 4 + len
        }
      }
    }
    if (!ok || (first && !last))
      Empty.copy(nMetaBlocks = nBlocks, metaBytes = metaBytes,
        trailingBytes = (n - pos).toLong)
    else if (!last) // ran off EOF without a last-flagged block
      Empty.copy(nMetaBlocks = nBlocks, metaBytes = metaBytes,
        trailingBytes = (n - pos).toLong)
    else
      FlacMeta(1, rate, ch, bits, total,
        if (rate > 0) total * 1000 / rate else 0L,
        nBlocks, metaBytes, nPad, nVc, (n - pos).toLong, 0L)
  }

  def flacFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid", "sample_rate", "channels",
      "bits_per_sample", "total_samples", "duration_ms", "n_meta_blocks", "meta_bytes",
      "n_padding", "n_vorbis_comment", "audio_bytes", "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.valid.toLong, m.sampleRate.toLong, m.channels.toLong,
        m.bitsPerSample.toLong, m.totalSamples, m.durationMs,
        m.nMetaBlocks.toLong, m.metaBytes, m.nPadding.toLong,
        m.nVorbisComment.toLong, m.audioBytes, m.trailingBytes)
    }
}
