package graft.operators

import org.apache.spark.sql.DataFrame

/** Real audio decode over opaque `binary` payload columns — the audio
  * half of the codec step [[MultimodalStub]] stubs out, made real for
  * three RIFF/WAVE formats: 16-bit PCM (tag 1 — samples stored
  * literally, a correct chunk-walk IS the decode, q177/q178), IMA
  * ADPCM (tag 0x11 — a REAL lossy codec whose decode is deterministic
  * integer math, so even its 4→16-bit expansion is arithmetically
  * replayable by an external oracle, q181), and both G.711 companding
  * laws — µ-law (tag 7, q189) and A-law (tag 6, q195), each one
  * closed-form integer expansion per byte. Perceptual-transform
  * codecs (MP3/AAC) stay honestly stubbed.
  *
  * Spark-side shape mirrors [[MultimodalCodec]]: binary in → typed
  * integer features out, one parser pass per partition, map-only — on
  * a 100 TB media corpus each executor decodes its own partition's
  * payloads and only the tiny feature rows ever shuffle.
  *
  * All downstream math is integer-exact: sum/peak of |sample|, sign
  * changes counted as `s_i·s_{i−1} < 0`, and the 64-bucket envelope
  * hash compares `e_b·64 > Σe` (no floating-point mean) — which makes
  * the hash exactly invariant under uniform integer gain (g·e_b·64 >
  * g·Σe ⇔ e_b·64 > Σe for g > 0), the property the audio near-dup
  * grouping in q178 relies on, the 1-D twin of aHash's brightness
  * invariance.
  */
object AudioCodec {

  /** Encode interleaved 16-bit signed PCM as canonical RIFF/WAVE bytes
    * (44-byte header + little-endian samples). Also the test-fixture
    * generator: specs and the q177/q178 fixtures synthesize
    * deterministic waveforms and round-trip them through the real
    * container format.
    */
  def encodePcmWav(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    require(channels >= 1, s"channels must be >= 1, got $channels")
    val data = new ByteSink(samples.length * 2)
    samples.foreach(v => data.le16(v))
    wav(new ByteSink(16).le16(1) // PCM
      .le16(channels)
      .le32(sampleRate)
      .le32(sampleRate * channels * 2) // byte rate
      .le16(channels * 2)              // block align
      .le16(16),                       // bits per sample
      "data" -> data.toByteArray)
  }

  /** RIFF/WAVE bytes: the `fmt ` body, then `chunks` in order. */
  private def wav(fmt: ByteSink, chunks: (String, Array[Byte])*): Array[Byte] = {
    val body = new ByteSink().ascii("WAVE").riffChunk("fmt ", fmt.toByteArray)
    chunks.foreach { case (fourcc, b) => body.riffChunk(fourcc, b) }
    new ByteSink(8 + body.size).riffChunk("RIFF", body.toByteArray).toByteArray
  }

  /** Walk a RIFF/WAVE file's chunks (see [[Bytes.riffChunks]]); false
    * when the header is not RIFF/WAVE.
    */
  private def wavChunks(bytes: Array[Byte])(visit: (Int, Int) => Boolean): Boolean =
    bytes.length >= 12 && Bytes.tag(bytes, 0, "RIFF") && Bytes.tag(bytes, 8, "WAVE") &&
      Bytes.riffChunks(bytes, 12, bytes.length)(visit)

  /** Decode RIFF/WAVE bytes to (sampleRate, channels, interleaved
    * 16-bit samples). A real chunk-walk, not a fixed-offset read:
    * skips unknown chunks (LIST/INFO metadata commonly precedes data),
    * honors RIFF's odd-size pad byte, and requires an explicit 16-bit
    * PCM `fmt ` chunk before `data`. Truncated, non-WAV, compressed,
    * or non-16-bit payloads → None (surfaced as rows, not exceptions).
    */
  def decodePcmWav(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    var sampleRate = -1
    var channels = -1
    var ok = false
    var out: Option[(Int, Int, Array[Short])] = None
    wavChunks(bytes) { (pos, size) =>
      if (Bytes.tag(bytes, pos, "fmt ")) {
        ok = size >= 16 && {
          channels = Bytes.le16(bytes, pos + 10)
          sampleRate = Bytes.le32(bytes, pos + 12)
          Bytes.le16(bytes, pos + 8) == 1 && Bytes.le16(bytes, pos + 22) == 16 && channels >= 1
        }
        ok
      } else if (Bytes.tag(bytes, pos, "data")) {
        if (ok) { // fmt must precede data
          val samples = new Array[Short](size / 2)
          var i = 0
          while (i < samples.length) { samples(i) = Bytes.le16(bytes, pos + 8 + 2 * i).toShort; i += 1 }
          out = Some((sampleRate, channels, samples))
        }
        false
      } else true
    }
    out
  }

  // ------------------------------------------------------------------
  // IMA ADPCM (WAV format tag 0x11) — a REAL lossy audio codec, decoded
  // for real: 4-bit differential nibbles expand through the standard
  // 89-entry step table with a clamped predictor. Unlike MP3/AAC
  // (perceptual transforms — still honestly stubbed), ADPCM decode is
  // pure deterministic integer math, so an external oracle can replay
  // it bit-for-bit (q181 does, in SQL).
  // Tables per the IMA/DVI specification (public, e.g. RFC 3551 §4.5.1
  // references DVI4; identical tables in every published decoder).

  /** The 89 quantizer step sizes of the IMA ADPCM spec. */
  val AdpcmStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499,
    2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
    9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767)

  /** Step-index adjustment per nibble value. */
  val AdpcmIndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** Decode one IMA ADPCM nibble stream given the block-header state.
    * Output sample 0 IS the header predictor (per spec); each nibble
    * then produces one sample. Pure integer: diff accumulates
    * step>>3 (+ step>>2 / step>>1 / step per magnitude bit), bit 3 is
    * the sign, predictor clamps to int16, index clamps to [0, 88].
    */
  def adpcmDecodeNibbles(pred0: Int, idx0: Int, nibbles: Array[Int]): Array[Short] = {
    var pred = pred0
    var idx = idx0
    val out = new Array[Short](nibbles.length + 1)
    out(0) = pred.toShort
    var i = 0
    while (i < nibbles.length) {
      val n = nibbles(i)
      val step = AdpcmStepTable(idx)
      var diff = step >> 3
      if ((n & 1) != 0) diff += step >> 2
      if ((n & 2) != 0) diff += step >> 1
      if ((n & 4) != 0) diff += step
      pred = if ((n & 8) != 0) pred - diff else pred + diff
      if (pred > 32767) pred = 32767 else if (pred < -32768) pred = -32768
      idx += AdpcmIndexTable(n)
      if (idx < 0) idx = 0 else if (idx > 88) idx = 88
      out(i + 1) = pred.toShort
      i += 1
    }
    out
  }

  /** Encode an IMA ADPCM WAV (format tag 0x11, mono) directly from
    * block states — the fixture generator for q181 and the specs: the
    * nibble stream is the ground truth, so the decode has an exact
    * arithmetic oracle even though the CODEC is lossy. Each block is
    * (initial predictor, initial step index, nibbles); all blocks must
    * carry the same nibble count except possibly the last.
    */
  def encodeImaAdpcmWav(sampleRate: Int,
                        blocks: Seq[(Int, Int, Array[Int])]): Array[Byte] = {
    require(blocks.nonEmpty, "need at least one block")
    val nibblesPerBlock = blocks.head._3.length
    val blockAlign = 4 + (nibblesPerBlock + 1) / 2
    val samplesPerBlock = nibblesPerBlock + 1
    val totalSamples = blocks.map(_._3.length + 1).sum
    val data = new ByteSink()
    blocks.foreach { case (pred0, idx0, nibbles) =>
      data.le16(pred0).u8(idx0).u8(0)
      var i = 0
      while (i < nibbles.length) {
        val lo = nibbles(i) & 0xf
        val hi = if (i + 1 < nibbles.length) nibbles(i + 1) & 0xf else 0
        data.u8(lo | (hi << 4)) // low nibble first, per spec
        i += 2
      }
    }
    wav(new ByteSink(20).le16(0x11) // IMA ADPCM
      .le16(1)    // mono
      .le32(sampleRate)
      .le32(sampleRate * blockAlign / samplesPerBlock) // nominal byte rate
      .le16(blockAlign)
      .le16(4)    // bits per (encoded) sample
      .le16(2)    // cbSize
      .le16(samplesPerBlock),
      "fact" -> new ByteSink(4).le32(totalSamples).toByteArray,
      "data" -> data.toByteArray)
  }

  /** Decode a mono IMA ADPCM WAV (format tag 0x11): same chunk-walk
    * discipline as [[decodePcmWav]] (unknown chunks skipped, pad bytes
    * honored, fmt-before-data enforced), then per-block state decode.
    * The optional `fact` chunk caps the emitted sample count (the last
    * block's trailing pad nibble is dropped through it). Returns
    * (sampleRate, 1, samples); anything non-ADPCM/multichannel → None.
    */
  def decodeImaAdpcmWav(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    var sampleRate = -1
    var blockAlign = -1
    var samplesPerBlock = -1
    var factSamples = -1
    var ok = false
    var result: Option[(Int, Int, Array[Short])] = None
    wavChunks(bytes) { (pos, size) =>
      if (Bytes.tag(bytes, pos, "fmt ")) {
        ok = size >= 16 && {
          val channels = Bytes.le16(bytes, pos + 10)
          sampleRate = Bytes.le32(bytes, pos + 12)
          blockAlign = Bytes.le16(bytes, pos + 20)
          Bytes.le16(bytes, pos + 8) == 0x11 && Bytes.le16(bytes, pos + 22) == 4 &&
            channels == 1 && blockAlign >= 5
        } && {
          samplesPerBlock =
            if (size >= 20) Bytes.le16(bytes, pos + 26) else (blockAlign - 4) * 2 + 1
          // a crafted samplesPerBlock of 0 would drive the per-block
          // nibble count to −1 (NegativeArraySizeException) — fail closed
          samplesPerBlock >= 1
        }
        ok
      } else if (Bytes.tag(bytes, pos, "fact")) {
        if (size >= 4) factSamples = Bytes.le32(bytes, pos + 8)
        true
      } else if (Bytes.tag(bytes, pos, "data")) {
        if (ok) result = decodeAdpcmData(bytes, pos + 8, pos + 8 + size, blockAlign,
          samplesPerBlock).map { all => // fmt must precede data
          val trimmed = if (factSamples >= 0 && factSamples < all.length)
            java.util.Arrays.copyOf(all, factSamples) else all
          (sampleRate, 1, trimmed)
        }
        false
      } else true
    }
    result
  }

  /** The ADPCM `data` body [from, end): per-block state decode; None on
    * an out-of-range step index.
    */
  private def decodeAdpcmData(bytes: Array[Byte], from: Int, end: Int,
      blockAlign: Int, samplesPerBlock: Int): Option[Array[Short]] = {
    val out = Array.newBuilder[Short]
    var bp = from
    while (bp + 4 <= end) {
      val blockEnd = math.min(bp + blockAlign, end)
      val pred0 = Bytes.le16(bytes, bp).toShort.toInt
      val idx0 = bytes(bp + 2) & 0xff
      if (idx0 > 88) return None
      val nNibbles = math.min((blockEnd - bp - 4) * 2, samplesPerBlock - 1)
      val nibbles = new Array[Int](nNibbles)
      var i = 0
      while (i < nNibbles) {
        val b = bytes(bp + 4 + i / 2) & 0xff
        nibbles(i) = if (i % 2 == 0) b & 0xf else (b >> 4) & 0xf
        i += 1
      }
      out ++= adpcmDecodeNibbles(pred0, idx0, nibbles)
      bp += blockAlign
    }
    Some(out.result())
  }

  // ------------------------------------------------------------------
  // G.711 µ-law (WAV format tag 7) — the logarithmic-companding codec
  // of the telephone network (8 kHz voice, RFC 3551's PCMU). Lossy like
  // ADPCM, but its DECODE is a single closed-form integer expression
  // per byte — no state machine at all — so the oracle replays it as
  // plain arithmetic (q189): sample = ±(((mant·8 + 132) << exp) − 132)
  // from the bit-complemented byte's sign/exponent/mantissa fields.

  /** Expand one µ-law byte to its 16-bit linear sample (G.711 §B). */
  def mulawDecodeByte(b: Int): Short = {
    val u = ~b & 0xff // µ-law bytes are stored complemented
    val exp = (u >> 4) & 7
    val mant = u & 0x0f
    val mag = (((mant << 3) + 0x84) << exp) - 0x84
    (if ((u & 0x80) != 0) -mag else mag).toShort
  }

  /** Expand one A-law byte to its 16-bit linear sample (G.711 §A —
    * the European/international companding twin of µ-law, WAV format
    * tag 6). Even bits arrive inverted (XOR 0x55); sign bit 1 means
    * POSITIVE (opposite of µ-law); segment 0 is linear, segments 1–7
    * double. Per the public-domain CCITT reference expansion.
    */
  def alawDecodeByte(b: Int): Short = {
    val a = (b ^ 0x55) & 0xff
    val seg = (a & 0x70) >> 4
    val t = (a & 0x0f) << 4
    val mag = seg match {
      case 0 => t + 8
      case 1 => t + 0x108
      case n => (t + 0x108) << (n - 1)
    }
    (if ((a & 0x80) != 0) mag else -mag).toShort
  }

  /** Encode an A-law WAV (format tag 6, mono, 8 bits per sample)
    * directly from the A-law byte stream — the q195 fixture keeps the
    * bitstream as ground truth, like every lossy-codec fixture here.
    */
  def encodeAlawWav(sampleRate: Int, alaw: Array[Int]): Array[Byte] =
    encodeG711Wav(6, sampleRate, alaw)

  /** Decode a mono A-law WAV (format tag 6). */
  def decodeAlawWav(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] =
    decodeG711Wav(6, alawDecodeByte, bytes)

  /** Encode a µ-law WAV (format tag 7, mono, 8 bits per sample)
    * directly from the µ-law byte stream — like
    * [[encodeImaAdpcmWav]], the fixture generator keeps the BITSTREAM
    * as ground truth so the lossy codec's decode has an exact
    * arithmetic oracle (q189).
    */
  def encodeMulawWav(sampleRate: Int, ulaw: Array[Int]): Array[Byte] =
    encodeG711Wav(7, sampleRate, ulaw)

  /** Shared G.711 WAV writer: format `tag` (6 = A-law, 7 = µ-law),
    * mono, one byte per sample.
    */
  private def encodeG711Wav(fmtTag: Int, sampleRate: Int,
                            ulaw: Array[Int]): Array[Byte] = {
    wav(new ByteSink(18).le16(fmtTag) // 6 = WAVE_FORMAT_ALAW, 7 = WAVE_FORMAT_MULAW
      .le16(1) // mono
      .le32(sampleRate)
      .le32(sampleRate) // byte rate: one byte per sample
      .le16(1)          // block align
      .le16(8)          // bits per sample
      .le16(0),         // cbSize
      "fact" -> new ByteSink(4).le32(ulaw.length).toByteArray,
      "data" -> ulaw.map(_.toByte))
  }

  /** Decode a mono µ-law WAV (format tag 7): the [[decodePcmWav]]
    * chunk-walk discipline, then one closed-form expansion per data
    * byte. Returns (sampleRate, 1, samples); anything
    * non-µ-law/multichannel/truncated → None.
    */
  def decodeMulawWav(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] =
    decodeG711Wav(7, mulawDecodeByte, bytes)

  /** Shared G.711 WAV reader: format `tag` gates the `fmt ` chunk,
    * `expand` maps each data byte to its linear sample.
    */
  private def decodeG711Wav(fmtTag: Int, expand: Int => Short,
                            bytes: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    var sampleRate = -1
    var ok = false
    var out: Option[(Int, Int, Array[Short])] = None
    wavChunks(bytes) { (pos, size) =>
      if (Bytes.tag(bytes, pos, "fmt ")) {
        ok = size >= 16 && {
          sampleRate = Bytes.le32(bytes, pos + 12)
          Bytes.le16(bytes, pos + 8) == fmtTag && Bytes.le16(bytes, pos + 22) == 8 &&
            Bytes.le16(bytes, pos + 10) == 1
        }
        ok
      } else if (Bytes.tag(bytes, pos, "data")) {
        if (ok) { // fmt must precede data
          val samples = new Array[Short](size)
          var i = 0
          while (i < size) { samples(i) = expand(bytes(pos + 8 + i) & 0xff); i += 1 }
          out = Some((sampleRate, 1, samples))
        }
        false
      } else true
    }
    out
  }

  /** 64-bucket energy-envelope hash: sample `j` of `n` falls in bucket
    * `(j·64)/n` (integer division — every bucket nonempty when n ≥ 64),
    * bucket energy is the exact Σ|sample|, and bit b (MSB-first) is set
    * iff `e_b·64 > Σe`. Integer-exact, so invariant under uniform
    * positive gain — clips that differ only in volume hash identically,
    * the buckets q178 groups on.
    */
  def envelopeHash64(samples: Array[Short]): Long = {
    val n = samples.length
    val e = new Array[Long](64)
    var j = 0
    while (j < n) { e((j.toLong * 64 / n).toInt) += math.abs(samples(j).toLong); j += 1 }
    var total = 0L
    var b = 0
    while (b < 64) { total += e(b); b += 1 }
    var hash = 0L
    b = 0
    while (b < 64) {
      if (e(b) * 64 > total) hash |= 1L << (63 - b)
      b += 1
    }
    hash
  }

  /** Decode a payload column to audio features: (idCol, decodable,
    * sample_rate, n_samples, sum_abs, peak_abs, zero_crossings,
    * envelope_hex). `sum_abs`/`peak_abs` are exact integer magnitude
    * stats; `zero_crossings` counts strict sign changes
    * (`s_i·s_{i−1} < 0`, zeros break runs crossing-free);
    * `envelope_hex` is [[envelopeHash64]] as 16 lowercase hex chars
    * (`%016x`, matching the image aHash formatting). One parser pass
    * per partition, map-only; undecodable payloads surface as rows.
    */
  def decodeAudioFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "decodable", "sample_rate", "n_samples",
      "sum_abs", "peak_abs", "zero_crossings", "envelope_hex") { (id, bytes) =>
      // one parser pass: PCM (tag 1), else IMA ADPCM (0x11), else
      // G.711 µ-law (7) / A-law (6)
      decodePcmWav(bytes).orElse(decodeImaAdpcmWav(bytes))
        .orElse(decodeMulawWav(bytes)).orElse(decodeAlawWav(bytes)) match {
        case Some((sr, _, s)) =>
          var sumAbs = 0L
          var peak = 0L
          var zc = 0L
          var i = 0
          while (i < s.length) {
            val v = s(i).toLong
            val a = math.abs(v)
            sumAbs += a
            if (a > peak) peak = a
            if (i > 0 && v * s(i - 1) < 0) zc += 1
            i += 1
          }
          (id, true, sr, s.length.toLong, sumAbs, peak, zc, f"${envelopeHash64(s)}%016x")
        case None => (id, false, 0, 0L, 0L, 0L, 0L, null: String)
      }
    }
}
