package graft.operators

import graft.SparkSpec

class MulawSpec extends SparkSpec {

  /** Compress one 16-bit linear sample to its µ-law byte (G.711 §B:
    * clip to 32635, add bias 132, locate the segment, keep the top 4
    * mantissa bits, complement). Inverse of
    * [[AudioCodec.mulawDecodeByte]] up to the codec's logarithmic
    * quantization.
    */
  private def mulawEncodeSample(sample: Int): Int = {
    var s = sample
    val sign = if (s < 0) { s = -s; 0x80 } else 0
    if (s > 32635) s = 32635
    s += 0x84
    var exp = 7
    var mask = 0x4000
    while (exp > 0 && (s & mask) == 0) { exp -= 1; mask >>= 1 }
    val mant = (s >> (exp + 3)) & 0x0f
    ~(sign | (exp << 4) | mant) & 0xff
  }

  /** Compress one 16-bit linear sample to its A-law byte (inverse of
    * [[AudioCodec.alawDecodeByte]] up to the codec's logarithmic
    * quantization: segment e covers magnitudes [0x100·2^(e−1),
    * 0x100·2^e) with a 2^(e+3) step, segment 0 is linear with step 16).
    */
  private def alawEncodeSample(sample: Int): Int = {
    var s = sample
    val sign = if (s >= 0) 0x80 else { s = -s; 0 } // A-law: sign bit 1 = positive
    if (s > 32767) s = 32767
    var e = 0
    while (e < 7 && s >= (0x100 << e)) e += 1
    val mant =
      if (e == 0) (s >> 4) & 0x0f
      else ((s - (0x100 << (e - 1))) >> (e + 3)) & 0x0f
    ((sign | (e << 4) | mant) ^ 0x55) & 0xff
  }

  test("published G.711 corner values decode exactly") {
    // 0x00 ⇒ −32124 and 0x80 ⇒ +32124 are the table extremes every
    // published µ-law expander agrees on; 0xFF and 0x7F are the two
    // codes for zero
    assert(AudioCodec.mulawDecodeByte(0x00) == -32124)
    assert(AudioCodec.mulawDecodeByte(0x80) == 32124)
    assert(AudioCodec.mulawDecodeByte(0xFF) == 0)
    assert(AudioCodec.mulawDecodeByte(0x7F) == 0)
  }

  test("encode(decode(b)) == b for all 255 canonical codes") {
    // 0x7F is the non-canonical "negative zero": it decodes to 0,
    // which re-encodes to the canonical zero 0xFF
    for (b <- 0 to 255 if b != 0x7F)
      assert(mulawEncodeSample(AudioCodec.mulawDecodeByte(b)) == b,
        f"code 0x$b%02x")
    assert(mulawEncodeSample(AudioCodec.mulawDecodeByte(0x7F)) == 0xFF)
  }

  test("companding error stays within the segment's quantization step") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 2000) {
      val s = rnd.nextInt(65536) - 32768
      val dec = AudioCodec.mulawDecodeByte(mulawEncodeSample(s)).toInt
      // truncating encoder: error < 2^(exp+3) ≤ (|s|+132)/16, plus the
      // 32635 clip at the rails
      val bound = math.abs(s) / 16 + 133
      assert(math.abs(dec - s) <= bound, s"sample $s decoded $dec")
    }
  }

  test("µ-law WAV round-trips the byte stream through the real container") {
    val ulaw = Array.tabulate(101)(j => (j * 7 + 3) % 256) // odd length: pad byte exercised
    val wav = AudioCodec.encodeMulawWav(8000, ulaw)
    val Some((sr, ch, samples)) = AudioCodec.decodeMulawWav(wav)
    assert(sr == 8000 && ch == 1 && samples.length == 101)
    for (j <- ulaw.indices)
      assert(samples(j) == AudioCodec.mulawDecodeByte(ulaw(j)), s"sample $j")
  }

  test("decodeMulawWav rejects garbage, truncation, and other WAV formats") {
    assert(AudioCodec.decodeMulawWav(Array[Byte](1, 2, 3)).isEmpty)
    val wav = AudioCodec.encodeMulawWav(8000, Array.tabulate(64)(_ % 256))
    assert(AudioCodec.decodeMulawWav(wav.take(wav.length - 9)).isEmpty)
    val pcm = AudioCodec.encodePcmWav(8000, 1, Array[Short](1, 2, 3))
    assert(AudioCodec.decodeMulawWav(pcm).isEmpty)
    // and the PCM decoder must not claim the µ-law stream
    assert(AudioCodec.decodePcmWav(wav).isEmpty)
  }

  test("A-law corner values decode to the published extremes") {
    // code 0x2A (binary 00101010 ^ 0x55 = 0x7F: sign 0, seg 7, mant 15)
    // is the negative rail; 0xAA the positive — CCITT expansion ±32256
    assert(AudioCodec.alawDecodeByte(0x2A) == -32256)
    assert(AudioCodec.alawDecodeByte(0xAA) == 32256)
    // the two smallest-magnitude codes: ±8
    assert(AudioCodec.alawDecodeByte(0x55) == -8)
    assert(AudioCodec.alawDecodeByte(0xD5) == 8)
  }

  test("A-law encode(decode(b)) == b for all 256 codes") {
    // unlike µ-law, A-law has no redundant zero code: every byte is
    // canonical and must survive a decode/encode round-trip
    for (b <- 0 to 255)
      assert(alawEncodeSample(AudioCodec.alawDecodeByte(b)) == b,
        f"code 0x$b%02x")
  }

  test("A-law WAV round-trips and is not claimed by the µ-law decoder") {
    val alaw = Array.tabulate(77)(j => (j * 13 + 5) % 256)
    val wav = AudioCodec.encodeAlawWav(8000, alaw)
    val Some((sr, ch, samples)) = AudioCodec.decodeAlawWav(wav)
    assert(sr == 8000 && ch == 1 && samples.length == 77)
    for (j <- alaw.indices)
      assert(samples(j) == AudioCodec.alawDecodeByte(alaw(j)), s"sample $j")
    assert(AudioCodec.decodeMulawWav(wav).isEmpty)
    assert(AudioCodec.decodeAlawWav(
      AudioCodec.encodeMulawWav(8000, alaw)).isEmpty)
  }

  test("decodeAudioFeatures decodes µ-law payloads through the shared path") {
    import spark.implicits._
    // codes 0x00 (−32124) and 0x80 (+32124): one sign change, symmetric sums
    val wav = AudioCodec.encodeMulawWav(16000, Array(0x00, 0x80))
    val df = Seq((7L, wav)).toDF("id", "payload")
    val out = AudioCodec.decodeAudioFeatures(df, "id", "payload").collect()
    assert(out(0).getBoolean(1) && out(0).getInt(2) == 16000)
    assert(out(0).getLong(3) == 2L)
    assert(out(0).getLong(4) == 64248L) // sum_abs
    assert(out(0).getLong(5) == 32124L) // peak_abs
    assert(out(0).getLong(6) == 1L)     // zero_crossings
  }
}
