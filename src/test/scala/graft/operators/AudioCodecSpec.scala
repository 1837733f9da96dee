package graft.operators

import graft.SparkSpec

class AudioCodecSpec extends SparkSpec {

  private def sine(n: Int)(j: Int): Short = (((j * 37) % 401) - 200).toShort

  test("WAV encode → decode round-trips 16-bit PCM samples exactly") {
    val samples = Array.tabulate(97)(sine(97))
    val wav = AudioCodec.encodePcmWav(16000, 1, samples)
    // a real RIFF/WAVE container: magic tags present
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val Some((sr, ch, dec)) = AudioCodec.decodePcmWav(wav)
    assert(sr == 16000 && ch == 1)
    assert(dec.toSeq == samples.toSeq)
  }

  test("decodePcmWav round-trips stereo and Int16 extremes") {
    val samples = Array[Short](Short.MinValue, Short.MaxValue, 0, -1, 1, -32767)
    val Some((sr, ch, dec)) = AudioCodec.decodePcmWav(AudioCodec.encodePcmWav(44100, 2, samples))
    assert(sr == 44100 && ch == 2)
    assert(dec.toSeq == samples.toSeq)
  }

  test("decodePcmWav walks past unknown chunks and honors odd-size padding") {
    val samples = Array.tabulate(31)(sine(31))
    val wav = AudioCodec.encodePcmWav(8000, 1, samples)
    // splice a 5-byte LIST chunk (odd size → 1 pad byte) between fmt and data
    val junk = "LIST".getBytes("US-ASCII") ++ Array[Byte](5, 0, 0, 0) ++
      Array[Byte](1, 2, 3, 4, 5) ++ Array[Byte](0)
    val spliced = wav.take(36) ++ junk ++ wav.drop(36) // 36 = end of fmt chunk
    // RIFF size field must cover the splice for the walk's bounds check
    val total = spliced.length - 8
    spliced(4) = (total & 0xff).toByte
    spliced(5) = ((total >> 8) & 0xff).toByte
    val Some((sr, _, dec)) = AudioCodec.decodePcmWav(spliced)
    assert(sr == 8000)
    assert(dec.toSeq == samples.toSeq)
  }

  test("decodePcmWav rejects garbage, truncation, and non-PCM formats") {
    assert(AudioCodec.decodePcmWav(Array[Byte](1, 2, 3)).isEmpty)
    assert(AudioCodec.decodePcmWav(Array.empty[Byte]).isEmpty)
    val wav = AudioCodec.encodePcmWav(8000, 1, Array.tabulate(20)(sine(20)))
    assert(AudioCodec.decodePcmWav(wav.take(60)).isEmpty) // data chunk truncated
    val mulaw = wav.clone(); mulaw(20) = 7 // format tag 1 → 7 (µ-law)
    assert(AudioCodec.decodePcmWav(mulaw).isEmpty)
  }

  test("envelopeHash64 is exactly invariant under uniform integer gain") {
    val base = Array.tabulate(100)(j => (((j * 37) % 401) - 200).toShort)
    def scaled(g: Int) = base.map(v => (v * g).toShort)
    val h1 = AudioCodec.envelopeHash64(base)
    assert(AudioCodec.envelopeHash64(scaled(3)) == h1)
    assert(AudioCodec.envelopeHash64(scaled(7)) == h1)
    // different content ⇒ different hash (not a constant function)
    val other = Array.tabulate(100)(j => (((j * j) % 301) - 150).toShort)
    assert(AudioCodec.envelopeHash64(other) != h1)
  }

  test("decodeAudioFeatures computes exact integer stats and surfaces bad rows") {
    import spark.implicits._
    val samples = Array[Short](10, -20, 30, 0, -5)
    val wav = AudioCodec.encodePcmWav(8000, 1, samples)
    val df = Seq((1L, wav), (2L, Array[Byte](9, 9))).toDF("id", "payload")
    val out = AudioCodec.decodeAudioFeatures(df, "id", "payload").orderBy("id").collect()
    assert(out(0).getBoolean(1) && out(0).getInt(2) == 8000 && out(0).getLong(3) == 5L)
    assert(out(0).getLong(4) == 65L)  // sum_abs
    assert(out(0).getLong(5) == 30L)  // peak_abs
    // sign changes: 10→-20, -20→30; 30→0 and 0→-5 are not strict crossings
    assert(out(0).getLong(6) == 2L)
    assert(out(0).getString(7).length == 16)
    assert(!out(1).getBoolean(1) && out(1).isNullAt(7))
  }

  test("a chunk size near Int.MaxValue cannot wrap the WAV walk") {
    // old form `pos + 8 + size > n` wrapped negative for size ~ 2^31,
    // passed the check, and the chunk advance drove pos negative (AIOOBE)
    val bos = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def le32(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff); bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff) }
    ascii("RIFF"); le32(0x7FFFFFF0); ascii("WAVE")
    ascii("junk"); le32(0x7FFFFFF0)
    (0 until 16).foreach(_ => bos.write(7))
    val b = bos.toByteArray
    assert(AudioCodec.decodePcmWav(b).isEmpty)
    assert(AudioCodec.decodeImaAdpcmWav(b).isEmpty)
  }
}
