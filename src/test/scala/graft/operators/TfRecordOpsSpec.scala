package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** TfRecordOps contract: the CRC32C kernel against the published test
  * vector, round-trip on clean shards, and stop-don't-guess on every
  * way a shard goes bad — length-byte flips must be caught by the
  * length CRC BEFORE they desynchronize the walk.
  */
class TfRecordOpsSpec extends AnyFunSuite {

  test("crc32c matches the published Castagnoli test vector") {
    // RFC 3720 appendix / the canonical check value: crc32c("123456789")
    val v = "123456789".getBytes("US-ASCII")
    assert(TfRecordOps.crc32c(v, 0, v.length) == 0xE3069283.toInt)
  }

  test("round-trip: counts, payload mass, frame overhead, clean EOF") {
    val blob = TfRecordOps.encodeSynthetic(Seq(100, 0, 7, 300))
    val m = TfRecordOps.parse(blob)
    assert(m.nRecords == 4)
    assert(m.sumPayloadBytes == 407L)
    assert(m.overheadBytes == 64L)
    assert(m.trailingBytes == 0L && m.cleanEof)
    assert(blob.length == 407 + 64)
  }

  test("zero-length records are valid TFRecords") {
    val m = TfRecordOps.parse(TfRecordOps.encodeSynthetic(Seq(0, 0)))
    assert(m.nRecords == 2 && m.sumPayloadBytes == 0L && m.cleanEof)
  }

  test("a flipped length byte stops the walk at that record") {
    val blob = TfRecordOps.encodeSynthetic(Seq(50, 60, 70))
    val bad = blob.clone()
    bad(16 + 50 + 2) = (bad(16 + 50 + 2) ^ 0x40).toByte // record 2 length
    val m = TfRecordOps.parse(bad)
    assert(m.nRecords == 1 && m.sumPayloadBytes == 50L)
    assert(m.trailingBytes == blob.length - 66L && !m.cleanEof)
  }

  test("a flipped length CRC stops the walk at that record") {
    val blob = TfRecordOps.encodeSynthetic(Seq(50, 60))
    val bad = blob.clone()
    bad(8) = (bad(8) ^ 0x01).toByte // record 1's length CRC
    val m = TfRecordOps.parse(bad)
    assert(m.nRecords == 0 && m.trailingBytes == blob.length.toLong)
  }

  test("a flipped payload byte fails the payload CRC") {
    val blob = TfRecordOps.encodeSynthetic(Seq(50, 60))
    val bad = blob.clone()
    bad(12 + 10) = (bad(12 + 10) ^ 0xFF).toByte
    val m = TfRecordOps.parse(bad)
    assert(m.nRecords == 0 && !m.cleanEof)
  }

  test("truncation mid-header and mid-payload both stop cleanly") {
    val blob = TfRecordOps.encodeSynthetic(Seq(50))
    val midHeader = TfRecordOps.parse(blob.take(7))
    assert(midHeader.nRecords == 0 && midHeader.trailingBytes == 7L)
    val midPayload = TfRecordOps.parse(blob.dropRight(10))
    assert(midPayload.nRecords == 0 &&
      midPayload.trailingBytes == blob.length - 10L)
  }

  test("a huge length with a VALID length CRC cannot wrap the bounds check") {
    // the length CRC only proves the length bytes are what the writer
    // wrote — an attacker writes the matching CRC trivially, so the
    // 64-bit bounds check itself must not overflow
    val bos = new java.io.ByteArrayOutputStream()
    val len = 0x7FFFFFFFFFFFFFF0L
    val lenBytes = (0 until 8).map(i => ((len >>> (8 * i)) & 0xff).toByte).toArray
    bos.write(lenBytes)
    val crc = TfRecordOps.mask(TfRecordOps.crc32c(lenBytes, 0, 8))
    (0 until 4).foreach(i => bos.write((crc >>> (8 * i)) & 0xff))
    (0 until 64).foreach(_ => bos.write(0))
    val m = TfRecordOps.parse(bos.toByteArray)
    assert(m.nRecords == 0 && !m.cleanEof)
    assert(m.trailingBytes == bos.size().toLong)
  }

  test("record-header-shaped bytes inside a payload do not desync") {
    // payload of record 1 is a byte-exact smaller TFRecord shard —
    // a resyncing scanner would double count; length framing must not
    val inner = TfRecordOps.encodeSynthetic(Seq(5))
    val lens = Seq(inner.length, 40)
    val blob = TfRecordOps.encodeSynthetic(lens)
    // splice the inner shard in as record 1's payload, re-CRC it
    val spliced = {
      val bos = new java.io.ByteArrayOutputStream()
      def intLE(v: Int): Array[Byte] =
        Array(v & 0xff, (v >>> 8) & 0xff, (v >>> 16) & 0xff, (v >>> 24) & 0xff)
          .map(_.toByte)
      val lenBytes = (0 until 8).map(i => ((inner.length.toLong >>> (8 * i)) & 0xff).toByte).toArray
      bos.write(lenBytes)
      bos.write(intLE(TfRecordOps.mask(TfRecordOps.crc32c(lenBytes, 0, 8))))
      bos.write(inner)
      bos.write(intLE(TfRecordOps.mask(TfRecordOps.crc32c(inner, 0, inner.length))))
      bos.write(blob.drop(16 + inner.length)) // record 2 unchanged
      bos.toByteArray
    }
    val m = TfRecordOps.parse(spliced)
    assert(m.nRecords == 2, s"resync double-count: ${m.nRecords}")
    assert(m.sumPayloadBytes == inner.length.toLong + 40L && m.cleanEof)
  }

  // --- tf.Example census (q379, one notch inward from the frame walk) ---

  test("tf.Example round-trip: feature kinds and value counts") {
    val shard = TfRecordOps.encodeShard(Seq(
      TfRecordOps.encodeExample(bytesVals = 2, bytesLen = 9, nFloats = 3,
        int64s = Seq(1L, 200L, 300000L), unknownField = false),
      TfRecordOps.encodeExample(bytesVals = 1, bytesLen = 4, nFloats = 1,
        int64s = Seq(7L), unknownField = false)))
    val m = TfRecordOps.exampleCensus(shard)
    assert(m.nExamples == 2 && m.nMalformed == 0)
    assert(m.nFeatures == 6 && m.nBytesFeat == 2 && m.nFloatFeat == 2 && m.nInt64Feat == 2)
    assert(m.bytesValues == 3L && m.bytesLen == 2L * 9 + 4)
    assert(m.floatValues == 4L && m.int64Values == 4L)
  }

  test("tf.Example: unknown fields skip structurally (proto forward compat)") {
    val a = TfRecordOps.exampleCensus(TfRecordOps.encodeShard(Seq(
      TfRecordOps.encodeExample(1, 5, 2, Seq(9L), unknownField = true))))
    val b = TfRecordOps.exampleCensus(TfRecordOps.encodeShard(Seq(
      TfRecordOps.encodeExample(1, 5, 2, Seq(9L), unknownField = false))))
    assert(a.nExamples == 1 && a.nMalformed == 0)
    assert(a.copy() == b.copy()) // identical census either way
  }

  test("tf.Example: a malformed payload marks that record, never the shard") {
    val shard = TfRecordOps.encodeShard(Seq(
      TfRecordOps.encodeExample(1, 5, 1, Seq(1L), unknownField = false),
      Array(0xFF.toByte, 0xFF.toByte), // unterminated varint tag
      TfRecordOps.encodeExample(1, 5, 1, Seq(1L), unknownField = false)))
    val m = TfRecordOps.exampleCensus(shard)
    assert(m.nExamples == 2 && m.nMalformed == 1)
    assert(m.nFeatures == 6) // the poisoned record contributed NOTHING
  }

  test("tf.Example: non-packed encodings count the same values") {
    // hand-build a Feature with repeated fixed32 floats and repeated
    // varint int64s (pre-proto3 encodings real shards still carry)
    def len(field: Int, body: Array[Byte]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      def w(v0: Long): Unit = {
        var v = v0
        while ((v & ~0x7fL) != 0) { b.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
        b.write(v.toInt)
      }
      w((field.toLong << 3) | 2); w(body.length.toLong); b.write(body); b.toByteArray
    }
    val fl = new java.io.ByteArrayOutputStream() // FloatList: two fixed32 values
    for (_ <- 0 until 2) { fl.write((1L << 3 | 5).toInt); fl.write(Array[Byte](0, 0, 0x80.toByte, 0x3F.toByte)) }
    val il = new java.io.ByteArrayOutputStream() // Int64List: three varint values
    for (i <- 0 until 3) { il.write((1L << 3 | 0).toInt); il.write(40 + i) }
    val feat2 = len(2, fl.toByteArray)
    val feat3 = len(3, il.toByteArray)
    val entry2 = len(1, len(1, "f".getBytes) ++ len(2, feat2))
    val entry3 = len(1, len(1, "i".getBytes) ++ len(2, feat3))
    val ex = len(1, entry2 ++ entry3)
    val m = TfRecordOps.exampleCensus(TfRecordOps.encodeShard(Seq(ex)))
    assert(m.nExamples == 1 && m.nFloatFeat == 1 && m.nInt64Feat == 1)
    assert(m.floatValues == 2L && m.int64Values == 3L)
  }

  test("tf.Example: packed float region not divisible by 4 is malformed") {
    val good = TfRecordOps.encodeExample(1, 5, 2, Seq(1L), unknownField = false)
    // find the packed float region (8 bytes of floats) and shrink the
    // declared FloatList packed length by 1 — simplest: rebuild by hand
    def len(field: Int, body: Array[Byte]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      def w(v0: Long): Unit = {
        var v = v0
        while ((v & ~0x7fL) != 0) { b.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
        b.write(v.toInt)
      }
      w((field.toLong << 3) | 2); w(body.length.toLong); b.write(body); b.toByteArray
    }
    val badPacked = len(1, Array[Byte](1, 2, 3)) // 3 bytes: not % 4
    val entry = len(1, len(1, "f".getBytes) ++ len(2, len(2, badPacked)))
    val ex = len(1, entry)
    val m = TfRecordOps.exampleCensus(TfRecordOps.encodeShard(Seq(ex, good)))
    assert(m.nMalformed == 1 && m.nExamples == 1)
    assert(m.floatValues == 2L) // only the good example's floats
  }
}
