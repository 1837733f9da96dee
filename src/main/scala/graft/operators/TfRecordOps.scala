package graft.operators

import org.apache.spark.sql.DataFrame

/** TFRecord container walker — the training-shard member of the
  * container family (q323 WARC, q324 WebDataset tar, q332 ZIP): the
  * format TensorFlow datasets ship in, a concatenation of records
  * each framed as
  *
  *   length(8 LE) · masked_crc32c(length bytes)(4 LE) ·
  *   payload(length) · masked_crc32c(payload)(4 LE)
  *
  * The frame carries TWO checksums (CRC32C — Castagnoli poly,
  * reflected — then TFRecord's rotate-and-add mask), and both are
  * VERIFIED here: the length CRC guards the walk itself (a flipped
  * length byte would otherwise desynchronize every later record),
  * the payload CRC guards the data. Walking the framing gives the
  * census a training fleet triages shards on: record counts, payload
  * mass vs the fixed 16-byte/record frame overhead, and how much of
  * each shard is undecodable tail.
  *
  * Contract (stop-don't-guess, the container-walk family discipline):
  * a record needs 12 header bytes; its length CRC must verify; the
  * declared length must be non-negative and payload + trailing CRC
  * must fit in the remaining bytes; the payload CRC must verify. Any
  * violation stops the walk AT THAT RECORD'S START and the remainder
  * is `trailing_bytes` — `clean_eof` distinguishes a shard that ended
  * exactly on a record boundary from one with a corrupt or truncated
  * tail.
  */
object TfRecordOps {

  final case class TfMeta(
      nRecords: Int,
      sumPayloadBytes: Long,
      overheadBytes: Long, // 16 per accepted record
      trailingBytes: Long,
      cleanEof: Boolean)

  // CRC32C: reflected Castagnoli polynomial (0x82F63B78 reversed form)
  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i
      var j = 0
      while (j < 8) {
        c = if ((c & 1) != 0) 0x82F63B78 ^ (c >>> 1) else c >>> 1
        j += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  def crc32c(bytes: Array[Byte], off: Int, len: Int): Int = {
    var c = 0xFFFFFFFF
    var i = off
    while (i < off + len) {
      c = CrcTable((c ^ bytes(i)) & 0xff) ^ (c >>> 8)
      i += 1
    }
    ~c
  }

  /** TFRecord's CRC mask: rotate right 15, add the magic constant. */
  def mask(crc: Int): Int =
    (((crc >>> 15) | (crc << 17)) + 0xa282ead8.toInt)

  /** Deterministic shard from a payload-length plan; filler bytes are
    * a closed function of (record index, offset) so corruption tests
    * can flip a known byte.
    */
  def encodeSynthetic(payloadLens: Seq[Int]): Array[Byte] =
    encodeShard(payloadLens.zipWithIndex.map { case (len, j) =>
      Array.tabulate[Byte](len)(i => ((i * 29 + j * 13) % 256).toByte)
    })

  /** Shared CRC-verified record walk: `onRecord(payloadOff, len)` per
    * accepted record, returns the stop position. `parse` and the
    * tf.Example census (q379) both ride this one walk — the
    * walkPages/OggOps discipline. Visitor style, not a materialized
    * record list: the walk is bench-priced (`tfrecord_walk_sec`) and
    * must stay allocation-free per record.
    */
  def walkRecords(bytes: Array[Byte])(onRecord: (Int, Int) => Unit): Int = {
    val n = bytes.length
    var pos = 0
    var ok = true
    while (ok && pos < n) {
      if (pos + 12 > n) ok = false
      else {
        val len = Bytes.le64(bytes, pos)
        val lenCrcOk = Bytes.le32(bytes, pos + 8) == mask(crc32c(bytes, pos, 8))
        // `len > n - pos - 16`, NOT `pos + 12 + len + 4 > n`: a crafted
        // length near Long.MaxValue (its CRC is trivially computable)
        // would wrap the addition negative, slip past the check, and
        // index at the length's low 32 bits
        if (!lenCrcOk || len < 0 || len > n - pos - 16) ok = false
        else if (Bytes.le32(bytes, pos + 12 + len.toInt) !=
                 mask(crc32c(bytes, pos + 12, len.toInt))) ok = false
        else {
          onRecord(pos + 12, len.toInt)
          pos += 12 + len.toInt + 4
        }
      }
    }
    pos
  }

  def parse(bytes: Array[Byte]): TfMeta = {
    var nRec = 0; var payloadSum = 0L
    val pos = walkRecords(bytes) { (_, len) => nRec += 1; payloadSum += len }
    TfMeta(nRec, payloadSum, 16L * nRec,
      (bytes.length - pos).toLong, pos == bytes.length)
  }

  def tfrecordFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_records", "sum_payload_bytes",
      "overhead_bytes", "trailing_bytes", "clean_eof") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.nRecords.toLong, m.sumPayloadBytes, m.overheadBytes,
        m.trailingBytes, if (m.cleanEof) 1L else 0L)
    }

  // ------------------------------------------------------------------
  // tf.Example protobuf census — one notch inward from the frame walk
  // (the q368/q369 move): record payloads ARE protobuf tf.Example
  // messages (tensorflow/core/example/example.proto, feature.proto),
  // and the proto wire format is closed-form: tag = varint
  // (field << 3 | wiretype), wiretypes 0 varint / 1 fixed64 /
  // 2 length-delimited / 5 fixed32 (3/4 = deprecated groups,
  // rejected). Targeted descent: Example.features(1) → Features
  // .feature(1) map entries → Feature kind BytesList(1) /
  // FloatList(2) / Int64List(3), values counted (packed or repeated),
  // never interpreted. Unknown fields skip structurally — the
  // property that reads real TF shards full of extensions.

  final case class ExampleMeta(
      nExamples: Int,       // records whose payload parsed as an Example
      nMalformed: Int,      // records whose payload violated the wire format
      nFeatures: Int,       // map entries across all parsed examples
      nBytesFeat: Int,      // features carrying a BytesList
      nFloatFeat: Int,
      nInt64Feat: Int,
      bytesValues: Long,    // values across all BytesLists
      bytesLen: Long,       // Σ byte-string lengths
      floatValues: Long,
      int64Values: Long)

  /** A length-delimited proto field as its own cursor. */
  private[operators] def lenDelimited(r: ByteCursor): ByteCursor = r.slice(r.varint())

  /** Skip one proto value of wire type `wire`; groups (3/4) and invalid
    * wire types are malformed.
    */
  private[operators] def skipValue(r: ByteCursor, wire: Int): Unit = wire match {
    case 0 => r.varint(); ()
    case 1 => r.skip(8)
    case 2 => r.skip(r.varint())
    case 5 => r.skip(4)
    case _ => throw Malformed
  }

  /** Count the varints packed into `c`; one overrunning it is malformed. */
  private def countPackedVarints(c: ByteCursor): Long = {
    var n = 0L
    while (c.hasMore) { c.varint(); n += 1 }
    n
  }

  /** Parse one record payload as tf.Example; throws Malformed. */
  private def parseExample(b: Array[Byte], off: Int, len: Int,
      acc: Array[Long]): Unit = {
    val r = new ByteCursor(b, off, off + len)
    var nFeat = 0L; var nBytes = 0L; var nFloat = 0L; var nInt = 0L
    var bVals = 0L; var bLen = 0L; var fVals = 0L; var iVals = 0L
    while (r.hasMore) {
      val tag = r.varint()
      val field = (tag >>> 3).toInt; val wire = (tag & 7).toInt
      if (field == 1 && wire == 2) { // Example.features
        val fr = lenDelimited(r)
        while (fr.hasMore) {
          val ftag = fr.varint()
          if ((ftag >>> 3).toInt == 1 && (ftag & 7).toInt == 2) { // map entry
            nFeat += 1
            val er = lenDelimited(fr)
            while (er.hasMore) {
              val etag = er.varint()
              if ((etag >>> 3).toInt == 2 && (etag & 7).toInt == 2) { // Feature
                val vr = lenDelimited(er)
                while (vr.hasMore) {
                  val vtag = vr.varint()
                  val vf = (vtag >>> 3).toInt; val vw = (vtag & 7).toInt
                  if (vf >= 1 && vf <= 3 && vw == 2) {
                    val lr = lenDelimited(vr)
                    vf match {
                      case 1 => // BytesList: repeated bytes value = 1
                        nBytes += 1
                        while (lr.hasMore) {
                          val ltag = lr.varint()
                          if ((ltag >>> 3).toInt == 1 && (ltag & 7).toInt == 2) {
                            val sLen = lr.varint()
                            lr.skip(sLen)
                            bVals += 1; bLen += sLen
                          } else skipValue(lr, (ltag & 7).toInt)
                        }
                      case 2 => // FloatList: packed (LEN) or repeated fixed32
                        nFloat += 1
                        while (lr.hasMore) {
                          val ltag = lr.varint()
                          val lw = (ltag & 7).toInt
                          if ((ltag >>> 3).toInt == 1 && lw == 2) {
                            val pLen = lr.varint()
                            lr.skip(pLen)
                            if (pLen % 4 != 0) throw Malformed
                            fVals += pLen / 4
                          } else if ((ltag >>> 3).toInt == 1 && lw == 5) {
                            skipValue(lr, 5); fVals += 1
                          } else skipValue(lr, lw)
                        }
                      case _ => // Int64List: packed varints or repeated varint
                        nInt += 1
                        while (lr.hasMore) {
                          val ltag = lr.varint()
                          val lw = (ltag & 7).toInt
                          if ((ltag >>> 3).toInt == 1 && lw == 2) {
                            iVals += countPackedVarints(lenDelimited(lr))
                          } else if ((ltag >>> 3).toInt == 1 && lw == 0) {
                            lr.varint(); iVals += 1
                          } else skipValue(lr, lw)
                        }
                    }
                  } else skipValue(vr, vw)
                }
              } else skipValue(er, (etag & 7).toInt)
            }
          } else skipValue(fr, (ftag & 7).toInt)
        }
      } else skipValue(r, wire)
    }
    acc(0) += nFeat; acc(1) += nBytes; acc(2) += nFloat; acc(3) += nInt
    acc(4) += bVals; acc(5) += bLen; acc(6) += fVals; acc(7) += iVals
  }

  /** Census over a whole shard: frame walk (CRC-verified) + per-record
    * Example parse; a malformed payload marks THAT record and never
    * halts the shard (the literals-header discipline from q368 — the
    * frame CRC authenticates the bytes, not their proto validity).
    */
  def exampleCensus(bytes: Array[Byte]): ExampleMeta = {
    var nOk = 0; var nBad = 0
    val acc = new Array[Long](8)
    val snapshot = new Array[Long](8)
    walkRecords(bytes) { (off, len) =>
      System.arraycopy(acc, 0, snapshot, 0, 8)
      try {
        parseExample(bytes, off, len, acc)
        nOk += 1
      } catch {
        case Malformed =>
          System.arraycopy(snapshot, 0, acc, 0, 8)
          nBad += 1
        case _: ArrayIndexOutOfBoundsException =>
          System.arraycopy(snapshot, 0, acc, 0, 8)
          nBad += 1
      }
    }
    ExampleMeta(nOk, nBad, acc(0).toInt, acc(1).toInt, acc(2).toInt,
      acc(3).toInt, acc(4), acc(5), acc(6), acc(7))
  }

  // --- tf.Example builder (tests + the q379 oracle's replay) ---

  private[operators] def pbTag(out: ByteSink, field: Int, wire: Int): ByteSink =
    out.varint((field.toLong << 3) | wire)
  private[operators] def pbLen(out: ByteSink, field: Int, body: Array[Byte]): Unit =
    pbTag(out, field, 2).varint(body.length.toLong).raw(body)

  /** One tf.Example payload: `bytesVals` byte strings of `bytesLen`
    * each under key "txt", `nFloats` packed floats under "emb",
    * `int64s` packed under "lbl", plus an unknown field when asked
    * (the skip-path probe).
    */
  def encodeExample(bytesVals: Int, bytesLen: Int, nFloats: Int,
      int64s: Seq[Long], unknownField: Boolean): Array[Byte] = {
    def feature(kindField: Int, body: Array[Byte]): Array[Byte] = {
      val o = new ByteSink(); pbLen(o, kindField, body); o.toByteArray
    }
    def mapEntry(key: String, feat: Array[Byte]): Array[Byte] = {
      val o = new ByteSink()
      pbLen(o, 1, key.getBytes("UTF-8")); pbLen(o, 2, feat); o.toByteArray
    }
    val bl = new ByteSink()
    (0 until bytesVals).foreach { i =>
      pbLen(bl, 1, Array.tabulate(bytesLen)(j => ((j * 7 + i) & 0xff).toByte))
    }
    val fl = new ByteSink()
    locally {
      val packed = new ByteSink()
      (0 until nFloats).foreach(i => packed.le32(java.lang.Float.floatToIntBits(i * 0.5f)))
      pbLen(fl, 1, packed.toByteArray)
    }
    val il = new ByteSink()
    locally {
      val packed = new ByteSink()
      int64s.foreach(v => packed.varint(v))
      pbLen(il, 1, packed.toByteArray)
    }
    val features = new ByteSink()
    pbLen(features, 1, mapEntry("txt", feature(1, bl.toByteArray)))
    pbLen(features, 1, mapEntry("emb", feature(2, fl.toByteArray)))
    pbLen(features, 1, mapEntry("lbl", feature(3, il.toByteArray)))
    val ex = new ByteSink()
    pbLen(ex, 1, features.toByteArray)
    if (unknownField) { ex.varint((99L << 3) | 0); ex.varint(42L) }
    ex.toByteArray
  }

  /** A TFRecord shard from explicit payloads (valid CRCs around
    * whatever bytes — including deliberately non-proto ones).
    */
  def encodeShard(payloads: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new ByteSink()
    payloads.foreach { payload =>
      val lenBytes = new ByteSink(8).le64(payload.length.toLong).toByteArray
      bos.raw(lenBytes).le32(mask(crc32c(lenBytes, 0, 8)))
      bos.raw(payload).le32(mask(crc32c(payload, 0, payload.length)))
    }
    bos.toByteArray
  }

  def exampleFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_examples", "n_malformed", "n_features",
      "n_bytes_feat", "n_float_feat", "n_int64_feat", "bytes_values", "bytes_len",
      "float_values", "int64_values") { (id, bytes) =>
      val m = exampleCensus(bytes)
      (id, m.nExamples.toLong, m.nMalformed.toLong, m.nFeatures.toLong,
        m.nBytesFeat.toLong, m.nFloatFeat.toLong, m.nInt64Feat.toLong,
        m.bytesValues, m.bytesLen, m.floatValues, m.int64Values)
    }
}
