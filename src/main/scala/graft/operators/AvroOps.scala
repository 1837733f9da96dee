package graft.operators

import org.apache.spark.sql.DataFrame

/** Avro Object Container File census — the remaining big data-lake
  * container next to parquet (q377), ORC-era warehouses' row format
  * of record: streaming ingest (Kafka → lake) lands as .avro long
  * before anything is columnarized, so a fleet triages OCF shards at
  * the header/block layer without decoding a single datum.
  *
  * Layout (Avro 1.11 spec §Object Container Files — entirely
  * closed-form, no schema resolution needed):
  *
  *   magic `Obj\x01` · file-metadata map · 16-byte sync marker ·
  *   blocks, each `record count (zigzag-varint long) · payload size
  *   (zigzag-varint long) · payload · 16-byte sync` — every block's
  *   sync must equal the header's.
  *
  * The metadata map is Avro-binary: repeated map segments of
  * `item count` (a NEGATIVE count means |count| items preceded by a
  * long byte size) then count × (string key · bytes value), closed by
  * a zero count. `avro.schema` and `avro.codec` are ordinary entries —
  * the census reports the schema length, the codec name, and the
  * entry count. Block payloads are deflate/snappy/zstd-compressed
  * record runs — the honest stub boundary (q366/q368 discipline):
  * counted and sized, never decoded.
  *
  * Stop-don't-guess: a wrong magic rejects the file whole; a
  * malformed metadata map rejects the header (fail-closed, zeroed
  * census); a block whose declared size overruns the buffer, a
  * negative count, or a sync mismatch HALTS the walk at that block's
  * start — blocks already walked stay counted and the remainder is
  * `trailing_bytes`. All bounds are overflow-proof subtraction forms
  * (declared sizes are attacker-controlled 64-bit zigzag values).
  */
object AvroOps {

  final case class AvroMeta(
      valid: Int,           // 1 iff header + every block + final position parse
      nMetaEntries: Int,
      schemaLen: Long,      // avro.schema value length (0 when absent)
      codec: String,        // avro.codec value, "null" when absent, "" when invalid
      nBlocks: Int,
      totalRecords: Long,
      payloadBytes: Long,   // Σ declared block payload sizes
      syncMismatch: Int,    // 1 iff the walk halted on a bad block sync
      trailingBytes: Long)

  private val Invalid = AvroMeta(0, 0, 0L, "", 0, 0L, 0L, 0, 0L)
  private val MaxMetaEntries = 10000

  private[operators] def isOcf(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && Bytes.tag(bytes, 0, "Obj") && bytes(3) == 1

  /** The OCF header after the magic: the metadata map's entries in file
    * order (at most 10000 across its segments; a negative segment count
    * is followed by a byte size, read and ignored) and the 16-byte sync
    * marker. Throws Malformed.
    */
  private[operators] def readHeader(r: ByteCursor): (Seq[(String, Array[Byte])], Array[Byte]) = {
    val meta = Seq.newBuilder[(String, Array[Byte])]
    var nEntries = 0
    var segCount = r.avroLong()
    while (segCount != 0L) {
      val items = if (segCount < 0L) { r.avroLong(); -segCount } else segCount
      if (items < 0 || items > MaxMetaEntries - nEntries) throw Malformed
      var i = 0L
      while (i < items) {
        meta += ((new String(r.take(r.avroLong()), "UTF-8"), r.take(r.avroLong())))
        i += 1
      }
      nEntries += items.toInt
      segCount = r.avroLong()
    }
    (meta.result(), r.take(16L))
  }

  /** The last value of metadata `key`, as UTF-8. */
  private[operators] def metaValue(meta: Seq[(String, Array[Byte])], key: String): Option[String] =
    meta.reverseIterator.collectFirst { case (`key`, v) => new String(v, "UTF-8") }

  def parse(bytes: Array[Byte]): AvroMeta = {
    val n = bytes.length
    if (!isOcf(bytes)) return Invalid.copy(trailingBytes = n.toLong)
    try {
      val r = new ByteCursor(bytes, 4, n)
      val (meta, sync) = readHeader(r)
      val schemaLen = meta.reverseIterator.collectFirst {
        case ("avro.schema", v) => v.length.toLong }.getOrElse(0L)
      val codec = metaValue(meta, "avro.codec").getOrElse("null")
      // block walk: halting faults keep the walked prefix
      var nBlocks = 0
      var totalRecords = 0L
      var payloadBytes = 0L
      var syncMismatch = 0
      var halted = false
      while (!halted && r.pos < r.end) {
        val blockStart = r.pos
        try {
          val cnt = r.avroLong()
          val size = r.avroLong()
          if (cnt < 0) throw Malformed
          r.skip(size)
          val blockSync = r.take(16L)
          if (!java.util.Arrays.equals(blockSync, sync)) {
            syncMismatch = 1
            r.pos = blockStart
            halted = true
          } else {
            // cnt is an attacker-controlled 64-bit zigzag (a few-byte
            // block can declare near-2^63 records — legal-shaped since
            // zero-field records are zero bytes, so no size-based cap
            // applies): accumulate with addExact and halt the walk as
            // malformed AT this block on overflow, instead of wrapping
            // the census total negative across two such blocks; the
            // add runs before nBlocks so the halted block counts in
            // neither total
            totalRecords = try Math.addExact(totalRecords, cnt) catch {
              case _: ArithmeticException => throw Malformed
            }
            nBlocks += 1
            payloadBytes += size
          }
        } catch {
          case Malformed =>
            r.pos = blockStart
            halted = true
        }
      }
      AvroMeta(if (halted) 0 else 1, meta.size, schemaLen, codec,
        nBlocks, totalRecords, payloadBytes, syncMismatch,
        (n - r.pos).toLong)
    } catch {
      // header (metadata map / header sync) failures reject the file
      // whole: nothing was reliably parsed, so the entire input is
      // unconsumed trailing — the same convention as the other walkers
      case Malformed => Invalid.copy(trailingBytes = n.toLong)
      case _: ArrayIndexOutOfBoundsException => Invalid.copy(trailingBytes = n.toLong)
    }
  }

  // ------------------------------------------------------------------
  // synthetic encoder (tests + the q378 oracle's closed-form replay)

  /** OCF with `extraMeta` entries beyond schema+codec, `blocks` of
    * (recordCount, payloadLen) with deterministic filler payloads, and
    * a sync marker derived from `syncSeed`.
    */
  def encodeSynthetic(schema: String, codec: String,
      extraMeta: Seq[(String, String)], blocks: Seq[(Long, Int)],
      syncSeed: Long): Array[Byte] = {
    val out = new ByteSink().ascii("Obj").u8(1)
    val entries = Seq("avro.schema" -> schema, "avro.codec" -> codec) ++ extraMeta
    out.avroLong(entries.size.toLong)
    entries.foreach { case (k, v) =>
      out.avroBytes(k.getBytes("UTF-8")).avroBytes(v.getBytes("UTF-8"))
    }
    out.avroLong(0L)
    val sync = Array.tabulate(16)(i => ((syncSeed >> ((i % 8) * 8)) + i * 37).toByte)
    out.raw(sync)
    blocks.foreach { case (cnt, len) =>
      out.avroLong(cnt).avroLong(len.toLong)
      out.raw(Array.tabulate(len)(i => ((i * 29 + 11) & 0xff).toByte))
      out.raw(sync)
    }
    out.toByteArray
  }

  def avroFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid", "n_meta_entries", "schema_len",
      "codec", "n_blocks", "total_records", "payload_bytes", "sync_mismatch",
      "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.valid.toLong, m.nMetaEntries.toLong, m.schemaLen, m.codec,
        m.nBlocks.toLong, m.totalRecords, m.payloadBytes,
        m.syncMismatch.toLong, m.trailingBytes)
    }
}
