package graft.operators

import org.apache.spark.sql.DataFrame

/** SafeTensors container auditor — the weights-file member of the
  * container family (q323 WARC, q324 tar, q353 TFRecord): the format
  * model checkpoints ship in on the Hub —
  *
  *   header_size(8 LE u64) · header JSON (UTF-8) · raw tensor data
  *
  * where the JSON maps tensor names to `{dtype, shape,
  * data_offsets=[begin, end)}` with offsets relative to the data
  * section. The audit checks what a serving/training fleet must trust
  * before mmap-ing: the header fits, the JSON parses, every tensor's
  * byte span equals `Π(shape) · sizeof(dtype)`, the spans tile the
  * data section contiguously without overlap from offset 0, and the
  * file actually contains the bytes the header promises.
  *
  * Contract (stop-don't-guess): a malformed prefix (short header,
  * unparseable JSON) yields a zeroed row with `valid_json = 0` and
  * the whole remainder as `trailing_bytes`; span arithmetic
  * violations and truncation are counted per tensor, never guessed
  * around.
  */
object SafeTensorsOps {

  final case class StMeta(
      validJson: Int,
      nTensors: Int,
      paramCount: Long,     // Σ Π(shape)
      headerBytes: Long,
      dataBytes: Long,      // max declared end
      nSizeMismatch: Int,   // span ≠ Π(shape)·sizeof(dtype)
      contiguous: Int,      // spans sorted by begin tile [0, dataBytes)
      truncated: Int,       // file holds fewer data bytes than declared
      trailingBytes: Long)  // bytes beyond the declared data section

  private val DtypeSize = Map("F64" -> 8L, "F32" -> 4L, "F16" -> 2L,
    "BF16" -> 2L, "I64" -> 8L, "I32" -> 4L, "I16" -> 2L, "I8" -> 1L,
    "U8" -> 1L, "BOOL" -> 1L)

  /** Deterministic file from a (name, dtype, shape) plan; offsets are
    * packed contiguously in plan order. `spanDelta` shortens the LAST
    * tensor's declared end (size-mismatch injection); `dropData`
    * truncates the data section.
    */
  def encodeSynthetic(plan: Seq[(String, String, Seq[Int])],
                      spanDelta: Long = 0L, dropData: Int = 0): Array[Byte] = {
    var off = 0L
    val entries = plan.zipWithIndex.map { case ((name, dtype, shape), i) =>
      val bytes = shape.map(_.toLong).product * DtypeSize(dtype)
      val end = off + bytes - (if (i == plan.size - 1) spanDelta else 0L)
      val e = s""""$name":{"dtype":"$dtype","shape":[${shape.mkString(",")}],""" +
        s""""data_offsets":[$off,$end]}"""
      off += bytes
      e
    }
    val header = "{" + entries.mkString(",") + "}"
    val hb = header.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bos = new ByteSink().le64(hb.length.toLong).raw(hb)
    val dataLen = (off - dropData).toInt
    var j = 0
    while (j < dataLen) { bos.write((j * 37 + 11) % 256); j += 1 }
    bos.toByteArray
  }

  def parse(bytes: Array[Byte]): StMeta = {
    val n = bytes.length.toLong
    if (n < 8) return StMeta(0, 0, 0L, 0L, 0L, 0, 0, 0, n)
    val hlen = Bytes.le64(bytes, 0)
    // `hlen > n - 8`, NOT `8 + hlen > n`: a length near Long.MaxValue
    // would wrap the addition negative and slip past the check
    if (hlen < 2 || hlen > n - 8) return StMeta(0, 0, 0L, 0L, 0L, 0, 0, 0, n - 8)
    val headerStr = new String(bytes, 8, hlen.toInt,
      java.nio.charset.StandardCharsets.UTF_8)
    val parsed = try {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(headerStr) match {
        case JObject(fields) =>
          Some(fields.collect {
            case (name, JObject(t)) if name != "__metadata__" =>
              val m = t.toMap
              val dtype = m.get("dtype").collect { case JString(s) => s }
              val shape = m.get("shape").collect {
                case JArray(xs) => xs.collect { case JInt(v) => v.toLong }
              }
              val offs = m.get("data_offsets").collect {
                case JArray(List(JInt(a), JInt(b))) => (a.toLong, b.toLong)
              }
              (dtype, shape, offs)
          })
        case _ => None
      }
    } catch { case _: Exception => None }
    parsed match {
      case None => StMeta(0, 0, 0L, hlen, 0L, 0, 0, 0, n - 8 - hlen)
      case Some(ts) =>
        var params = 0L; var mismatch = 0; var maxEnd = 0L
        val spans = ts.flatMap { case (dt, sh, offs) =>
          (dt, sh, offs) match {
            case (Some(d), Some(s), Some((a, b)))
                if DtypeSize.contains(d) && b >= a =>
              val p = s.product
              params += p
              if (b - a != p * DtypeSize(d)) mismatch += 1
              maxEnd = math.max(maxEnd, b)
              Seq((a, b))
            case _ => mismatch += 1; Seq.empty
          }
        }
        val sorted = spans.sortBy(_._1)
        val contiguous =
          if (sorted.isEmpty) 1
          else if (sorted.head._1 != 0L) 0
          else if (sorted.sliding(2).forall {
            case Seq((_, e1), (b2, _)) => e1 == b2
            case _ => true
          }) 1
          else 0
        val avail = n - 8 - hlen
        StMeta(1, ts.size, params, hlen, maxEnd, mismatch, contiguous,
          if (avail < maxEnd) 1 else 0, math.max(avail - maxEnd, 0L))
    }
  }

  def safetensorsFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid_json", "n_tensors", "param_count",
      "header_bytes", "data_bytes", "n_size_mismatch", "contiguous", "truncated",
      "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.validJson.toLong, m.nTensors.toLong, m.paramCount,
        m.headerBytes, m.dataBytes, m.nSizeMismatch.toLong,
        m.contiguous.toLong, m.truncated.toLong, m.trailingBytes)
    }
}
