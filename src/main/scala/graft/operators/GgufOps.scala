package graft.operators

import org.apache.spark.sql.DataFrame

/** GGUF header walker — the quantized-weights sibling of q355's
  * SafeTensors audit: the container llama.cpp-family runtimes mmap,
  * framed (v3, all integers little-endian) as
  *
  *   magic "GGUF" · version(u32) · tensor_count(u64) · kv_count(u64) ·
  *   metadata KVs: key(u64 len + UTF-8) · value_type(u32) · value ·
  *   tensor infos: name(u64 len + UTF-8) · n_dims(u32) · dims(u64 ×
  *   n_dims) · ggml_type(u32) · offset(u64)
  *
  * The KV walk is TYPED — string (u64-length-prefixed), scalar widths
  * 1/2/4/8, and arrays (elem_type u32 + count u64 + payload) — so a
  * single wrong type id desynchronizes everything after it; the
  * walker therefore validates each type id against the v3 table and
  * stops at the first unknown one instead of guessing a width.
  *
  * Census: version, KV count/bytes by class (strings vs scalars vs
  * arrays), tensor count, parameter count (Π dims), and
  * stop-don't-guess `valid`/`trailing_bytes` for short, corrupt, or
  * truncated headers. (Tensor DATA offsets live outside the header
  * walk — this is the metadata triage a fleet runs before deciding
  * to mmap at all.)
  */
object GgufOps {

  final case class GgufMeta(
      valid: Int,
      version: Int,
      nKv: Int,
      nKvString: Int,
      nKvScalar: Int,
      nKvArray: Int,
      kvBytes: Long,
      nTensors: Int,
      paramCount: Long,
      headerBytes: Long,
      trailingBytes: Long)

  // v3 value types → fixed widths; 8 = string, 9 = array (variable)
  private val ScalarWidth = Map(0 -> 1L, 1 -> 1L, 2 -> 2L, 3 -> 2L,
    4 -> 4L, 5 -> 4L, 6 -> 4L, 7 -> 1L, 10 -> 8L, 11 -> 8L, 12 -> 8L)

  /** Deterministic file from kv and tensor plans. KV values: Left =
    * string, Right = (type id, width) scalar zeros. Arrays are
    * emitted for type id 9 via `arrays` (elem type 4 = u32).
    */
  def encodeSynthetic(kvStrings: Seq[(String, String)],
                      kvScalars: Seq[(String, Int)],
                      kvArrays: Seq[(String, Int)],
                      tensors: Seq[(String, Seq[Long], Int)],
                      dropTail: Int = 0, badTypeAt: Int = -1): Array[Byte] = {
    val bos = new ByteSink()
    def str(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      bos.le64(b.length.toLong).raw(b)
    }
    bos.ascii("GGUF")
    bos.le32(3L)
    bos.le64(tensors.size.toLong)
    bos.le64((kvStrings.size + kvScalars.size + kvArrays.size).toLong)
    var kvIdx = 0
    def typeId(t: Int): Long = if (kvIdx == badTypeAt) 99L else t.toLong
    kvStrings.foreach { case (k, v) =>
      str(k); bos.le32(typeId(8)); kvIdx += 1; str(v)
    }
    kvScalars.foreach { case (k, t) =>
      str(k); bos.le32(typeId(t)); kvIdx += 1
      (0L until ScalarWidth(t)).foreach(_ => bos.write(kvIdx % 256))
    }
    kvArrays.foreach { case (k, n) =>
      str(k); bos.le32(typeId(9)); kvIdx += 1
      bos.le32(4L); bos.le64(n.toLong) // u32 elements
      (0 until n * 4).foreach(i => bos.write((i * 3 + 1) % 256))
    }
    tensors.foreach { case (name, dims, ggmlType) =>
      str(name); bos.le32(dims.size.toLong); dims.foreach(bos.le64)
      bos.le32(ggmlType.toLong); bos.le64(0L)
    }
    val out = bos.toByteArray
    if (dropTail > 0) out.dropRight(dropTail) else out
  }

  def parse(bytes: Array[Byte]): GgufMeta = {
    val n = bytes.length.toLong
    def fail(trailing: Long) =
      GgufMeta(0, 0, 0, 0, 0, 0, 0L, 0, 0L, 0L, trailing)
    if (n < 24 || bytes(0) != 'G' || bytes(1) != 'G' || bytes(2) != 'U' ||
      bytes(3) != 'F') return fail(n)
    val c = new ByteCursor(bytes, 4, bytes.length)
    val version = c.le32()
    val nTensors = c.le64()
    val nKv = c.le64()
    if (version != 3 || nTensors < 0 || nKv < 0) return fail(n - 4)
    var kvBytes = 0L; var nStr = 0; var nScal = 0; var nArr = 0
    var i = 0L
    var ok = true
    // a string is a u64 length then its bytes; the cursor checks the
    // length against what is left, so a huge u64 cannot wrap past it
    def str(): Unit = c.skip(c.le64())
    while (ok && i < nKv) {
      val start = c.pos
      try {
        str()
        val t = c.le32()
        if (t == 8) { str(); nStr += 1 }
        else if (t == 9) {
          val et = c.le32()
          val cnt = c.le64()
          // divide instead of multiply: `cnt * width` overflows for a
          // huge element count and would pass as a 0-byte payload
          if (!ScalarWidth.contains(et) || cnt < 0 ||
            cnt > c.remaining / ScalarWidth(et)) throw Malformed
          c.skip(cnt * ScalarWidth(et)); nArr += 1
        } else { c.skip(ScalarWidth.getOrElse(t, throw Malformed)); nScal += 1 }
        kvBytes += c.pos - start
      } catch { case Malformed => ok = false; c.pos = start }
      i += 1
    }
    if (!ok) return GgufMeta(0, version, (nStr + nScal + nArr),
      nStr, nScal, nArr, kvBytes, 0, 0L, c.pos, n - c.pos)
    var params = 0L
    var t = 0L
    while (ok && t < nTensors) {
      val start = c.pos
      try {
        str()
        val nd = c.le32()
        if (nd < 0 || nd > 8 || nd * 8 + 12 > c.remaining) throw Malformed
        var p = 1L
        var d = 0
        while (d < nd) { p *= c.le64(); d += 1 }
        c.skip(12) // ggml type + offset
        params += p
      } catch { case Malformed => ok = false; c.pos = start }
      t += 1
    }
    if (!ok) GgufMeta(0, version, (nStr + nScal + nArr), nStr, nScal,
      nArr, kvBytes, t.toInt - 1, params, c.pos, n - c.pos)
    else GgufMeta(1, version, (nStr + nScal + nArr), nStr, nScal, nArr,
      kvBytes, nTensors.toInt, params, c.pos, n - c.pos)
  }

  def ggufFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid", "version", "n_kv", "n_kv_string",
      "n_kv_scalar", "n_kv_array", "kv_bytes", "n_tensors", "param_count",
      "header_bytes", "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.valid.toLong, m.version.toLong, m.nKv.toLong,
        m.nKvString.toLong, m.nKvScalar.toLong, m.nKvArray.toLong,
        m.kvBytes, m.nTensors.toLong, m.paramCount, m.headerBytes,
        m.trailingBytes)
    }
}
