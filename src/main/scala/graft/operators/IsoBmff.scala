package graft.operators

import org.apache.spark.sql.DataFrame

/** ISO-BMFF (MP4/MOV/M4A) box walker — container triage for the
  * format that carries most of the world's video/audio, completing
  * the header-walk family (q314/q315 audio frames, q318 Annex-B):
  * an ISO file is a tree of boxes `[u32 size][4cc type][payload]`
  * (size includes the 8-byte header; size==1 ⇒ 64-bit largesize
  * follows; size==0 ⇒ box runs to EOF). The structural facts a corpus
  * triages on — brand, movie timescale/duration, track count, sample
  * mass vs metadata mass — live entirely in box headers and the tiny
  * fixed-layout `mvhd`, with no codec work at all.
  *
  * Walk: top-level boxes in order; recurse into the known container
  * set {moov, trak, mdia, minf, stbl, edts, udta}; read `ftyp`'s
  * major brand and version-0 `mvhd`'s timescale/duration. A size
  * field that is malformed (smaller than its header, overrunning its
  * parent) stops the walk — remainder reported as trailing, never
  * guessed at.
  */
object IsoBmff {

  val Containers: Set[String] = Set("moov", "trak", "mdia", "minf", "stbl", "edts", "udta")

  /** Recursion cap for container nesting. Real MP4 trees are ≤ ~6
    * deep (moov/trak/mdia/minf/stbl); 64 is far above any legitimate
    * file, and a crafted file of nested container headers must halt
    * (remainder → trailing) instead of overflowing the stack.
    */
  val MaxDepth: Int = 64

  final case class BmffMeta(
      brand: String,      // ftyp major brand ("" if absent)
      nBoxes: Int,        // all boxes, containers and leaves, any depth
      nTracks: Int,       // tkhd count
      timescale: Long,    // mvhd v0 (0 if absent)
      duration: Long,     // mvhd v0 units
      durationMs: Long,   // duration·1000 / timescale, truncating
      mdatBytes: Long,    // Σ mdat payload bytes
      maxDepth: Int,
      trailingBytes: Long)

  /** Deterministic skeleton: ftyp(brand) + moov[mvhd + trak[tkhd]·n]
    * + mdat(filler). Real box layout, closed-form plan.
    */
  def encodeSynthetic(brand: String, timescale: Int, duration: Int,
                      nTracks: Int, mdatLen: Int): Array[Byte] = {
    def box(tp: String, payload: Array[Byte]): Array[Byte] =
      new ByteSink(8 + payload.length).be32(payload.length + 8).ascii(tp).raw(payload).toByteArray
    val ftyp = box("ftyp", new ByteSink(12).ascii(brand).be32(0).ascii("isom").toByteArray)
    // mvhd version 0: ver/flags, ctime, mtime, timescale, duration, then
    // the fixed 80-byte remainder (rate, volume, matrix, next_track_id)
    val mvhd = box("mvhd", new ByteSink(100).be32(0).be32(1000).be32(2000)
      .be32(timescale).be32(duration).raw(new Array[Byte](80)).toByteArray)
    val traks = (0 until nTracks).map { t =>
      val tkhd = box("tkhd", new ByteSink(84).be32(0).be32(1000).be32(2000)
        .be32(t + 1).raw(new Array[Byte](68)).toByteArray)
      box("trak", tkhd)
    }
    val moov = box("moov", mvhd ++ traks.flatten.toArray)
    val mdat = box("mdat", Array.tabulate(mdatLen)(i => ((i * 17 + 3) % 251).toByte))
    ftyp ++ moov ++ mdat
  }

  def parse(bytes: Array[Byte]): BmffMeta = {
    var brand = ""; var nBoxes = 0; var nTracks = 0
    var timescale = 0L; var duration = 0L; var mdatBytes = 0L; var maxDepth = 0
    var halted = false
    var haltPos = bytes.length.toLong
    // returns the position reached inside [start, end); sets halted on malformed size
    def walk(start: Long, end: Long, depth: Int): Long = {
      if (depth >= MaxDepth) { halted = true; haltPos = start; return start }
      var pos = start
      while (!halted && pos + 8 <= end) {
        val size0 = Bytes.be32u(bytes, pos.toInt)
        val tp = new String(bytes, pos.toInt + 4, 4, "US-ASCII")
        var hdr = 8L
        var size = size0
        if (size0 == 1 && pos + 16 <= end) { size = Bytes.be64(bytes, pos.toInt + 8); hdr = 16L }
        else if (size0 == 0) size = end - pos // to end of enclosing space
        // overflow-proof: `pos + size` wraps for a 64-bit attacker
        // largesize near Long.MaxValue; compare against the remaining
        // space instead (size ≥ hdr > 0 and end − pos ≥ 8 here, so
        // `size > end - pos` cannot wrap). House rule from the
        // TFRecord/SafeTensors/GGUF walkers.
        if (size < hdr || size > end - pos) { halted = true; haltPos = pos }
        else {
          nBoxes += 1
          if (depth + 1 > maxDepth) maxDepth = depth + 1
          val payload = pos + hdr
          val payloadLen = size - hdr
          tp match {
            case "ftyp" if payloadLen >= 4 && brand.isEmpty =>
              brand = new String(bytes, payload.toInt, 4, "US-ASCII")
            case "tkhd" => nTracks += 1
            case "mvhd" if payloadLen >= 20 && bytes(payload.toInt) == 0 =>
              timescale = Bytes.be32u(bytes, payload.toInt + 12)
              duration = Bytes.be32u(bytes, payload.toInt + 16)
            case "mdat" => mdatBytes += payloadLen
            case t if Containers(t) => walk(payload, pos + size, depth + 1)
            case _ => ()
          }
          pos += size
        }
      }
      if (!halted && pos != end && pos + 8 > end && pos < end) {
        // top-level slack smaller than a header: trailing
        halted = true; haltPos = pos
      }
      pos
    }
    walk(0L, bytes.length.toLong, 0)
    val durMs = if (timescale == 0) 0L else duration * 1000L / timescale
    BmffMeta(brand, nBoxes, nTracks, timescale, duration, durMs, mdatBytes,
      maxDepth, if (halted) bytes.length - haltPos else 0L)
  }

  def bmffFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "brand", "n_boxes", "n_tracks", "timescale",
      "duration", "duration_ms", "mdat_bytes", "max_depth",
      "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.brand, m.nBoxes.toLong, m.nTracks.toLong, m.timescale,
        m.duration, m.durationMs, m.mdatBytes, m.maxDepth.toLong,
        m.trailingBytes)
    }
}
