package graft.operators

import org.apache.spark.sql.DataFrame

/** AV1 OBU walk + sequence-header DECODE — the q403 (H.264 SPS)
  * pattern applied to the other dominant web codec: an AV1 stream is
  * a sequence of OBUs (`obu_header` = forbidden bit, 4-bit type,
  * extension flag, has-size flag; LEB128 size), and the
  * SEQUENCE_HEADER OBU is entropy-free — plain fixed-width reads plus
  * uvlc — so a bit-level parse recovers the fields a transcoding
  * fleet triages on: profile, level/tier, max dimensions, bit depth,
  * monochrome, superblock size (AV1 spec §5.3/§5.5; bits read MSB
  * first, unlike nothing — same order as H.264's u(n)).
  *
  * Carried in the IVF container (`DKIF` magic, fourcc AV01, 12-byte
  * per-frame headers) the way test corpora ship AV1; the walker reads
  * the IVF layer, then every frame's OBU stream, and decodes the
  * FIRST sequence header it meets.
  *
  * Honest boundaries: a size-less OBU (`has_size_field` = 0) is legal
  * AV1 only as the LAST OBU of a frame payload — anywhere else the
  * walk cannot find the next OBU and the frame is malformed, never
  * guessed; a truncated sequence header is malformed (`seq_ok` 0);
  * the dimensions of a stream whose first sequence header sits in a
  * LATER frame still resolve (the walk is per-frame, state carries).
  * Fail-closed contract: LEB128 capped at 8 bytes, every size in
  * subtraction form, bit reads past the OBU end throw to the malformed
  * path.
  */
object Av1Obu {

  /** §4.10.3 uvlc(): leading zeros k, marker 1, k literal bits. */
  private def uvlc(r: BitCursor): Long = {
    var k = 0
    while (r.bits(1) == 0) { k += 1; if (k > 31) throw Malformed }
    if (k == 0) 0L else (1L << k) - 1 + r.bits(k)
  }

  /** The decoded sequence-header facets (zeroed unless ok = 1). */
  final case class SeqHdr(ok: Int, profile: Int, level: Int, tier: Int,
      width: Long, height: Long, bitDepth: Int, mono: Int,
      superblock128: Int, stillPicture: Int, reduced: Int)

  private val NoSeq = SeqHdr(0, 0, 0, 0, 0L, 0L, 0, 0, 0, 0, 0)

  /** Decode one sequence_header_obu payload (§5.5). */
  def parseSeqHdr(bytes: Array[Byte], off: Int, end: Int): SeqHdr = {
    try {
      val r = new BitCursor(bytes, off, end)
      val profile = r.bits(3).toInt
      if (profile > 2) throw Malformed
      val still = r.bits(1).toInt
      val reduced = r.bits(1).toInt
      var level = 0
      var tier = 0
      var decoderModel = false
      var bufferDelayBits = 0
      if (reduced == 1) {
        level = r.bits(5).toInt
      } else {
        if (r.bits(1) == 1) { // timing_info_present
          r.bits(32); r.bits(32) // num_units_in_display_tick, time_scale
          if (r.bits(1) == 1) uvlc(r) // equal_picture_interval → ticks
          if (r.bits(1) == 1) { // decoder_model_info_present
            decoderModel = true
            bufferDelayBits = r.bits(5).toInt + 1
            r.bits(32); r.bits(5); r.bits(5)
          }
        }
        val initialDisplay = r.bits(1) == 1
        val nOps = r.bits(5).toInt + 1
        var op = 0
        while (op < nOps) {
          r.bits(12) // operating_point_idc
          val lv = r.bits(5).toInt
          val tr = if (lv > 7) r.bits(1).toInt else 0
          if (op == 0) { level = lv; tier = tr }
          if (decoderModel && r.bits(1) == 1) {
            r.bits(bufferDelayBits); r.bits(bufferDelayBits); r.bits(1)
          }
          if (initialDisplay && r.bits(1) == 1) r.bits(4)
          op += 1
        }
      }
      val wBits = r.bits(4).toInt + 1
      val hBits = r.bits(4).toInt + 1
      val width = r.bits(wBits) + 1
      val height = r.bits(hBits) + 1
      if (reduced == 0 && r.bits(1) == 1) { // frame_id_numbers_present
        r.bits(4); r.bits(3)
      }
      val sb128 = r.bits(1).toInt
      r.bits(1); r.bits(1) // enable_filter_intra, enable_intra_edge_filter
      if (reduced == 0) {
        r.bits(1); r.bits(1); r.bits(1); r.bits(1) // interintra/masked/warped/dual
        val orderHint = r.bits(1) == 1
        if (orderHint) { r.bits(1); r.bits(1) } // jnt_comp, ref_frame_mvs
        val forceSct = if (r.bits(1) == 1) 2L else r.bits(1) // choose / force
        if (forceSct > 0) { if (r.bits(1) == 0) r.bits(1) } // integer_mv
        if (orderHint) r.bits(3)
      }
      r.bits(1); r.bits(1); r.bits(1) // superres, cdef, restoration
      // color_config (§5.5.2)
      val high = r.bits(1).toInt
      val bitDepth =
        if (profile == 2 && high == 1) { if (r.bits(1) == 1) 12 else 10 }
        else if (high == 1) 10 else 8
      val mono = if (profile == 1) 0 else r.bits(1).toInt
      val matrixIdentity =
        if (r.bits(1) == 1) { r.bits(8); r.bits(8); r.bits(8) == 0L } else false
      if (mono == 1) r.bits(1) // color_range, subsampling implied
      else if (matrixIdentity) () // RGB: range/subsampling implied
      else {
        r.bits(1) // color_range
        val (sx, sy) = profile match {
          case 0 => (1L, 1L)
          case 1 => (0L, 0L)
          case _ =>
            if (bitDepth == 12) { val x = r.bits(1); (x, if (x == 1) r.bits(1) else 0L) }
            else (1L, 0L)
        }
        if (sx == 1 && sy == 1) r.bits(2) // chroma_sample_position
      }
      if (mono == 0) r.bits(1) // separate_uv_delta_q
      r.bits(1) // film_grain_params_present
      SeqHdr(1, profile, level, tier, width, height, bitDepth, mono,
        sb128, still, reduced)
    } catch {
      case Malformed => NoSeq
      case _: ArrayIndexOutOfBoundsException => NoSeq
    }
  }

  /** LEB128 (§4.10.5): ≤ 8 bytes, value + bytes consumed. */
  private def leb128(b: Array[Byte], off: Int, end: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      if (off + i >= end) throw Malformed
      val x = b(off + i) & 0xff
      v |= (x & 0x7fL) << (7 * i)
      if ((x & 0x80) == 0) return (v, i + 1)
      i += 1
    }
    throw Malformed
  }

  /** One OBU stream census over [off, end): counts by type, first
    * sequence header decoded. Returns None = malformed walk.
    */
  final case class ObuMeta(nObus: Int, nTd: Int, nSeq: Int, nFrames: Int,
      nMeta: Int, seq: SeqHdr)

  def walkObus(bytes: Array[Byte], off: Int, end: Int,
               prior: SeqHdr = NoSeq): Option[ObuMeta] = {
    try {
      var p = off
      var nObus = 0; var nTd = 0; var nSeq = 0; var nFrames = 0; var nMeta = 0
      var seq = prior
      while (p < end) {
        val h = bytes(p) & 0xff
        if ((h & 0x80) != 0 || (h & 1) != 0) throw Malformed // forbidden/reserved
        val tpe = (h >> 3) & 0xF
        val hasExt = (h & 4) != 0
        val hasSize = (h & 2) != 0
        p += 1
        if (hasExt) { if (p >= end) throw Malformed; p += 1 }
        val payloadEnd =
          if (hasSize) {
            val (sz, used) = leb128(bytes, p, end)
            p += used
            if (sz > end - p) throw Malformed
            (p + sz).toInt
          } else end // size-less: legal only as the LAST OBU
        nObus += 1
        tpe match {
          case 1 =>
            nSeq += 1
            if (seq.ok == 0) seq = parseSeqHdr(bytes, p, payloadEnd)
          case 2 => nTd += 1
          case 3 | 4 | 6 => nFrames += 1
          case 5 => nMeta += 1
          case _ => ()
        }
        p = payloadEnd
      }
      Some(ObuMeta(nObus, nTd, nSeq, nFrames, nMeta, seq))
    } catch {
      case Malformed => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  /** IVF + OBU census: one row of facets per (id, payload). An
    * invalid IVF layer zeroes everything (`ivf_ok` 0); a malformed
    * frame's OBUs stop the walk at that frame (frames BEFORE it
    * count — the walked prefix is evidence, the rest is not).
    */
  final case class IvfMeta(ivfOk: Int, nFramesHdr: Long, nFramesWalked: Int,
      nObus: Int, nSeq: Int, nFrameObus: Int, malformedFrame: Int,
      seq: SeqHdr)

  private val NoIvf = IvfMeta(0, 0L, 0, 0, 0, 0, 0, NoSeq)

  def parseIvf(bytes: Array[Byte]): IvfMeta = {
    val n = bytes.length
    if (n < 32 || bytes(0) != 'D' || bytes(1) != 'K' || bytes(2) != 'I' ||
      bytes(3) != 'F') return NoIvf
    val hdrSize = Bytes.le16(bytes, 6)
    if (hdrSize < 32 || hdrSize > n) return NoIvf
    if (!(bytes(8) == 'A' && bytes(9) == 'V' && bytes(10) == '0' &&
      bytes(11) == '1')) return NoIvf
    val nFramesHdr = Bytes.le32u(bytes, 24)
    var p = hdrSize
    var walked = 0; var nObus = 0; var nSeq = 0; var nFrameObus = 0
    var seq = NoSeq
    var malformed = 0
    var halted = false
    while (!halted && p < n) {
      if (n - p < 12) { malformed = 1; halted = true }
      else {
        val sz = Bytes.le32u(bytes, p)
        p += 12
        if (sz > n - p) { malformed = 1; halted = true }
        else walkObus(bytes, p, (p + sz).toInt, seq) match {
          case Some(m) =>
            walked += 1
            nObus += m.nObus; nSeq += m.nSeq; nFrameObus += m.nFrames
            seq = m.seq
            p += sz.toInt
          case None =>
            malformed = 1; halted = true
        }
      }
    }
    IvfMeta(1, nFramesHdr, walked, nObus, nSeq, nFrameObus, malformed, seq)
  }

  def av1Features(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "ivf_ok", "n_frames_hdr", "n_frames_walked",
      "n_obus", "n_seq_hdrs", "n_frame_obus", "malformed_frame", "seq_ok", "profile",
      "level", "tier", "width", "height", "bit_depth", "mono", "superblock128",
      "still_picture", "reduced") { (id, bytes) =>
      val m = parseIvf(bytes)
      (id, m.ivfOk.toLong, m.nFramesHdr, m.nFramesWalked.toLong,
        m.nObus.toLong, m.nSeq.toLong, m.nFrameObus.toLong,
        m.malformedFrame.toLong, m.seq.ok.toLong, m.seq.profile.toLong,
        m.seq.level.toLong, m.seq.tier.toLong, m.seq.width, m.seq.height,
        m.seq.bitDepth.toLong, m.seq.mono.toLong,
        m.seq.superblock128.toLong, m.seq.stillPicture.toLong,
        m.seq.reduced.toLong)
    }

  // ------------------------------------------------------------------
  // encoders (fixtures + the closed-form oracle)

  /** Encode a sequence header (the subset of knobs the census reads;
    * full-header path with no timing info, one operating point).
    */
  def encodeSeqHdr(profile: Int, level: Int, tier: Int, width: Long,
      height: Long, bitDepth: Int, mono: Boolean, sb128: Boolean,
      still: Boolean, reduced: Boolean): Array[Byte] = {
    val w = new BitSink
    w.bits(profile.toLong, 3)
    w.bits(if (still) 1 else 0, 1)
    w.bits(if (reduced) 1 else 0, 1)
    if (reduced) w.bits(level.toLong, 5)
    else {
      w.bits(0, 1) // no timing info
      w.bits(0, 1) // no initial display delay
      w.bits(0, 5) // one operating point
      w.bits(0, 12)
      w.bits(level.toLong, 5)
      if (level > 7) w.bits(tier.toLong, 1)
    }
    def bits(v: Long): Int = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(v - 1))
    val wb = bits(width); val hb = bits(height)
    w.bits(wb.toLong - 1, 4).bits(hb.toLong - 1, 4)
    w.bits(width - 1, wb).bits(height - 1, hb)
    if (!reduced) w.bits(0, 1) // no frame ids
    w.bits(if (sb128) 1 else 0, 1)
    w.bits(0, 1).bits(0, 1) // filter_intra, intra_edge_filter
    if (!reduced) {
      w.bits(0, 4) // interintra/masked/warped/dual
      w.bits(0, 1) // enable_order_hint
      w.bits(1, 1) // seq_choose_screen_content_tools = 1 → force = 2
      w.bits(1, 1) // seq_choose_integer_mv
    }
    w.bits(0, 3) // superres, cdef, restoration
    // color_config
    val high = if (bitDepth >= 10) 1 else 0
    w.bits(high.toLong, 1)
    if (profile == 2 && high == 1) w.bits(if (bitDepth == 12) 1 else 0, 1)
    if (profile != 1) w.bits(if (mono) 1 else 0, 1)
    w.bits(0, 1) // no color description
    if (mono) w.bits(0, 1) // color_range
    else {
      w.bits(0, 1) // color_range
      if (profile == 0) w.bits(0, 2) // chroma_sample_position (4:2:0)
      else if (profile == 2 && bitDepth == 12) w.bits(0, 1) // subsampling_x = 0
      // profile 1: 4:4:4, nothing to read
    }
    if (!mono) w.bits(0, 1) // separate_uv_delta_q
    w.bits(0, 1) // film_grain
    w.toByteArray
  }

  /** One OBU: header (+ extension) + LEB128 size + payload. */
  def encodeObu(tpe: Int, payload: Array[Byte], withExt: Boolean = false,
                withSize: Boolean = true): Array[Byte] = {
    val out = new ByteSink()
    out.u8(((tpe & 0xF) << 3) | (if (withExt) 4 else 0) | (if (withSize) 2 else 0))
    if (withExt) out.u8(0x28) // temporal 1, spatial 1
    if (withSize) out.varint(payload.length.toLong)
    out.write(payload)
    out.toByteArray
  }

  /** IVF file: 32-byte DKIF/AV01 header + (size, pts, payload) frames. */
  def encodeIvf(width: Int, height: Int,
                frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteSink()
    out.ascii("DKIF").le16(0).le16(32).ascii("AV01")
    out.le16(width).le16(height)
    out.le32(30L).le32(1L) // timebase
    out.le32(frames.size.toLong).le32(0L)
    frames.zipWithIndex.foreach { case (f, i) =>
      out.le32(f.length.toLong)
      out.le32(i.toLong).le32(0L) // 8-byte pts
      out.raw(f)
    }
    out.toByteArray
  }
}
