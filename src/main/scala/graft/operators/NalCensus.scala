package graft.operators

import org.apache.spark.sql.DataFrame

/** H.264/AVC Annex-B NAL-unit census — video triage without entropy
  * decode, the video member of the header-walk family ([[MpegAudio]]
  * audio, q314/q315): an Annex-B elementary stream is a sequence of
  * start codes (`00 00 01` or `00 00 00 01`) each followed by one NAL
  * unit whose first byte is a fixed header (forbidden-zero bit,
  * 2-bit nal_ref_idc, 5-bit nal_unit_type). Walking start codes gives
  * the structural census a 100 TB video corpus triages on — parameter
  * sets present? how many IDR random-access points? slice/SEI mix?
  * mean NAL size — all without touching CABAC/CAVLC payload bits
  * (the honest [[MultimodalStub]] boundary).
  *
  * Contract: a stream must BEGIN with a start code (leading garbage ⇒
  * everything is trailing); a NAL with the forbidden bit set stops
  * the walk at its start code (stop-don't-guess); NAL payloads end at
  * the next start code or EOF. Payload bytes are never interpreted —
  * real encoders emulation-prevent `00 00 01` inside payloads, so
  * start-code scanning IS the framing.
  */
object NalCensus {

  final case class NalMeta(
      nNals: Int,
      nIdr: Int,       // type 5
      nSlice: Int,     // type 1 (non-IDR slice)
      nSps: Int,       // type 7
      nPps: Int,       // type 8
      nSei: Int,       // type 6
      nOther: Int,
      n4ByteStarts: Int,
      sumNalBytes: Long, // NAL unit bytes (headers + payloads, excl. start codes)
      trailingBytes: Int)

  /** Deterministic Annex-B stream: per (type, payloadLen, long start
    * code) plan; payload filler bytes are non-zero so no accidental
    * start codes arise (the emulation-prevention property, by
    * construction).
    */
  def encodeSynthetic(plan: Seq[(Int, Int, Boolean)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    plan.zipWithIndex.foreach { case ((nalType, payloadLen, long4), j) =>
      if (long4) bos.write(0)
      bos.write(0); bos.write(0); bos.write(1)
      bos.write((3 << 5) | (nalType & 0x1f)) // ref_idc 3, forbidden 0
      var i = 0
      while (i < payloadLen) { bos.write((i * 7 + j * 3) % 255 + 1); i += 1 }
    }
    bos.toByteArray
  }

  /** The Annex-B walk shared by [[parse]] and [[spsFeatures]]:
    * `visit(nalStart, nalEnd, startCodeLen)` per NAL unit, where a NAL
    * ends at the next 3- or 4-byte start code or EOF. Stops at a byte
    * that is not a start code, or a NAL whose forbidden bit is set or
    * that is empty at EOF; returns the stop position.
    */
  private def walkNals(bytes: Array[Byte])(visit: (Int, Int, Int) => Unit): Int = {
    val n = bytes.length
    def sc3(i: Int): Boolean = n - i >= 3 && bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 1
    def sc4(i: Int): Boolean = n - i >= 4 && bytes(i) == 0 && sc3(i + 1)
    var pos = 0
    while (pos < n) {
      val sc = if (sc3(pos)) 3 else if (sc4(pos)) 4 else 0
      val nalStart = pos + sc
      if (sc == 0 || nalStart >= n || (bytes(nalStart) & 0x80) != 0) return pos
      // find next start code (or EOF) — scan for 00 00 01 / 00 00 00 01
      var e = nalStart
      while (e + 3 <= n && !sc3(e) && !sc4(e)) e += 1
      val nalEnd = if (e + 3 <= n) e else n
      visit(nalStart, nalEnd, sc)
      pos = nalEnd
    }
    pos
  }

  def parse(bytes: Array[Byte]): NalMeta = {
    var nNals = 0; var nIdr = 0; var nSlice = 0; var nSps = 0; var nPps = 0
    var nSei = 0; var nOther = 0; var n4 = 0; var sumBytes = 0L
    val pos = walkNals(bytes) { (nalStart, nalEnd, sc) =>
      nNals += 1
      sumBytes += nalEnd - nalStart
      if (sc == 4) n4 += 1
      bytes(nalStart) & 0x1f match {
        case 5 => nIdr += 1
        case 1 => nSlice += 1
        case 7 => nSps += 1
        case 8 => nPps += 1
        case 6 => nSei += 1
        case _ => nOther += 1
      }
    }
    NalMeta(nNals, nIdr, nSlice, nSps, nPps, nSei, nOther, n4, sumBytes,
      bytes.length - pos)
  }

  // ------------------------------------------------------------------
  // SPS/PPS parameter-set parse (r13 verdict stretch item 8): the one
  // layer of H.264 that is PLAIN Exp-Golomb bit fields, no CABAC/CAVLC
  // — parsing it recovers dimensions/profile/level/chroma from the
  // q318 structural census's parameter sets, closing the "video dims"
  // triage gap without touching entropy-coded slice data (which stays
  // the honest MultimodalStub boundary).

  /** Exp-Golomb unsigned: N zeros, 1, N info bits. 30 zeros is the
    * widest value that still fits a non-negative Int ((1<<30)-1 +
    * u(30) < 2^31); at 31, (1<<31)-1 + u(31) wraps negative instead of
    * failing — fail closed like every other overrun, so an adversarial
    * SPS can't smuggle negative-derived fields past downstream guards.
    */
  private def ue(r: BitCursor): Int = {
    var zeros = 0
    while (r.bits(1) == 0) { zeros += 1; if (zeros > 30) throw Malformed }
    if (zeros == 0) 0 else ((1 << zeros) - 1) + r.bits(zeros).toInt
  }
  /** Exp-Golomb signed mapping: 1, -1, 2, -2, … */
  private def se(r: BitCursor): Int = {
    val k = ue(r)
    if (k % 2 == 1) (k + 1) / 2 else -(k / 2)
  }

  /** Strip emulation-prevention bytes: inside a NAL payload the
    * encoder writes `00 00 03` for any raw `00 00 0x` (x ≤ 3); the 03
    * is NOT RBSP content and must go before bit parsing.
    */
  def rbspUnescape(b: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(until - from)
    var i = from
    var zeros = 0
    while (i < until) {
      val v = b(i) & 0xff
      if (zeros >= 2 && v == 3) zeros = 0 // emulation-prevention byte: drop
      else {
        out.write(v)
        zeros = if (v == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  /** Profiles whose SPS carries the chroma/bit-depth extension block
    * (ITU-T H.264 §7.3.2.1.1).
    */
  private val HighProfiles =
    Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)

  final case class SpsMeta(ok: Int, gated: Int, profile: Int, level: Int,
                           chroma: Int, bitDepth: Int, width: Int,
                           height: Int, frameMbsOnly: Int)

  private val SpsFail = SpsMeta(0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Parse one SPS RBSP. Honest boundaries kept separate: a bitstream
    * that runs out or overflows is malformed (`ok` 0, `gated` 0); a
    * seq_scaling_matrix (a valid-but-undecoded extension this parser
    * declines) reports `gated` 1 — never guessed past. Dimensions
    * apply the spec's crop-unit arithmetic (Table 6-1 SubWidthC/
    * SubHeightC; field coding doubles the vertical unit).
    */
  def parseSps(rbsp: Array[Byte]): SpsMeta = try {
    val r = new BitCursor(rbsp)
    val profile = r.bits(8).toInt
    r.bits(8).toInt // constraint flags + reserved
    val level = r.bits(8).toInt
    ue(r) // seq_parameter_set_id
    var chroma = 1 // inferred 4:2:0 when the extension block is absent
    var bd = 8
    if (HighProfiles(profile)) {
      chroma = ue(r)
      if (chroma > 3) throw Malformed
      if (chroma == 3) r.bits(1).toInt // separate_colour_plane_flag
      bd = 8 + ue(r)
      ue(r) // bit_depth_chroma_minus8
      r.bits(1).toInt // qpprime_y_zero_transform_bypass_flag
      if (r.bits(1).toInt == 1) return SpsFail.copy(gated = 1) // scaling matrices
    }
    ue(r) // log2_max_frame_num_minus4
    val poc = ue(r)
    if (poc == 0) ue(r)
    else if (poc == 1) {
      r.bits(1).toInt; se(r); se(r)
      val n = ue(r)
      if (n > 255) throw Malformed
      var i = 0
      while (i < n) { se(r); i += 1 }
    } else if (poc > 2) throw Malformed
    ue(r) // max_num_ref_frames
    r.bits(1).toInt // gaps_in_frame_num_value_allowed_flag
    val pw = ue(r)
    val ph = ue(r)
    val fmo = r.bits(1).toInt
    if (fmo == 0) r.bits(1).toInt // mb_adaptive_frame_field_flag
    r.bits(1).toInt // direct_8x8_inference_flag
    val (cl, cr, ct, cb) =
      if (r.bits(1).toInt == 1) (ue(r), ue(r), ue(r), ue(r)) else (0, 0, 0, 0)
    val (subW, subH) = chroma match {
      case 1 => (2, 2)
      case 2 => (2, 1)
      case _ => (1, 1)
    }
    val cux = if (chroma == 0 || chroma == 3) 1 else subW
    val cuy = (if (chroma == 0 || chroma == 3) 1 else subH) * (2 - fmo)
    val width = (pw + 1) * 16 - cux * (cl + cr)
    val height = (2 - fmo) * (ph + 1) * 16 - cuy * (ct + cb)
    if (width <= 0 || height <= 0) throw Malformed
    SpsMeta(1, 0, profile, level, chroma, bd, width, height, fmo)
  } catch { case Malformed => SpsFail }

  /** Parse one PPS RBSP for the entropy-coding mode (CAVLC/CABAC) —
    * the bit a transcoding fleet budgets decoder cost on.
    */
  def parsePps(rbsp: Array[Byte]): (Int, Int) = try {
    val r = new BitCursor(rbsp)
    ue(r) // pic_parameter_set_id
    ue(r) // seq_parameter_set_id
    (1, r.bits(1).toInt) // (ok, entropy_coding_mode_flag)
  } catch { case Malformed => (0, 0) }

  // ---------------------------------------------------- synthetic SPS

  /** MSB-first bit writer with RBSP trailing bits and emulation
    * prevention on byte-out — the inverse of the parse path, so specs
    * can round-trip values that force `00 00` runs.
    */
  private final class BitWriter {
    private val bits = new BitSink
    def u(v: Int, n: Int): Unit = bits.bits(v.toLong, n)
    def ue(v: Int): Unit = {
      val x = v + 1
      val len = 32 - Integer.numberOfLeadingZeros(x)
      u(0, len - 1); u(x, len)
    }
    def se(v: Int): Unit = ue(if (v > 0) 2 * v - 1 else -2 * v)
    def rbsp(): Array[Byte] = {
      u(1, 1) // rbsp_stop_one_bit, then zero bits to the byte boundary
      val raw = bits.toByteArray
      // emulation prevention: 00 00 followed by 00/01/02/03 gains a 03
      val out = new ByteSink(raw.length)
      var zeros = 0
      raw.foreach { b =>
        val v = b & 0xff
        if (zeros >= 2 && v <= 3) { out.write(3); zeros = 0 }
        out.write(v)
        zeros = if (v == 0) zeros + 1 else 0
      }
      out.toByteArray
    }
  }

  /** Deterministic SPS RBSP (q403's oracle schedule). `scalingGate`
    * plants the declined extension; crop is (left, right, top,
    * bottom) in crop units.
    */
  def encodeSps(profile: Int, level: Int, pwMinus1: Int, phMinus1: Int,
                frameMbsOnly: Boolean,
                crop: Option[(Int, Int, Int, Int)] = None,
                scalingGate: Boolean = false): Array[Byte] = {
    val w = new BitWriter
    w.u(profile, 8); w.u(0, 8); w.u(level, 8)
    w.ue(0) // sps id
    if (HighProfiles(profile)) {
      w.ue(1) // chroma_format_idc 4:2:0
      w.ue(0); w.ue(0) // bit depths 8
      w.u(0, 1) // transform bypass
      w.u(if (scalingGate) 1 else 0, 1)
      if (scalingGate) return w.rbsp() // parser declines here
    }
    w.ue(0) // log2_max_frame_num_minus4
    w.ue(0) // pic_order_cnt_type 0
    w.ue(0) // log2_max_pic_order_cnt_lsb_minus4
    w.ue(3) // max_num_ref_frames
    w.u(0, 1)
    w.ue(pwMinus1); w.ue(phMinus1)
    w.u(if (frameMbsOnly) 1 else 0, 1)
    if (!frameMbsOnly) w.u(0, 1)
    w.u(1, 1) // direct_8x8_inference
    crop match {
      case Some((l, r2, t, b)) =>
        w.u(1, 1); w.ue(l); w.ue(r2); w.ue(t); w.ue(b)
      case None => w.u(0, 1)
    }
    w.u(0, 1) // vui absent
    w.rbsp()
  }

  def encodePps(cabac: Boolean): Array[Byte] = {
    val w = new BitWriter
    w.ue(0); w.ue(0)
    w.u(if (cabac) 1 else 0, 1)
    w.u(0, 1) // bottom_field_pic_order_in_frame_present_flag
    w.rbsp()
  }

  /** Annex-B stream from explicit (nal_type, payload) pairs. */
  def encodeNals(nals: Seq[(Int, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    nals.foreach { case (t, payload) =>
      bos.write(0); bos.write(0); bos.write(1)
      bos.write((3 << 5) | (t & 0x1f))
      bos.write(payload)
    }
    bos.toByteArray
  }

  /** Map-only parameter-set census: first SPS + first PPS per stream,
    * RBSP-unescaped then Exp-Golomb-parsed; streams without parameter
    * sets (or with malformed/declined ones) report zeros with the ok/
    * gated flags naming the class.
    */
  def spsFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_nals", "sps_ok", "sps_gated",
      "profile_idc", "level_idc", "chroma_format", "bit_depth", "width", "height",
      "frame_mbs_only", "pps_ok", "cabac") { (id, bytes) =>
      var sps: Array[Byte] = null
      var pps: Array[Byte] = null
      var nNals = 0L
      walkNals(bytes) { (ns, nalEnd, _) =>
        nNals += 1
        val t = bytes(ns) & 0x1f
        if (t == 7 && sps == null) sps = rbspUnescape(bytes, ns + 1, nalEnd)
        if (t == 8 && pps == null) pps = rbspUnescape(bytes, ns + 1, nalEnd)
      }
      val s = if (sps == null) SpsFail else parseSps(sps)
      val (ppsOk, cabac) = if (pps == null) (0, 0) else parsePps(pps)
      (id, nNals, s.ok.toLong, s.gated.toLong, s.profile.toLong,
        s.level.toLong, s.chroma.toLong, s.bitDepth.toLong,
        s.width.toLong, s.height.toLong, s.frameMbsOnly.toLong,
        ppsOk.toLong, cabac.toLong)
    }

  def nalFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_nals", "n_idr", "n_slice", "n_sps",
      "n_pps", "n_sei", "n_other", "n_4byte_starts", "sum_nal_bytes",
      "trailing_bytes") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.nNals.toLong, m.nIdr.toLong, m.nSlice.toLong, m.nSps.toLong,
        m.nPps.toLong, m.nSei.toLong, m.nOther.toLong, m.n4ByteStarts.toLong,
        m.sumNalBytes, m.trailingBytes.toLong)
    }
}
