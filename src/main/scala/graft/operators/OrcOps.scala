package graft.operators

import TfRecordOps.{lenDelimited, pbLen, pbTag, skipValue}

import org.apache.spark.sql.DataFrame

/** ORC tail census — the third member of the columnar-lake trio
  * (parquet q377, Avro OCF q378): Hive-era warehouses and plenty of
  * live Spark lakes still ship ORC, and its tail is triaged the same
  * way — postscript first, footer second, never a data stripe.
  *
  * Layout (Apache ORC spec v1): the file STARTS with the 3-byte magic
  * "ORC" and ENDS with `[footer][postscript][1-byte postscript
  * length]`. The postscript is ALWAYS uncompressed protobuf
  * (PostScript: 1 footerLength, 2 compression enum, 3 compression
  * BlockSize, 5 metadataLength, 6 writerVersion, 8000 magic "ORC"),
  * which is what makes the census possible before knowing the codec.
  * The footer (Footer: 2 contentLength, 3 repeated StripeInformation
  * {5 numberOfRows}, 4 repeated Type, 6 numberOfRows) is raw protobuf
  * ONLY when compression = NONE; under ZLIB/SNAPPY/ZSTD it sits
  * behind compression chunks — the honest stub boundary (q366
  * discipline): the census reports the postscript layer (codec,
  * declared lengths) and sets `footer_parsed = 0` rather than
  * guessing at compressed bytes.
  *
  * The postscript and footer are walked once, by [[tail]], for this
  * census, [[stripeStatsCensus]] and [[OrcData]]'s column decoders;
  * each applies its own acceptance rule to the [[Tail]] it returns.
  *
  * Shares the protobuf wire machinery with the tf.Example census
  * (TfRecordOps.lenDelimited/skipValue over a ByteCursor): varint tags, structural skip of every
  * untargeted field — real writer footers carry statistics and
  * encodings this walker never pattern-matches. Stop-don't-guess:
  * missing magics, a postscript length outside the buffer, a declared
  * footer length overrunning the tail (subtraction form), or a wire
  * violation zero the census whole.
  */
object OrcOps {

  final case class OrcMeta(
      valid: Int,          // postscript layer parsed (+ footer when NONE)
      psLen: Int,          // postscript byte length
      compression: String, // none/zlib/snappy/lzo/lz4/zstd/other
      footerLen: Long,     // declared footer length
      metadataLen: Long,
      writerVersion: Long,
      footerParsed: Int,   // 1 iff compression = NONE and the footer walked
      nStripes: Int,
      numRows: Long,       // Footer.numberOfRows
      stripeRows: Long,    // Σ StripeInformation.numberOfRows
      nTypes: Int,
      contentLength: Long,
      dataBytes: Long,     // bytes between the head magic and the tail
      // ---- stripe-list + column-statistics descent (r11 verdict item 6;
      // same depth parquet's q377/q380 footer walk reaches)
      stripeIndexBytes: Long,  // Σ StripeInformation.indexLength
      stripeDataBytes: Long,   // Σ StripeInformation.dataLength
      stripeFooterBytes: Long, // Σ StripeInformation.footerLength
      stripeRowsMin: Long,     // min/max rows over stripes (0 when none)
      stripeRowsMax: Long,
      offsetsMonotonic: Int,   // 1 iff stripe offsets strictly increase
      nColStats: Int,          // Footer.statistics entries
      statValues: Long,        // Σ ColumnStatistics.numberOfValues
      nHasNull: Int,           // columns flagged hasNull
      nIntStats: Int,          // columns carrying IntegerStatistics
      intMin: Long,            // min of int minimums (0 when nIntStats = 0)
      intMax: Long)            // max of int maximums (0 when nIntStats = 0)

  private val Invalid = OrcMeta(0, 0, "", 0L, 0L, 0L, 0, 0, 0L, 0L, 0, 0L, 0L,
    0L, 0L, 0L, 0L, 0L, 0, 0, 0L, 0, 0, 0L, 0L)
  private val Kinds = Map(0L -> "none", 1L -> "zlib", 2L -> "snappy",
    3L -> "lzo", 4L -> "lz4", 5L -> "zstd")

  /** The codecs whose compression chunks [[OrcData.deframe]] reads:
    * none, zlib, snappy, zstd.
    */
  private[operators] val Deframed = Set(0L, 1L, 2L, 5L)

  /** One StripeInformation: offset, the index/data/footer lengths and
    * the row count (0 when absent; a repeated field keeps its last
    * value).
    */
  final case class Stripe(offset: Long, indexLength: Long, dataLength: Long,
      footerLength: Long, rows: Long)

  /** Footer.statistics folded over every ColumnStatistics entry, as the
    * tail census counts them: value counts summed, hasNull flags and
    * IntegerStatistics counted, min-of-mins and max-of-maxes
    * (Long.MaxValue / Long.MinValue when there are none).
    */
  final case class StatsFold(nColStats: Int, values: Long, nHasNull: Int,
      nIntStats: Int, intMin: Long, intMax: Long)

  /** The Footer, walked once. `stripeBytes` sums the stripes'
    * (index, data, footer) lengths over every field occurrence and
    * `offsetsMonotonic` holds iff every offset exceeds the one before.
    * `kindsOk`/`statsOk` record a fault inside a Type or a
    * ColumnStatistics message: the column decoders alone read the
    * types and the tail census alone reads the statistics, so a fault
    * there fails only that reader.
    */
  final case class Footer(contentLength: Long, numRows: Long,
      stripes: Vector[Stripe], stripeBytes: (Long, Long, Long),
      offsetsMonotonic: Boolean, kinds: Vector[Long], kindsOk: Boolean,
      stats: StatsFold, statsOk: Boolean)

  /** One ORC tail: the postscript fields (codec -1 when absent), whether
    * the postscript carries the "ORC" magic, and the footer. The footer
    * is read (de-framed first when compressed) only under a
    * [[Deframed]] codec and a positive length that fits; None then
    * means its wire or framing is broken. Each consumer applies its own
    * rule to these facts: the tail census needs the magic and reads
    * only an uncompressed footer, the column decoders skip the magic
    * and read any de-framed one.
    */
  final case class Tail(fileLen: Int, psLen: Int, footerLen: Long, codec: Long,
      metadataLen: Long, writerVersion: Long, magicOk: Boolean,
      footer: Option[Footer]) {
    /** The declared footer fits between the head magic and the postscript. */
    def footerFits: Boolean = footerLen <= fileLen.toLong - 1 - psLen - 3
    def footerStart: Int = fileLen - 1 - psLen - footerLen.toInt
  }

  /** Walk one protobuf message: `onField(field, wire)` reads a value it
    * targets and returns true; every other value is skipped.
    */
  private[operators] def message(c: ByteCursor)(onField: (Int, Int) => Boolean): Unit =
    while (c.hasMore) {
      val t = c.varint()
      val wire = (t & 7).toInt
      if (!onField((t >>> 3).toInt, wire)) skipValue(c, wire)
    }

  /** The one postscript + footer walk. None = no head magic, a
    * postscript length outside the buffer, or a postscript wire fault
    * — every consumer's fail-closed zero.
    */
  def tail(bytes: Array[Byte]): Option[Tail] = {
    val n = bytes.length
    if (n < 8 || !Bytes.tag(bytes, 0, "ORC")) return None
    val psLen = bytes(n - 1) & 0xff
    // postscript must fit after the head magic (subtraction form)
    if (psLen < 1 || psLen > n - 4) return None
    try {
      val ps = new ByteCursor(bytes, n - 1 - psLen, n - 1)
      var footerLen = 0L; var codec = -1L; var metaLen = 0L
      var writerVer = 0L; var magicOk = false
      message(ps) {
        case (1, 0) => footerLen = ps.varint(); true
        case (2, 0) => codec = ps.varint(); true
        case (5, 0) => metaLen = ps.varint(); true
        case (6, 0) => writerVer = ps.varint(); true
        case (8000, 2) =>
          val m = lenDelimited(ps)
          magicOk = m.remaining == 3 && Bytes.tag(bytes, m.pos, "ORC")
          true
        case _ => false
      }
      val t = Tail(n, psLen, footerLen, codec, metaLen, writerVer, magicOk, None)
      if (!Deframed(codec) || footerLen <= 0 || !t.footerFits) Some(t)
      else Some(t.copy(footer = readFooter(bytes, t)))
    } catch {
      case Malformed => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  private def readFooter(bytes: Array[Byte], t: Tail): Option[Footer] =
    try {
      val (from, to) = (t.footerStart, t.fileLen - 1 - t.psLen)
      Some(footerOf(
        if (t.codec == 0L) new ByteCursor(bytes, from, to)
        else new ByteCursor(OrcData.deframe(bytes, from, to, t.codec))))
    } catch {
      case Malformed => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }

  private def footerOf(f: ByteCursor): Footer = {
    var contentLen = 0L; var numRows = 0L
    val stripes = Vector.newBuilder[Stripe]
    var idxBytes = 0L; var dataBytes = 0L; var sfBytes = 0L
    var lastOffset = -1L; var monotonic = true
    val kinds = Vector.newBuilder[Long]; var kindsOk = true
    var nStats = 0; var statVals = 0L; var nNull = 0
    var nInt = 0; var iMin = Long.MaxValue; var iMax = Long.MinValue; var statsOk = true
    message(f) {
      case (2, 0) => contentLen = f.varint(); true
      case (3, 2) => // StripeInformation
        val s = lenDelimited(f)
        var o = 0L; var il = 0L; var dl = 0L; var fl = 0L; var rows = 0L
        message(s) {
          case (1, 0) =>
            o = s.varint()
            if (o <= lastOffset) monotonic = false
            lastOffset = o
            true
          case (2, 0) => il = s.varint(); idxBytes += il; true
          case (3, 0) => dl = s.varint(); dataBytes += dl; true
          case (4, 0) => fl = s.varint(); sfBytes += fl; true
          case (5, 0) => rows = s.varint(); true
          case _ => false
        }
        stripes += Stripe(o, il, dl, fl, rows)
        true
      case (4, 2) => // Type
        val ty = lenDelimited(f)
        var kind = 0L
        try message(ty) {
          case (1, 0) => kind = ty.varint(); true
          case _ => false
        } catch { case Malformed => kindsOk = false }
        kinds += kind
        true
      case (6, 0) => numRows = f.varint(); true
      case (7, 2) => // ColumnStatistics
        nStats += 1
        val c = lenDelimited(f)
        try message(c) {
          case (1, 0) => statVals += c.varint(); true
          case (2, 2) => // IntegerStatistics {1 min, 2 max, 3 sum: sint64}
            nInt += 1
            val i = lenDelimited(c)
            message(i) {
              case (1, 0) => val v = i.zigzag(); if (v < iMin) iMin = v; true
              case (2, 0) => val v = i.zigzag(); if (v > iMax) iMax = v; true
              case _ => false
            }
            true
          case (10, 0) => if (c.varint() != 0L) nNull += 1; true
          case _ => false
        } catch { case Malformed => statsOk = false }
        true
      case _ => false
    }
    Footer(contentLen, numRows, stripes.result(), (idxBytes, dataBytes, sfBytes),
      monotonic, kinds.result(), kindsOk,
      StatsFold(nStats, statVals, nNull, nInt, iMin, iMax), statsOk)
  }

  def parse(bytes: Array[Byte]): OrcMeta = tail(bytes).fold(Invalid)(census)

  /** The tail census's rule: the postscript magic and a fitting footer
    * length are required; only an uncompressed footer is read, and a
    * compressed file reports its postscript layer alone.
    */
  private def census(t: Tail): OrcMeta = {
    if (!t.magicOk || t.codec < 0 || t.footerLen < 0 || !t.footerFits) return Invalid
    val compression = Kinds.getOrElse(t.codec, "other")
    val dataBytes = t.fileLen.toLong - 3 - 1 - t.psLen - t.footerLen
    if (t.codec != 0L || t.footerLen == 0)
      OrcMeta(1, t.psLen, compression, t.footerLen, t.metadataLen, t.writerVersion,
        0, 0, 0L, 0L, 0, 0L, dataBytes, 0L, 0L, 0L, 0L, 0L, 1, 0, 0L, 0, 0, 0L, 0L)
    else t.footer.filter(_.statsOk).fold(Invalid) { f =>
      val rows = f.stripes.map(_.rows)
      val s = f.stats
      OrcMeta(1, t.psLen, compression, t.footerLen, t.metadataLen, t.writerVersion,
        1, f.stripes.size, f.numRows, rows.sum, f.kinds.size, f.contentLength,
        dataBytes, f.stripeBytes._1, f.stripeBytes._2, f.stripeBytes._3,
        if (rows.isEmpty) 0L else rows.min, (0L +: rows).max,
        if (f.offsetsMonotonic) 1 else 0, s.nColStats, s.values, s.nHasNull, s.nIntStats,
        if (s.nIntStats == 0 || s.intMin == Long.MaxValue) 0L else s.intMin,
        if (s.nIntStats == 0 || s.intMax == Long.MinValue) 0L else s.intMax)
    }
  }

  // ------------------------------------------------------------------
  // synthetic encoder (tests + the q381 oracle's closed-form replay)

  /** Minimal-but-real ORC tail: head magic, filler "stripes", a raw
    * footer (always written; only parseable when `compression = 0`),
    * and the postscript. `rowsPerStripe` feeds both the stripe infos
    * and Footer.numberOfRows.
    */
  /** One Footer.statistics entry for [[encodeSynthetic]]: numberOfValues,
    * optional IntegerStatistics (min, max, sum — sint64 zigzag on the
    * wire), and the hasNull flag.
    */
  final case class ColStat(numValues: Long,
                           intStats: Option[(Long, Long, Long)],
                           hasNull: Boolean)

  def encodeSynthetic(nStripes: Int, rowsPerStripe: Long, nTypes: Int,
      compression: Long, writerVersion: Long, dataFiller: Int,
      colStats: Seq[ColStat] = Nil,
      stripeStats: Seq[Seq[ColStat]] = Nil): Array[Byte] = {
    def colStatBytes(cs: ColStat): Array[Byte] = {
      val c = new ByteSink()
      pbTag(c, 1, 0).varint(cs.numValues)
      cs.intStats.foreach { case (mn, mx, sm) =>
        val i = new ByteSink()
        pbTag(i, 1, 0).zigzag(mn)
        pbTag(i, 2, 0).zigzag(mx)
        pbTag(i, 3, 0).zigzag(sm)
        pbLen(c, 2, i.toByteArray)
      }
      pbTag(c, 10, 0).varint(if (cs.hasNull) 1L else 0L)
      c.toByteArray
    }
    // Metadata section (precedes the footer): repeated StripeStatistics
    // (field 1), each a repeated ColumnStatistics (field 1)
    val metadata = {
      val m = new ByteSink()
      stripeStats.foreach { cols =>
        val ss = new ByteSink()
        cols.foreach(cs => pbLen(ss, 1, colStatBytes(cs)))
        pbLen(m, 1, ss.toByteArray)
      }
      m.toByteArray
    }
    val footer = {
      val f = new ByteSink()
      pbTag(f, 2, 0).varint(3L + dataFiller) // contentLength
      (0 until nStripes).foreach { i =>
        val s = new ByteSink()
        pbTag(s, 1, 0).varint(3L + i)        // offset
        pbTag(s, 2, 0).varint(10L)           // indexLength
        pbTag(s, 3, 0).varint(100L)          // dataLength
        pbTag(s, 4, 0).varint(20L)           // footerLength
        pbTag(s, 5, 0).varint(rowsPerStripe) // numberOfRows
        pbLen(f, 3, s.toByteArray)
      }
      (0 until nTypes).foreach { i =>
        val t = new ByteSink()
        pbTag(t, 1, 0).varint((i % 4).toLong) // kind
        pbLen(f, 4, t.toByteArray)
      }
      pbTag(f, 6, 0).varint(nStripes * rowsPerStripe)
      colStats.foreach(cs => pbLen(f, 7, colStatBytes(cs)))
      f.toByteArray
    }
    val ps = {
      val p = new ByteSink()
      pbTag(p, 1, 0).varint(footer.length.toLong)
      pbTag(p, 2, 0).varint(compression)
      pbTag(p, 3, 0).varint(262144L)
      pbTag(p, 5, 0).varint(metadata.length.toLong)
      pbTag(p, 6, 0).varint(writerVersion)
      pbLen(p, 8000, "ORC".getBytes("US-ASCII"))
      p.toByteArray
    }
    require(ps.length <= 255, "postscript must fit one length byte")
    val out = new ByteSink()
    out.write("ORC".getBytes("US-ASCII"))
    out.write(Array.tabulate(dataFiller)(i => ((i * 23 + 5) & 0xff).toByte))
    out.write(metadata)
    out.write(footer)
    out.write(ps)
    out.write(ps.length)
    out.toByteArray
  }

  /** Census DataFrame over (id, orc-bytes) — map-only, zero shuffles.
    * ps_len/footer_len stay out of the projection: they depend on
    * varint widths no SQL oracle should re-derive (the q377 rule).
    */
  def orcFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid", "compression", "metadata_len",
      "writer_version", "footer_parsed", "n_stripes", "num_rows", "stripe_rows",
      "n_types", "content_length") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.valid.toLong, m.compression, m.metadataLen,
        m.writerVersion, m.footerParsed.toLong, m.nStripes.toLong,
        m.numRows, m.stripeRows, m.nTypes.toLong, m.contentLength)
    }

  /** Stripe-list + column-statistics census over (id, orc-bytes): the
    * q381 tail walk descended one level further (r11 verdict item 6) —
    * per-stripe byte masses and row-count extrema, offset monotonicity,
    * and the Footer.statistics list (value counts, hasNull flags,
    * IntegerStatistics min-of-mins / max-of-maxs through sint64
    * zigzag) — the same footer-statistics depth the parquet side
    * reaches in q377/q380. Map-only, zero shuffles; q381's projection
    * stays frozen (this is a separate census, not a schema change).
    */
  def orcStripeStats(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid", "footer_parsed", "n_stripes",
      "stripe_index_bytes", "stripe_data_bytes", "stripe_footer_bytes",
      "stripe_rows_min", "stripe_rows_max", "offsets_monotonic", "n_col_stats",
      "stat_values", "n_has_null", "n_int_stats", "int_min", "int_max") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.valid.toLong, m.footerParsed.toLong, m.nStripes.toLong,
        m.stripeIndexBytes, m.stripeDataBytes, m.stripeFooterBytes,
        m.stripeRowsMin, m.stripeRowsMax, m.offsetsMonotonic.toLong,
        m.nColStats.toLong, m.statValues, m.nHasNull.toLong,
        m.nIntStats.toLong, m.intMin, m.intMax)
    }

  /** Per-stripe statistics for one column from the METADATA section —
    * the layer [[parse]] only sizes (PostScript.metadataLength): the
    * section before the footer holds `Metadata { repeated
    * StripeStatistics = 1 { repeated ColumnStatistics = 1 } }`, one
    * StripeStatistics per stripe in stripe order. Returns one entry
    * per stripe: (rows, hasIntStats, min, max) — rows come from the
    * footer's stripe list (same order, per the spec), stats from the
    * metadata section's colIdx-th ColumnStatistics. Empty when the
    * file is invalid, compressed (honest stub boundary), has no
    * metadata section, or the two lists disagree in length
    * (stop-don't-guess — a mismatched file prunes NOTHING).
    */
  def stripeStatsCensus(bytes: Array[Byte], colIdx: Int): Vector[(Long, Int, Long, Long)] = {
    val t = tail(bytes).getOrElse(return Vector.empty)
    val m = census(t)
    if (m.valid != 1 || m.footerParsed != 1 || m.metadataLen <= 0)
      return Vector.empty
    // metadata section sits immediately before the footer
    val fStart = t.footerStart
    if (m.metadataLen > fStart.toLong - 3) return Vector.empty
    try {
      val md = new ByteCursor(bytes, fStart - m.metadataLen.toInt, fStart)
      val stats = Vector.newBuilder[(Int, Long, Long)] // (has, min, max)
      message(md) {
        case (1, 2) => // StripeStatistics
          val ss = lenDelimited(md)
          var ci = 0
          var has = 0; var mn = 0L; var mx = 0L
          message(ss) {
            case (1, 2) => // ColumnStatistics
              val c = lenDelimited(ss)
              if (ci == colIdx) message(c) {
                case (2, 2) =>
                  val i = lenDelimited(c)
                  var sawMin = false; var sawMax = false
                  message(i) {
                    case (1, 0) => mn = i.zigzag(); sawMin = true; true
                    case (2, 0) => mx = i.zigzag(); sawMax = true; true
                    case _ => false
                  }
                  if (sawMin && sawMax) has = 1
                  true
                case _ => false
              }
              ci += 1
              true
            case _ => false
          }
          stats += ((has, mn, mx))
          true
        case _ => false
      }
      // stripe rows from the footer's stripe list (same order, per the spec)
      val rs = t.footer.fold(Vector.empty[Long])(_.stripes.map(_.rows))
      val st = stats.result()
      if (rs.length != st.length) Vector.empty
      else rs.zip(st).map { case (r, (h, mn, mx)) => (r, h, mn, mx) }
    } catch {
      case Malformed => Vector.empty
      case _: ArrayIndexOutOfBoundsException => Vector.empty
    }
  }

  /** Stripe-level zone-map pruning audit — parquet q380's ORC twin,
    * the move that makes the metadata walk PAY: for `x > t` / `x < t`
    * on column `colIdx`, how many stripes are provably skippable from
    * their metadata min/max and how many rows a CONSERVATIVE planner
    * still scans. The contract is conservative throughout: no int
    * stats, a compressed file, no metadata section, or a stripe-count
    * mismatch all prune NOTHING (scan everything). Map-only, zero
    * shuffles.
    */
  def orcPruneAudit(df: DataFrame, idCol: String, payloadCol: String,
      colIdx: Int, thresholdOf: Long => Long): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_stripes", "n_readable", "pruned_gt",
      "pruned_lt", "scanned_rows_gt", "threshold") { (id, bytes) =>
      val t = thresholdOf(id)
      val ss = stripeStatsCensus(bytes, colIdx)
      val readable = ss.count(_._2 == 1)
      val prunedGt = ss.count { case (_, has, _, mx) => has == 1 && mx <= t }
      val prunedLt = ss.count { case (_, has, mn, _) => has == 1 && mn >= t }
      val scannedGt = ss.collect {
        case (rows, has, _, mx) if !(has == 1 && mx <= t) => rows
      }.sum
      (id, ss.size.toLong, readable.toLong, prunedGt.toLong,
        prunedLt.toLong, scannedGt, t)
    }
}
