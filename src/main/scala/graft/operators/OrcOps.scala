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

  def parse(bytes: Array[Byte]): OrcMeta = {
    val n = bytes.length
    if (n < 8 || bytes(0) != 'O' || bytes(1) != 'R' || bytes(2) != 'C')
      return Invalid
    val psLen = bytes(n - 1) & 0xff
    // postscript must fit after the head magic (subtraction form)
    if (psLen < 1 || psLen > n - 4) return Invalid
    try {
      val ps = new ByteCursor(bytes, n - 1 - psLen, n - 1)
      var footerLen = 0L; var comp = -1L; var metaLen = 0L
      var writerVer = 0L; var magicOk = false
      while (ps.hasMore) {
        val tag = ps.varint()
        val field = (tag >>> 3).toInt; val wire = (tag & 7).toInt
        (field, wire) match {
          case (1, 0) => footerLen = ps.varint()
          case (2, 0) => comp = ps.varint()
          case (5, 0) => metaLen = ps.varint()
          case (6, 0) => writerVer = ps.varint()
          case (8000, 2) =>
            val m = lenDelimited(ps)
            magicOk = m.remaining == 3 && Bytes.tag(bytes, m.pos, "ORC")
          case _ => skipValue(ps, wire)
        }
      }
      if (!magicOk || comp < 0) return Invalid
      // footer precedes the postscript; must fit after the head magic
      if (footerLen < 0 || footerLen > n.toLong - 1 - psLen - 3) return Invalid
      val compression = Kinds.getOrElse(comp, "other")
      var footerParsed = 0
      var nStripes = 0; var numRows = 0L; var stripeRows = 0L
      var nTypes = 0; var contentLen = 0L
      var idxBytes = 0L; var dataBytes = 0L; var sfBytes = 0L
      var rowsMin = Long.MaxValue; var rowsMax = 0L
      var lastOffset = -1L; var monotonic = 1
      var nStats = 0; var statVals = 0L; var nNull = 0
      var nInt = 0; var iMin = Long.MaxValue; var iMax = Long.MinValue
      if (comp == 0L && footerLen > 0) {
        val fStart = n - 1 - psLen - footerLen.toInt
        val f = new ByteCursor(bytes, fStart, fStart + footerLen.toInt)
        while (f.hasMore) {
          val tag = f.varint()
          val field = (tag >>> 3).toInt; val wire = (tag & 7).toInt
          (field, wire) match {
            case (2, 0) => contentLen = f.varint()
            case (3, 2) => // StripeInformation
              nStripes += 1
              val s = lenDelimited(f)
              var rows = 0L
              while (s.hasMore) {
                val st = s.varint()
                ((st >>> 3).toInt, (st & 7).toInt) match {
                  case (1, 0) =>
                    val o = s.varint()
                    if (o <= lastOffset) monotonic = 0
                    lastOffset = o
                  case (2, 0) => idxBytes += s.varint()
                  case (3, 0) => dataBytes += s.varint()
                  case (4, 0) => sfBytes += s.varint()
                  case (5, 0) => rows = s.varint()
                  case (_, w) => skipValue(s, w)
                }
              }
              stripeRows += rows
              if (rows < rowsMin) rowsMin = rows
              if (rows > rowsMax) rowsMax = rows
            case (4, 2) => nTypes += 1; skipValue(f, 2)
            case (6, 0) => numRows = f.varint()
            case (7, 2) => // ColumnStatistics
              nStats += 1
              val c = lenDelimited(f)
              while (c.hasMore) {
                val ct = c.varint()
                ((ct >>> 3).toInt, (ct & 7).toInt) match {
                  case (1, 0) => statVals += c.varint()
                  case (2, 2) => // IntegerStatistics {1 min, 2 max, 3 sum: sint64}
                    nInt += 1
                    val i = lenDelimited(c)
                    while (i.hasMore) {
                      val it = i.varint()
                      ((it >>> 3).toInt, (it & 7).toInt) match {
                        case (1, 0) => val v = i.zigzag(); if (v < iMin) iMin = v
                        case (2, 0) => val v = i.zigzag(); if (v > iMax) iMax = v
                        case (_, w) => skipValue(i, w)
                      }
                    }
                  case (10, 0) => if (c.varint() != 0L) nNull += 1
                  case (_, w) => skipValue(c, w)
                }
              }
            case _ => skipValue(f, wire)
          }
        }
        footerParsed = 1
      }
      OrcMeta(1, psLen, compression, footerLen, metaLen, writerVer,
        footerParsed, nStripes, numRows, stripeRows, nTypes, contentLen,
        n.toLong - 3 - 1 - psLen - footerLen,
        idxBytes, dataBytes, sfBytes,
        if (nStripes == 0) 0L else rowsMin, rowsMax,
        monotonic, nStats, statVals, nNull, nInt,
        if (nInt == 0 || iMin == Long.MaxValue) 0L else iMin,
        if (nInt == 0 || iMax == Long.MinValue) 0L else iMax)
    } catch {
      case Malformed => Invalid
      case _: ArrayIndexOutOfBoundsException => Invalid
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
    val m = parse(bytes)
    if (m.valid != 1 || m.footerParsed != 1 || m.metadataLen <= 0)
      return Vector.empty
    val n = bytes.length
    try {
      // footer stripe rows, in order (parse only kept the extrema)
      val fStart = n - 1 - m.psLen - m.footerLen.toInt
      val f = new ByteCursor(bytes, fStart, fStart + m.footerLen.toInt)
      val rows = Vector.newBuilder[Long]
      while (f.hasMore) {
        val tag = f.varint()
        ((tag >>> 3).toInt, (tag & 7).toInt) match {
          case (3, 2) =>
            val s = lenDelimited(f)
            var r = 0L
            while (s.hasMore) {
              val st = s.varint()
              if ((st >>> 3).toInt == 5 && (st & 7).toInt == 0) r = s.varint()
              else skipValue(s, (st & 7).toInt)
            }
            rows += r
          case (_, w) => skipValue(f, w)
        }
      }
      // metadata section sits immediately before the footer
      if (m.metadataLen > fStart.toLong - 3) return Vector.empty
      val mdStart = fStart - m.metadataLen.toInt
      val md = new ByteCursor(bytes, mdStart, fStart)
      val stats = Vector.newBuilder[(Int, Long, Long)] // (has, min, max)
      while (md.hasMore) {
        val tag = md.varint()
        ((tag >>> 3).toInt, (tag & 7).toInt) match {
          case (1, 2) => // StripeStatistics
            val ss = lenDelimited(md)
            var ci = 0
            var has = 0; var mn = 0L; var mx = 0L
            while (ss.hasMore) {
              val ct = ss.varint()
              ((ct >>> 3).toInt, (ct & 7).toInt) match {
                case (1, 2) => // ColumnStatistics
                  val c = lenDelimited(ss)
                  if (ci == colIdx) {
                    while (c.hasMore) {
                      val t2 = c.varint()
                      ((t2 >>> 3).toInt, (t2 & 7).toInt) match {
                        case (2, 2) =>
                          val i = lenDelimited(c)
                          var sawMin = false; var sawMax = false
                          while (i.hasMore) {
                            val it = i.varint()
                            ((it >>> 3).toInt, (it & 7).toInt) match {
                              case (1, 0) => mn = i.zigzag(); sawMin = true
                              case (2, 0) => mx = i.zigzag(); sawMax = true
                              case (_, w) => skipValue(i, w)
                            }
                          }
                          if (sawMin && sawMax) has = 1
                        case (_, w) => skipValue(c, w)
                      }
                    }
                  }
                  ci += 1
                case (_, w) => skipValue(ss, w)
              }
            }
            stats += ((has, mn, mx))
          case (_, w) => skipValue(md, w)
        }
      }
      val rs = rows.result(); val st = stats.result()
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
