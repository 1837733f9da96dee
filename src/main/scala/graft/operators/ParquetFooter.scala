package graft.operators

import org.apache.spark.sql.DataFrame

/** Parquet footer census — the storage format this very engine (and
  * every corpus distribution from HF to internal lakes) ships data
  * in, audited at the byte level the way a fleet triages shards
  * before ever scheduling a scan: row counts, schema width, row-group
  * layout, and the per-column-chunk codec mix, all read straight from
  * the FileMetaData footer without touching a single data page.
  *
  * Layout (apache/parquet-format): `"PAR1" · data pages · FileMetaData
  * (Thrift Compact Protocol) · u32le footer length · "PAR1"`. The
  * footer walk needs NO page decoding — Thrift compact is a
  * closed-form wire format:
  *
  *   - varint (ULEB128, ≤10 bytes) and zigzag-varint integers;
  *   - struct fields as `(fieldIdDelta << 4) | type` headers (long
  *     form: type byte + zigzag field id) terminated by 0x00;
  *   - lists as `(size << 4) | elemType` (size 15 ⇒ varint follows);
  *   - maps as varint size + one key/value-type byte;
  *   - binary/string as varint length + bytes; doubles 8 bytes;
  *     bools carry their value in the type nibble.
  *
  * The walker is GENERIC — every field it does not target is skipped
  * structurally (recursive, depth-capped), which is what lets the
  * same code read a real Spark/pyarrow footer full of statistics,
  * offset indexes, and logical-type annotations (pinned against
  * /root/testdata files in ParquetFooterSpec) and the synthetic
  * minimal footers the q377 oracle replays closed-form.
  *
  * The footer is walked once, by [[footer]], into a [[Footer]] model
  * that this census, the zone-map and page-index censuses and
  * [[ParquetPages.chunkMetas]] all read. Targeted FileMetaData fields
  * (parquet-format/src/main/thrift/parquet.thrift): 1 version,
  * 2 schema (SchemaElement: 1 physical type, 3 repetition,
  * 5 num_children), 3 num_rows, 4 row_groups (RowGroup: 1 columns,
  * 2 total_byte_size, 3 num_rows; ColumnChunk: 3 meta_data, 4/5 offset
  * index, 6/7 column index; ColumnMetaData: 1 type, 4 codec,
  * 5 num_values, 7 total_compressed_size, 9 data page offset,
  * 11 dictionary page offset, 12 Statistics), 6 created_by.
  *
  * Fail-closed contract (house rules): footer length validated in
  * subtraction form against the buffer; varints capped at 10 bytes;
  * recursion capped at depth 24; declared binary/list/map sizes
  * checked against the remaining footer span before any skip (each
  * element costs ≥1 byte, so `size > end − pos` is malformed); ANY
  * violation yields `valid = 0` with every census field zeroed —
  * never a half-guessed count.
  */
object ParquetFooter {

  final case class FooterMeta(
      valid: Int,
      version: Long,
      numRows: Long,        // FileMetaData.num_rows
      nSchema: Int,         // SchemaElement count (incl. the root group)
      nLeaves: Int,         // elements carrying a physical type
      nRowGroups: Int,
      nColumnChunks: Int,
      totalByteSize: Long,  // Σ RowGroup.total_byte_size
      rgNumRows: Long,      // Σ RowGroup.num_rows (≡ numRows when consistent)
      createdByLen: Int,
      nUncompressed: Int,   // codec 0
      nSnappy: Int,         // codec 1
      nGzip: Int,           // codec 2
      nZstd: Int,           // codec 6
      nOtherCodec: Int,
      footerLen: Long,      // declared thrift length (not oracle-gated)
      dataBytes: Long)      // bytes between the magics minus the footer

  private[operators] val MaxDepth = 24

  /** Skip one value of `tpe` without interpreting it. */
  private[operators] def skipValue(r: ByteCursor, tpe: Int, depth: Int): Unit = {
    if (depth > MaxDepth) throw Malformed
    tpe match {
      case 1 | 2 =>            // bool as a list element: one byte
        r.skip(1)
      case 3 => r.skip(1)      // i8
      case 4 | 5 | 6 => r.varint() // i16/i32/i64 (zigzag payload, same bytes)
      case 7 => r.skip(8)      // double
      case 8 => r.skip(r.varint()) // binary/string
      case 9 | 10 =>           // list / set
        val (size, elemType) = listHeader(r)
        var i = 0L
        while (i < size) { skipValue(r, elemType, depth + 1); i += 1 }
      case 11 =>               // map
        val size = r.varint()
        if (size < 0 || size > r.end - r.pos) throw Malformed
        if (size > 0) {
          val kv = r.u8()
          var i = 0L
          while (i < size) {
            skipValue(r, (kv >> 4) & 0xF, depth + 1)
            skipValue(r, kv & 0xF, depth + 1)
            i += 1
          }
        }
      case 12 =>               // struct: skip all fields
        walkStruct(r, depth + 1)((_, _) => false)
      case _ => throw Malformed
    }
  }

  private[operators] def listHeader(r: ByteCursor): (Long, Int) = {
    val h = r.u8()
    val elemType = h & 0xF
    val short = (h >> 4) & 0xF
    val size = if (short == 15) r.varint() else short.toLong
    // each element costs ≥1 byte (bools included)
    if (size < 0 || size > r.end - r.pos) throw Malformed
    (size, elemType)
  }

  /** Walk one struct's fields; `onField(id, tpe)` returns true iff it
    * consumed the value (bool fields carry their value in `tpe` and
    * never need consuming).
    */
  private[operators] def walkStruct(r: ByteCursor, depth: Int)(onField: (Int, Int) => Boolean): Unit = {
    if (depth > MaxDepth) throw Malformed
    var fieldId = 0
    var continue = true
    while (continue) {
      val h = r.u8()
      if (h == 0) continue = false
      else {
        val tpe = h & 0xF
        val delta = (h >> 4) & 0xF
        fieldId = if (delta != 0) fieldId + delta else {
          val id = r.zigzag()
          if (id < Short.MinValue || id > Short.MaxValue) throw Malformed
          id.toInt
        }
        if (tpe == 1 || tpe == 2) { onField(fieldId, tpe); () } // bool: no payload
        else if (!onField(fieldId, tpe)) skipValue(r, tpe, depth + 1)
      }
    }
  }

  /** One SchemaElement: its physical type (-1 when absent), how many
    * type fields it carries (the footer census counts each as a leaf),
    * repetition and num_children (-1 when absent).
    */
  final case class Element(physType: Long, typeFields: Int, repetition: Long,
      numChildren: Long)

  /** One ColumnChunk: its ColumnMetaData fields (-1 when absent; every
    * codec field in order, one in a valid file), the int64 zone map from Statistics —
    * null_count and the 8-byte min/max (0 when absent), `readable` iff
    * one Statistics struct carried both bounds at 8 bytes — and the
    * column/offset index pointers (-1 when absent).
    */
  final case class Chunk(codecs: Vector[Long], physType: Long, numValues: Long,
      totalCompressed: Long, dataOff: Long, dictOff: Long,
      nullCount: Long, min: Long, max: Long, readable: Boolean,
      columnIndexOff: Long, columnIndexLen: Long,
      offsetIndexOff: Long, offsetIndexLen: Long)

  /** One RowGroup: num_rows, and — for the footer census, which sums
    * every occurrence — the sums of its num_rows and total_byte_size
    * fields (one each in a valid file), then its chunks.
    */
  final case class RowGroup(numRows: Long, numRowsSum: Long, totalByteSize: Long,
      chunks: Vector[Chunk])

  /** The FileMetaData, walked once for every census. A repeated scalar
    * field keeps its last value unless its struct above says otherwise;
    * repeated lists concatenate.
    * `schemaOk = false` records a schema list whose elements are not
    * structs: the censuses that read the schema reject the file, the
    * others never look at it.
    */
  final case class Footer(footerLen: Long, version: Long, numRows: Long,
      createdByLen: Int, schema: Vector[Element], schemaOk: Boolean,
      rowGroups: Vector[RowGroup])

  private val Invalid = FooterMeta(0, 0L, 0L, 0, 0, 0, 0, 0L, 0L, 0, 0, 0, 0, 0, 0, 0L, 0L)

  /** The elements of one list<struct>, each read by `elem`. */
  private def structs[A](r: ByteCursor)(elem: => A): Vector[A] = {
    val (size, elemType) = listHeader(r)
    if (elemType != 12) throw Malformed
    Vector.fill(size.toInt)(elem)
  }

  /** The footer prologue: magic at both ends, u32le footer length, and
    * the subtraction-form fit check. None = not a parquet file / cut
    * footer.
    */
  private def footerReader(bytes: Array[Byte]): Option[(ByteCursor, Long)] = {
    val n = bytes.length
    def magicAt(p: Int): Boolean = Bytes.tag(bytes, p, "PAR1")
    if (n < 12 || !magicAt(0) || !magicAt(n - 4)) return None
    val footerLen = Bytes.le32u(bytes, n - 8)
    // footer must fit between the magics (subtraction form)
    if (footerLen > n.toLong - 12) None
    else Some((new ByteCursor(bytes, n - 8 - footerLen.toInt, n - 8), footerLen))
  }

  /** The one footer walk, which every census reads. None = not a
    * parquet file, a cut footer or a wire fault — each census's
    * fail-closed zero.
    */
  def footer(bytes: Array[Byte]): Option[Footer] = {
    val (r, footerLen) = footerReader(bytes) match {
      case Some(rf) => rf
      case None => return None
    }
    try {
      var version = 0L; var numRows = 0L; var createdByLen = 0
      var schema = Vector.empty[Element]; var schemaOk = true
      var rowGroups = Vector.empty[RowGroup]
      walkStruct(r, 0) { (id, tpe) =>
        (id, tpe) match {
          case (1, 5) => version = r.zigzag(); true
          case (2, 9) =>
            val (size, elemType) = listHeader(r)
            if (elemType == 12) schema ++= Vector.fill(size.toInt)(element(r))
            else { // skipped, as a census that ignores the schema skips it
              schemaOk = false
              var i = 0L
              while (i < size) { skipValue(r, elemType, 2); i += 1 }
            }
            true
          case (3, 6) => numRows = r.zigzag(); true
          case (4, 9) => rowGroups ++= structs(r)(rowGroup(r)); true
          case (6, 8) =>
            val len = r.varint()
            r.skip(len)
            createdByLen = len.toInt
            true
          case _ => false
        }
      }
      Some(Footer(footerLen, version, numRows, createdByLen, schema, schemaOk, rowGroups))
    } catch {
      case Malformed => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  private def element(r: ByteCursor): Element = {
    var physType = -1L; var types = 0; var rep = -1L; var kids = -1L
    walkStruct(r, 1) { (fid, ftpe) =>
      (fid, ftpe) match {
        case (1, 5) => physType = r.zigzag(); types += 1; true
        case (3, 5) => rep = r.zigzag(); true
        case (5, 5) => kids = r.zigzag(); true
        case _ => false
      }
    }
    Element(physType, types, rep, kids)
  }

  private def rowGroup(r: ByteCursor): RowGroup = {
    var rows = 0L; var rowsSum = 0L; var byteSize = 0L; var chunks = Vector.empty[Chunk]
    walkStruct(r, 1) { (fid, ftpe) =>
      (fid, ftpe) match {
        case (1, 9) => chunks ++= structs(r)(chunk(r)); true
        case (2, 6) => byteSize += r.zigzag(); true
        case (3, 6) => rows = r.zigzag(); rowsSum += rows; true
        case _ => false
      }
    }
    RowGroup(rows, rowsSum, byteSize, chunks)
  }

  private def chunk(r: ByteCursor): Chunk = {
    var codecs = Vector.empty[Long]
    var pt = -1L; var nv = -1L; var tot = -1L; var dataOff = -1L; var dictOff = -1L
    var nulls = 0L; var minV = 0L; var maxV = 0L; var readable = false
    var ciOff = -1L; var ciLen = -1L; var oiOff = -1L; var oiLen = -1L
    walkStruct(r, 2) { (cid, ctpe) =>
      (cid, ctpe) match {
        case (3, 12) => // ColumnMetaData
          walkStruct(r, 3) { (mid, mtpe) =>
            (mid, mtpe) match {
              case (1, 5) => pt = r.zigzag(); true
              case (4, 5) => codecs :+= r.zigzag(); true
              case (5, 6) => nv = r.zigzag(); true
              case (7, 6) => tot = r.zigzag(); true
              case (9, 6) => dataOff = r.zigzag(); true
              case (11, 6) => dictOff = r.zigzag(); true
              case (12, 12) => // Statistics
                var sawMin = false; var sawMax = false
                walkStruct(r, 4) { (sid, stpe) =>
                  (sid, stpe) match {
                    case (3, 6) => nulls = r.zigzag(); true
                    case (5, 8) => // max_value
                      val len = r.varint()
                      if (len == 8) { maxV = r.le64(); sawMax = true } else r.skip(len)
                      true
                    case (6, 8) => // min_value
                      val len = r.varint()
                      if (len == 8) { minV = r.le64(); sawMin = true } else r.skip(len)
                      true
                    case _ => false
                  }
                }
                if (sawMin && sawMax) readable = true
                true
              case _ => false
            }
          }
          true
        case (4, 6) => oiOff = r.zigzag(); true
        case (5, 5) => oiLen = r.zigzag(); true
        case (6, 6) => ciOff = r.zigzag(); true
        case (7, 5) => ciLen = r.zigzag(); true
        case _ => false
      }
    }
    Chunk(codecs, pt, nv, tot, dataOff, dictOff, nulls, minV, maxV, readable,
      ciOff, ciLen, oiOff, oiLen)
  }

  def parse(bytes: Array[Byte]): FooterMeta = footer(bytes) match {
    case Some(f) if f.schemaOk =>
      val chunks = f.rowGroups.flatMap(_.chunks)
      val codecs = chunks.flatMap(_.codecs)
      def count(c: Long): Int = codecs.count(_ == c)
      FooterMeta(1, f.version, f.numRows, f.schema.size, f.schema.map(_.typeFields).sum,
        f.rowGroups.size, chunks.size, f.rowGroups.map(_.totalByteSize).sum,
        f.rowGroups.map(_.numRowsSum).sum, f.createdByLen,
        count(0), count(1), count(2), count(6),
        codecs.size - count(0) - count(1) - count(2) - count(6),
        f.footerLen, bytes.length.toLong - 12 - f.footerLen)
    case _ => Invalid
  }

  /** Per-row-group zone-map stats for one column (by chunk position):
    * (rowGroupRows, hasReadableStats, minValue, maxValue, nullCount).
    * min/max are readable iff the Statistics struct carries 8-byte
    * min_value/max_value binaries (the plain int64 encoding); anything
    * else — absent stats, other widths — is hasReadableStats = 0, the
    * conservative "cannot prune" verdict a planner must return.
    * Footer-level faults yield an EMPTY vector (fail-closed).
    */
  def statsCensus(bytes: Array[Byte], colIdx: Int): Vector[(Long, Int, Long, Long, Long)] =
    footer(bytes).fold(Vector.empty[(Long, Int, Long, Long, Long)])(_.rowGroups.map { rg =>
      rg.chunks.lift(colIdx) match {
        case Some(c) => (rg.numRows, if (c.readable) 1 else 0, c.min, c.max, c.nullCount)
        case None => (rg.numRows, 0, 0L, 0L, 0L)
      }
    })

  // ------------------------------------------------------------------
  // Thrift compact writer + synthetic footer (tests and the q377 oracle)

  final class Writer extends ByteSink {
    def bytes: Array[Byte] = toByteArray
    /** Field header with delta encoding (callers pass ascending ids). */
    def field(lastId: Int, id: Int, tpe: Int): Writer = {
      val delta = id - lastId
      if (delta >= 1 && delta <= 15) u8((delta << 4) | tpe)
      else { u8(tpe); zigzag(id.toLong) }
    }
    def stop(): Writer = u8(0)
    def listHeader(size: Int, elemType: Int): Writer =
      if (size < 15) u8((size << 4) | elemType)
      else { u8(0xF0 | elemType); varint(size.toLong) }
    def binary(b: Array[Byte]): Writer = { varint(b.length.toLong); raw(b) }
    def str(s: String): Writer = binary(s.getBytes("UTF-8"))
  }

  /** Minimal-but-real FileMetaData: one root group + `colNames.size`
    * leaves, `nRowGroups` row groups of `rowsPerGroup` rows and
    * `bytesPerGroup` total_byte_size each, per-column codecs from
    * `codecOf` (applied identically in every row group).
    */
  def encodeFooter(version: Int, colNames: Seq[String], nRowGroups: Int,
      rowsPerGroup: Long, bytesPerGroup: Long, codecOf: Int => Int,
      createdBy: String,
      // (rowGroup, col) → (min, max, nullCount, binaryWidth); width 8 is
      // the readable int64 encoding, other widths exercise the
      // conservative unreadable path. None ⇒ byte-identical to the
      // pre-stats footers the q377 oracle replays.
      statsOf: Option[(Int, Int) => (Long, Long, Long, Int)] = None): Array[Byte] = {
    val w = new Writer
    w.field(0, 1, 5).zigzag(version.toLong)
    // schema: root (name + num_children) then one leaf per column
    w.field(1, 2, 9).listHeader(1 + colNames.size, 12)
    encodeFooterBody(w, colNames, nRowGroups, rowsPerGroup, bytesPerGroup,
      codecOf, createdBy, statsOf, None)
    w.bytes
  }

  /** [[encodeFooter]] with per-chunk PAGE-INDEX pointers: `indexOf(rg,
    * col)` returns the (column_index_offset, column_index_length)
    * pair to stamp into that ColumnChunk (fields 6/7), or None for no
    * index. Kept separate so the pre-index footers stay byte-identical
    * for the frozen q377 oracle.
    */
  def encodeFooterPaged(version: Int, colNames: Seq[String], nRowGroups: Int,
      rowsPerGroup: Long, bytesPerGroup: Long, codecOf: Int => Int,
      createdBy: String,
      statsOf: Option[(Int, Int) => (Long, Long, Long, Int)],
      indexOf: (Int, Int) => Option[(Long, Int)],
      offsetIndexOf: (Int, Int) => Option[(Long, Int)] = (_, _) => None): Array[Byte] = {
    val w = new Writer
    w.field(0, 1, 5).zigzag(version.toLong)
    w.field(1, 2, 9).listHeader(1 + colNames.size, 12)
    encodeFooterBody(w, colNames, nRowGroups, rowsPerGroup, bytesPerGroup,
      codecOf, createdBy, statsOf, Some(indexOf), Some(offsetIndexOf))
    w.bytes
  }

  private def encodeFooterBody(w: Writer, colNames: Seq[String],
      nRowGroups: Int, rowsPerGroup: Long, bytesPerGroup: Long,
      codecOf: Int => Int, createdBy: String,
      statsOf: Option[(Int, Int) => (Long, Long, Long, Int)],
      indexOf: Option[(Int, Int) => Option[(Long, Int)]],
      offsetIndexOf: Option[(Int, Int) => Option[(Long, Int)]] = None): Unit = {
    locally {
      val root = w
      root.field(0, 4, 8).str("schema")
      root.field(4, 5, 5).zigzag(colNames.size.toLong)
      root.stop()
    }
    colNames.zipWithIndex.foreach { case (name, i) =>
      w.field(0, 1, 5).zigzag((i % 3).toLong) // physical type: marks a leaf
      w.field(1, 3, 5).zigzag(1L)             // repetition: OPTIONAL
      w.field(3, 4, 8).str(name)
      w.stop()
    }
    w.field(2, 3, 6).zigzag(nRowGroups * rowsPerGroup)
    w.field(3, 4, 9).listHeader(nRowGroups, 12)
    (0 until nRowGroups).foreach { rg =>
      w.field(0, 1, 9).listHeader(colNames.size, 12) // columns
      colNames.indices.foreach { c =>
        w.field(0, 2, 6).zigzag(4L) // file_offset
        w.field(2, 3, 12)           // meta_data struct
        w.field(0, 1, 5).zigzag((c % 3).toLong)          // type
        w.field(1, 2, 9).listHeader(1, 5); w.zigzag(3L)  // encodings [PLAIN..]
        w.field(2, 3, 9).listHeader(1, 8); w.str(colNames(c)) // path_in_schema
        w.field(3, 4, 5).zigzag(codecOf(c).toLong)       // codec
        w.field(4, 5, 6).zigzag(rowsPerGroup)            // num_values
        w.field(5, 6, 6).zigzag(bytesPerGroup)           // total_uncompressed
        w.field(6, 7, 6).zigzag(bytesPerGroup)           // total_compressed
        statsOf.foreach { f =>
          val (minV, maxV, nulls, width) = f(rg, c)
          def intBin(v: Long): Array[Byte] =
            Array.tabulate(width)(i => ((v >> (8 * i)) & 0xff).toByte)
          w.field(7, 12, 12)                 // Statistics struct
          w.field(0, 3, 6).zigzag(nulls)     // null_count
          w.field(3, 5, 8).binary(intBin(maxV)) // max_value
          w.field(5, 6, 8).binary(intBin(minV)) // min_value
          w.stop()
        }
        w.stop()                                         // ColumnMetaData
        // page-location pointers (parquet.thrift ColumnChunk 4/5) then
        // page-index pointers (6/7) — ascending field ids
        val oi = offsetIndexOf.flatMap(f => f(rg, c))
        var lastId = 3
        oi.foreach { case (off, len) =>
          w.field(lastId, 4, 6).zigzag(off)   // offset_index_offset
          w.field(4, 5, 5).zigzag(len.toLong) // offset_index_length
          lastId = 5
        }
        indexOf.flatMap(f => f(rg, c)).foreach { case (off, len) =>
          w.field(lastId, 6, 6).zigzag(off)   // column_index_offset
          w.field(6, 7, 5).zigzag(len.toLong) // column_index_length
        }
        w.stop()                                         // ColumnChunk
      }
      w.field(1, 2, 6).zigzag(bytesPerGroup) // total_byte_size
      w.field(2, 3, 6).zigzag(rowsPerGroup)  // num_rows
      w.stop()                               // RowGroup
    }
    w.field(4, 6, 8).str(createdBy)
    w.stop() // FileMetaData
  }

  /** Whole synthetic file: magic · filler data · footer · len · magic. */
  def encodeSynthetic(version: Int, colNames: Seq[String], nRowGroups: Int,
      rowsPerGroup: Long, bytesPerGroup: Long, codecOf: Int => Int,
      createdBy: String, dataFiller: Int,
      statsOf: Option[(Int, Int) => (Long, Long, Long, Int)] = None): Array[Byte] = {
    val footer = encodeFooter(version, colNames, nRowGroups, rowsPerGroup,
      bytesPerGroup, codecOf, createdBy, statsOf)
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("US-ASCII"))
    out.write(Array.tabulate(dataFiller)(i => ((i * 13 + 7) & 0xff).toByte))
    out.write(footer)
    val len = footer.length
    out.write(Array((len & 0xff).toByte, ((len >> 8) & 0xff).toByte,
      ((len >> 16) & 0xff).toByte, ((len >> 24) & 0xff).toByte))
    out.write("PAR1".getBytes("US-ASCII"))
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // PAGE INDEX (parquet.thrift ColumnIndex) — the pruning layer BELOW
  // row-group zone maps: per-PAGE min/max/null-page flags serialized
  // outside the footer, located via ColumnChunk's
  // column_index_offset/length. At 100 TB this is the difference
  // between reading a matching row group whole and reading only its
  // matching pages.

  /** One page's index entry: (null_page, min, max, null_count). */
  type PageEntry = (Boolean, Long, Long, Long)

  /** Serialize one ColumnIndex struct (thrift compact): null_pages
    * list<bool>, min/max_values list<binary> (8-byte LE for real
    * pages, EMPTY binaries for null pages — the spec's convention),
    * boundary_order, null_counts list<i64>.
    */
  def encodeColumnIndex(pages: Seq[PageEntry]): Array[Byte] = {
    val w = new Writer
    w.field(0, 1, 9).listHeader(pages.size, 1)
    pages.foreach { case (np, _, _, _) => w.u8(if (np) 1 else 2) }
    def binList(get: PageEntry => Long): Unit = {
      w.listHeader(pages.size, 8)
      pages.foreach { p =>
        if (p._1) w.binary(Array.emptyByteArray)
        else w.binary(Array.tabulate(8)(i => ((get(p) >> (8 * i)) & 0xff).toByte))
      }
    }
    w.field(1, 2, 9); binList(_._2)
    w.field(2, 3, 9); binList(_._3)
    w.field(3, 4, 5).zigzag(0L) // boundary_order: UNORDERED
    w.field(4, 5, 9).listHeader(pages.size, 6)
    pages.foreach(p => w.zigzag(p._4))
    w.stop()
    w.bytes
  }

  /** Serialize one OffsetIndex struct: the page LOCATIONS —
    * (file offset, compressed size, first_row_index) per page — whose
    * first_row_index deltas are the only metadata source for per-PAGE
    * row counts.
    */
  def encodeOffsetIndex(firstRows: Seq[Long]): Array[Byte] = {
    val w = new Writer
    w.field(0, 1, 9).listHeader(firstRows.size, 12)
    firstRows.foreach { fr =>
      w.field(0, 1, 6).zigzag(4L)   // offset (synthetic)
      w.field(1, 2, 5).zigzag(100L) // compressed_page_size
      w.field(2, 3, 6).zigzag(fr)   // first_row_index
      w.stop()
    }
    w.stop()
    w.bytes
  }

  /** Parse one OffsetIndex blob to its first_row_index list. None =
    * malformed / out of bounds (declined whole, fail-closed).
    */
  def parseOffsetIndex(bytes: Array[Byte], off: Long, len: Long): Option[Vector[Long]] = {
    if (off < 0 || len <= 0 || off > bytes.length.toLong - len) return None
    try {
      val r = new ByteCursor(bytes, off.toInt, (off + len).toInt)
      var rows: Vector[Long] = null
      walkStruct(r, 0) { (id, tpe) =>
        if (id == 1 && tpe == 9) {
          val (size, elemType) = listHeader(r)
          if (elemType != 12) throw Malformed
          val b = Vector.newBuilder[Long]
          var i = 0L
          while (i < size) {
            var fr = -1L
            walkStruct(r, 1) { (fid, ftpe) =>
              if (fid == 3 && ftpe == 6) { fr = r.zigzag(); true } else false
            }
            if (fr < 0) throw Malformed
            b += fr
            i += 1
          }
          rows = b.result()
          true
        } else false
      }
      Option(rows)
    } catch {
      case Malformed => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  /** Whole synthetic file with a page index on `colIdx`: magic ·
    * ColumnIndex blobs (one per row group, in file-body position, as
    * real writers lay them out) · optional OffsetIndex blobs · footer
    * with chunk pointers · len · magic. `badOffsetRg` plants a
    * ColumnIndex pointer past EOF (the unreadable class);
    * `offsetIndexOf` (rg → first_row_index list, or None for a chunk
    * without one) adds the page-location layer.
    */
  def encodeSyntheticPaged(colNames: Seq[String], nRowGroups: Int,
      rowsPerGroup: Long, colIdx: Int,
      pagesOf: Int => Seq[PageEntry],
      badOffsetRg: Option[Int] = None,
      offsetIndexOf: Option[Int => Option[Seq[Long]]] = None): Array[Byte] = {
    val blobs = (0 until nRowGroups).map(rg => encodeColumnIndex(pagesOf(rg)))
    val offsets = blobs.scanLeft(4L)((o, b) => o + b.length)
    val oiBlobs: Seq[Option[Array[Byte]]] = (0 until nRowGroups).map(rg =>
      offsetIndexOf.flatMap(f => f(rg)).map(encodeOffsetIndex))
    val oiOffsets = oiBlobs.scanLeft(offsets.last)((o, b) =>
      o + b.map(_.length).getOrElse(0))
    def idxOf(rg: Int, c: Int): Option[(Long, Int)] =
      if (c != colIdx) None
      else if (badOffsetRg.contains(rg)) Some((1L << 40, blobs(rg).length))
      else Some((offsets(rg), blobs(rg).length))
    def oiOf(rg: Int, c: Int): Option[(Long, Int)] =
      if (c != colIdx) None
      else oiBlobs(rg).map(b => (oiOffsets(rg), b.length))
    val footer = encodeFooterPaged(2, colNames, nRowGroups, rowsPerGroup,
      1 << 16, _ => 0, "paged", None, idxOf, oiOf)
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("US-ASCII"))
    blobs.foreach(out.write)
    oiBlobs.foreach(_.foreach(out.write))
    out.write(footer)
    val len = footer.length
    out.write(Array((len & 0xff).toByte, ((len >> 8) & 0xff).toByte,
      ((len >> 16) & 0xff).toByte, ((len >> 24) & 0xff).toByte))
    out.write("PAR1".getBytes("US-ASCII"))
    out.toByteArray
  }

  /** Parse one ColumnIndex blob. None = malformed / out of bounds /
    * inconsistent list lengths — the whole chunk's index is declined
    * (fail-closed; the reader falls back to row-group stats).
    */
  def parseColumnIndex(bytes: Array[Byte], off: Long, len: Long): Option[Vector[PageEntry]] = {
    if (off < 0 || len <= 0 || off > bytes.length.toLong - len) return None
    try {
      val r = new ByteCursor(bytes, off.toInt, (off + len).toInt)
      var nulls: Vector[Boolean] = null
      var mins: Vector[Option[Long]] = null
      var maxs: Vector[Option[Long]] = null
      var counts: Vector[Long] = null
      def binVals(): Vector[Option[Long]] = {
        val (size, elemType) = listHeader(r)
        if (elemType != 8) throw Malformed
        (0L until size).map { _ =>
          val n = r.varint()
          if (n == 8) Some(r.le64()) else { r.skip(n); None }
        }.toVector
      }
      walkStruct(r, 0) { (id, tpe) =>
        (id, tpe) match {
          case (1, 9) =>
            val (size, elemType) = listHeader(r)
            if (elemType != 1 && elemType != 2) throw Malformed
            nulls = (0L until size).map(_ => r.u8() == 1).toVector
            true
          case (2, 9) => mins = binVals(); true
          case (3, 9) => maxs = binVals(); true
          case (5, 9) =>
            val (size, elemType) = listHeader(r)
            if (elemType != 6) throw Malformed
            counts = (0L until size).map(_ => r.zigzag()).toVector
            true
          case _ => false
        }
      }
      if (nulls == null || mins == null || maxs == null) return None
      val n = nulls.size
      if (mins.size != n || maxs.size != n) return None
      val cts = if (counts != null && counts.size == n) counts
        else Vector.fill(n)(0L)
      Some(nulls.indices.map { i =>
        if (nulls(i)) (true, 0L, 0L, cts(i))
        else (mins(i), maxs(i)) match {
          case (Some(lo), Some(hi)) => (false, lo, hi, cts(i))
          case _ => throw Malformed // real page with unreadable bounds
        }
      }.toVector)
    } catch {
      case Malformed => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  /** Per-row-group page-index lookup for `colIdx`: for each row group
    * — None = the chunk carries NO index pointers, Some(None) = it
    * does but the blob is unreadable (declined whole), Some(Some(p)) =
    * the decoded pages.
    */
  def pageIndexCensus(bytes: Array[Byte], colIdx: Int): Vector[Option[Option[Vector[PageEntry]]]] =
    footer(bytes).fold(Vector.empty[Option[Option[Vector[PageEntry]]]])(_.rowGroups.map(rg =>
      rg.chunks.lift(colIdx).filter(c => c.columnIndexOff >= 0 && c.columnIndexLen > 0)
        .map(c => parseColumnIndex(bytes, c.columnIndexOff, c.columnIndexLen))))

  /** Per-row-group PAGE-ROW data for `colIdx`: row-group rows, the
    * ColumnIndex pages (as in [[pageIndexCensus]]) and the
    * OffsetIndex first_row_index list when present and CONSISTENT
    * (monotone, within the row group, one entry per page) — anything
    * else declines to None, fail-closed.
    */
  def pageRowsCensus(bytes: Array[Byte], colIdx: Int):
      Vector[(Long, Option[Vector[PageEntry]], Option[Vector[Long]])] =
    footer(bytes).fold(Vector.empty[(Long, Option[Vector[PageEntry]], Option[Vector[Long]])])(
      _.rowGroups.map { rg =>
        val target = rg.chunks.lift(colIdx)
        val pages = target.filter(c => c.columnIndexOff >= 0 && c.columnIndexLen > 0)
          .flatMap(c => parseColumnIndex(bytes, c.columnIndexOff, c.columnIndexLen))
        val firstRows = target.filter(c => c.offsetIndexOff >= 0 && c.offsetIndexLen > 0)
          .flatMap(c => parseOffsetIndex(bytes, c.offsetIndexOff, c.offsetIndexLen))
          .filter { fr =>
            // consistency contract: one entry per page, starting at 0,
            // nondecreasing, inside the row group
            pages.exists(_.size == fr.size) && fr.headOption.contains(0L) &&
              fr.zip(fr.drop(1)).forall { case (a, b) => a <= b } &&
              fr.lastOption.forall(_ <= rg.numRows)
          }
        (rg.numRows, pages, firstRows)
      })

  /** Page-level ROW audit — the quantity a scan is actually billed in:
    * ColumnIndex bounds pick the skippable pages, OffsetIndex
    * first_row_index deltas price them in rows. Conservative
    * contract one level down from q380: a chunk whose page rows are
    * unknowable (no/inconsistent OffsetIndex) reports its FULL
    * row-group rows as `rows_unknown` and they count scanned — bounds
    * without locations prune pages, not rows.
    */
  def pageRowsAudit(df: DataFrame, idCol: String, payloadCol: String,
      colIdx: Int, threshold: Long): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_rgs", "n_pages_rowed",
      "n_pages_rows_unknown", "rows_total", "rows_skippable_gt", "rows_scanned_gt",
      "rows_unknown") { (id, bytes) =>
      val rgs = pageRowsCensus(bytes, colIdx)
      var rowsTotal = 0L; var skip = 0L; var unknown = 0L
      var pagesRowed = 0L; var pagesUnknown = 0L
      rgs.foreach { case (rgRows, pagesOpt, frOpt) =>
        rowsTotal += rgRows
        (pagesOpt, frOpt) match {
          case (Some(pages), Some(fr)) =>
            pagesRowed += pages.size
            pages.indices.foreach { p =>
              val pRows =
                if (p < pages.size - 1) fr(p + 1) - fr(p)
                else rgRows - fr(p)
              val (np, _, hi, _) = pages(p)
              if (np || hi <= threshold) skip += pRows
            }
          case (Some(pages), None) =>
            pagesUnknown += pages.size
            unknown += rgRows
          case _ =>
            unknown += rgRows
        }
      }
      (id, rgs.size.toLong, pagesRowed, pagesUnknown, rowsTotal,
        skip, rowsTotal - skip, unknown)
    }

  /** Page-level prune audit over (id, parquet-bytes) — q380's
    * arithmetic one layer down. A NULL page is provably skippable for
    * any non-null predicate (it holds no values at all); a real page
    * skips for `x > t` iff its max ≤ t; a chunk whose index is
    * unreadable falls back to scanning ALL its pages... which the
    * census cannot even count, so the CHUNK is reported unreadable —
    * counted, never guessed (the q380 conservative contract one level
    * down). Map-only, zero shuffles.
    */
  def pageIndexAudit(df: DataFrame, idCol: String, payloadCol: String,
      colIdx: Int, threshold: Long): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_rgs", "n_indexed", "n_no_index",
      "n_unreadable_idx", "n_pages", "n_null_pages", "pages_skippable_gt",
      "pages_scanned_gt", "sum_null_counts") { (id, bytes) =>
      val rgs = pageIndexCensus(bytes, colIdx)
      var indexed = 0L; var unreadable = 0L; var noIndex = 0L
      var nPages = 0L; var nNull = 0L; var skip = 0L; var nullCt = 0L
      rgs.foreach {
        case None => noIndex += 1
        case Some(None) => unreadable += 1
        case Some(Some(pages)) =>
          indexed += 1
          nPages += pages.size
          pages.foreach { case (np, _, hi, ct) =>
            if (np) { nNull += 1; skip += 1 }
            else if (hi <= threshold) skip += 1
            nullCt += ct
          }
      }
      (id, rgs.size.toLong, indexed, noIndex, unreadable,
        nPages, nNull, skip, nPages - skip, nullCt)
    }

  /** Zone-map pruning audit over (id, parquet-bytes): for each file,
    * how many row groups a predicate on the target column could SKIP
    * from footer statistics alone — the planner move that turns a
    * 100 TB scan into a footer read plus the few matching row groups.
    * `pruned_gt` counts groups provably empty for `x > t` (max ≤ t),
    * `pruned_lt` for `x < t` (min ≥ t); `scanned_rows_gt` is the rows
    * a conservative planner still reads for `x > t` — unreadable or
    * absent stats NEVER prune (has = 0 ⇒ scan). Map-only, zero
    * shuffles.
    */
  def pruneAudit(df: DataFrame, idCol: String, payloadCol: String,
      colIdx: Int, thresholdOf: Long => Long): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_rgs", "n_readable", "pruned_gt",
      "pruned_lt", "scanned_rows_gt", "sum_nulls", "threshold") { (id, bytes) =>
      val t = thresholdOf(id)
      val rgs = statsCensus(bytes, colIdx)
      val readable = rgs.count(_._2 == 1)
      val prunedGt = rgs.count { case (_, has, _, maxV, _) => has == 1 && maxV <= t }
      val prunedLt = rgs.count { case (_, has, minV, _, _) => has == 1 && minV >= t }
      val scannedGt = rgs.collect {
        case (rows, has, _, maxV, _) if !(has == 1 && maxV <= t) => rows
      }.sum
      val nulls = rgs.map(_._5).sum
      (id, rgs.size.toLong, readable.toLong, prunedGt.toLong,
        prunedLt.toLong, scannedGt, nulls, t)
    }

  /** Census DataFrame over (id, parquet-bytes) — map-only, zero
    * shuffles. footer_len/data_bytes stay out of the projection: they
    * depend on varint widths no SQL oracle should re-derive.
    */
  def footerFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid", "version", "num_rows", "n_schema",
      "n_leaves", "n_row_groups", "n_column_chunks", "total_byte_size", "rg_num_rows",
      "created_by_len", "n_uncompressed", "n_snappy", "n_gzip", "n_zstd",
      "n_other_codec") { (id, bytes) =>
      val m = parse(bytes)
      (id, m.valid.toLong, m.version, m.numRows, m.nSchema.toLong,
        m.nLeaves.toLong, m.nRowGroups.toLong, m.nColumnChunks.toLong,
        m.totalByteSize, m.rgNumRows, m.createdByLen.toLong,
        m.nUncompressed.toLong, m.nSnappy.toLong, m.nGzip.toLong,
        m.nZstd.toLong, m.nOtherCodec.toLong)
    }
}
