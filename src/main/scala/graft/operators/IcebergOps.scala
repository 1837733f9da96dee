package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iceberg manifest-file census — the SECOND table format (next to
  * Delta q392/q393/q397), and the first walker that decodes Avro
  * RECORD BODIES, not just OCF framing (AvroOps walks blocks as
  * opaque): a manifest file is an Avro object-container whose records
  * are `manifest_entry` — status (added/existing/deleted), the
  * data_file struct (path, format, partition, record_count,
  * file_size_in_bytes), and per-column bounds maps — the metadata an
  * Iceberg planner prunes with before touching any data file.
  *
  * Schema contract (stop-don't-guess): record decode runs ONLY when
  * the embedded `avro.schema` names `manifest_entry` and the codec is
  * null; anything else is reported schema_ok = 0 with the census
  * zeroed — the q381 compressed-footer convention. The decoder
  * implements the Avro binary spec for this PINNED v1-subset shape:
  * zigzag varints, length-prefixed bytes/strings, union indices,
  * array blocks (Iceberg bounds maps ship as arrays of key/value
  * records; values are the spec's single-value serialization — longs
  * as 8-byte little-endian). A block whose declared record count does
  * not decode to EXACT payload consumption is counted
  * n_malformed_blocks and contributes nothing — never guessed at.
  *
  * Live-set semantics: status 2 (DELETED) entries are tombstones;
  * 0 (EXISTING) and 1 (ADDED) are live. The prune audit applies the
  * q380/q388 conservative contract: a live file without parseable
  * bounds is scanned, counted separately.
  */
object IcebergOps {

  // ------------------------------------------------------------------
  // the pinned manifest_entry v1-subset

  final case class Bounds(min: Long, max: Long)
  final case class Entry(status: Int, snapshotId: Option[Long], path: String,
                         format: String, partition: Int, recordCount: Long,
                         fileSize: Long, bounds: Option[Bounds])

  /** The schema the walker contracts on (subset of the published v1
    * manifest_entry; bounds maps carried for one column, field id 1).
    */
  val SchemaJson: String =
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"]},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |{"name":"file_path","type":"string"},
      |{"name":"file_format","type":"string"},
      |{"name":"partition","type":{"type":"record","name":"r102","fields":[{"name":"p","type":"int"}]}},
      |{"name":"record_count","type":"long"},
      |{"name":"file_size_in_bytes","type":"long"},
      |{"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k_v1","fields":[{"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}]},
      |{"name":"upper_bounds","type":["null",{"type":"array","items":"k_v1"}]}
      |]}}]}""".stripMargin.replace("\n", "")

  private def readLe8(b: Array[Byte]): Long = {
    if (b.length != 8) throw Malformed
    Bytes.le64(b, 0)
  }

  def encodeEntry(e: Entry): Array[Byte] = {
    val out = new ByteSink()
    out.avroLong(e.status.toLong)
    e.snapshotId match {
      case Some(id) => out.avroLong(1L); out.avroLong(id)
      case None => out.avroLong(0L)
    }
    out.avroBytes(e.path.getBytes("UTF-8"))
    out.avroBytes(e.format.getBytes("UTF-8"))
    out.avroLong(e.partition.toLong)
    out.avroLong(e.recordCount)
    out.avroLong(e.fileSize)
    def boundsMap(v: Option[Long]): Unit = v match {
      case Some(x) =>
        out.avroLong(1L) // union: the array branch
        out.avroLong(1L) // one array block of one k_v pair
        out.avroLong(1L) // key: column field id 1
        out.avroBytes(new ByteSink(8).le64(x).toByteArray) // single-value serialization: 8-byte LE long
        out.avroLong(0L) // array end
      case None => out.avroLong(0L)
    }
    boundsMap(e.bounds.map(_.min))
    boundsMap(e.bounds.map(_.max))
    out.toByteArray
  }

  private def decodeEntry(r: ByteCursor): Entry = {
    val status = r.avroLong().toInt
    if (status < 0 || status > 2) throw Malformed
    val snap = r.avroLong() match {
      case 0L => None
      case 1L => Some(r.avroLong())
      case _ => throw Malformed
    }
    val path = new String(r.take(r.avroLong()), "UTF-8")
    val format = new String(r.take(r.avroLong()), "UTF-8")
    val p = r.avroLong().toInt
    val recordCount = r.avroLong()
    val fileSize = r.avroLong()
    def boundsVal(): Option[Long] = r.avroLong() match {
      case 0L => None
      case 1L =>
        var v: Option[Long] = None
        var blockN = r.avroLong()
        while (blockN != 0L) {
          val items = if (blockN < 0) { r.avroLong(); -blockN } else blockN
          var i = 0L
          while (i < items) {
            val key = r.avroLong()
            val bytes = r.take(r.avroLong())
            if (key == 1L) v = Some(readLe8(bytes)) // pinned column id
            i += 1
          }
          blockN = r.avroLong()
        }
        v
      case _ => throw Malformed
    }
    val lo = boundsVal()
    val hi = boundsVal()
    Entry(status, snap, path, format, p, recordCount, fileSize,
      for (l <- lo; h <- hi) yield Bounds(l, h))
  }

  /** A manifest file: OCF framing + entry blocks. `garbageTail` plants
    * a final block whose declared count cannot decode (the malformed
    * class). `schema` overridable to plant schema drift.
    */
  def encodeManifest(blocks: Seq[Seq[Entry]], syncSeed: Long,
                     schema: String = SchemaJson,
                     garbageTail: Boolean = false): Array[Byte] = {
    val sync = Array.tabulate(16)(i => ((syncSeed >> ((i % 8) * 8)) + i * 37).toByte)
    val junk = Array[Byte](-1, -1, -1, -1, -1)
    encodeOcf(schema, sync,
      blocks.map(es => (es.size.toLong, es.flatMap(encodeEntry).toArray)) ++
        (if (garbageTail) Seq((1L, junk)) else Nil))
  }

  // ------------------------------------------------------------------
  // the OCF container shared by manifests and manifest lists

  /** An OCF: magic, a `schema` + null-codec metadata map, the sync
    * marker, then one `(recordCount, body)` block per entry, each
    * closed by the sync.
    */
  private def encodeOcf(schema: String, sync: Array[Byte],
                        blocks: Seq[(Long, Array[Byte])]): Array[Byte] = {
    val out = new ByteSink().ascii("Obj").u8(1).avroLong(2L)
      .avroBytes("avro.schema".getBytes("UTF-8")).avroBytes(schema.getBytes("UTF-8"))
      .avroBytes("avro.codec".getBytes("UTF-8")).avroBytes("null".getBytes("UTF-8"))
      .avroLong(0L).raw(sync)
    blocks.foreach { case (cnt, body) =>
      out.avroLong(cnt).avroLong(body.length.toLong).raw(body).raw(sync)
    }
    out.toByteArray
  }

  /** A walked OCF: `valid` 0 iff a block's framing halted the walk
    * (the remainder is `trailing`); `nMalformed` blocks failed to
    * decode and contribute no records.
    */
  private final case class Ocf[T](valid: Int, schemaOk: Boolean, nBlocks: Int,
      nMalformed: Int, records: Seq[T], trailing: Long)

  /** Walk an OCF: the header ([[AvroOps.readHeader]]), then
    * blocks until a framing break (negative count, size overrun, sync
    * mismatch) halts the walk at that block's start. Records decode
    * only when the schema names `recordName` and the codec is null,
    * and a block whose payload `decode` does not consume EXACTLY is
    * malformed. None when the magic or the header is malformed.
    */
  private def walkOcf[T](bytes: Array[Byte], recordName: String)(
      decode: ByteCursor => T): Option[Ocf[T]] = {
    val n = bytes.length
    if (!AvroOps.isOcf(bytes)) return None
    try {
      val r = new ByteCursor(bytes, 4, n)
      val (meta, sync) = AvroOps.readHeader(r)
      val codec = AvroOps.metaValue(meta, "avro.codec").getOrElse("null")
      val schemaOk = AvroOps.metaValue(meta, "avro.schema").exists(_.contains(recordName)) &&
        (codec == "null" || codec.isEmpty)
      var nBlocks = 0
      var nMal = 0
      val out = Seq.newBuilder[T]
      var halted = false
      while (!halted && r.hasMore) {
        val blockStart = r.pos
        try {
          val cnt = r.avroLong()
          val len = r.avroLong()
          if (cnt < 0) throw Malformed
          val br = r.slice(len)
          val blockSync = r.take(16L)
          if (!java.util.Arrays.equals(blockSync, sync)) { r.pos = blockStart; halted = true }
          else {
            nBlocks += 1
            if (schemaOk) {
              try {
                val es = (0L until cnt).map(_ => decode(br))
                if (br.hasMore) throw Malformed
                out ++= es
              } catch { case Malformed => nMal += 1 }
            }
          }
        } catch { case Malformed => r.pos = blockStart; halted = true }
      }
      Some(Ocf(if (halted) 0 else 1, schemaOk, nBlocks, nMal, out.result(), (n - r.pos).toLong))
    } catch {
      case Malformed => None
    }
  }

  // ------------------------------------------------------------------
  // walk

  final case class ManifestMeta(valid: Int, schemaOk: Int, nBlocks: Int,
                                nMalformedBlocks: Int, entries: Seq[Entry],
                                trailingBytes: Long)

  private val Invalid = ManifestMeta(0, 0, 0, 0, Seq.empty, 0L)

  def parseManifest(bytes: Array[Byte]): ManifestMeta =
    walkOcf(bytes, "manifest_entry")(decodeEntry) match {
      case Some(o) => ManifestMeta(o.valid, if (o.schemaOk) 1 else 0, o.nBlocks,
        o.nMalformed, o.records, o.trailing)
      case None => Invalid.copy(trailingBytes = bytes.length.toLong)
    }

  // ------------------------------------------------------------------
  // census DataFrames (map-only, zero shuffles)

  def manifestCensus(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    Payloads.census(df, idCol, payloadCol, "valid", "schema_ok", "n_blocks",
      "n_malformed_blocks", "n_entries", "n_added", "n_existing", "n_deleted", "n_live",
      "live_rows", "live_bytes", "n_partitions", "n_no_bounds", "n_with_snapshot",
      "n_snapshot_ids", "trailing_bytes") { (id, bytes) =>
      val m = parseManifest(bytes)
      val live = m.entries.filter(_.status != 2)
      (id, m.valid.toLong, m.schemaOk.toLong, m.nBlocks.toLong,
        m.nMalformedBlocks.toLong, m.entries.size.toLong,
        m.entries.count(_.status == 1).toLong,
        m.entries.count(_.status == 0).toLong,
        m.entries.count(_.status == 2).toLong,
        live.size.toLong,
        live.map(_.recordCount).sum,
        live.map(_.fileSize).sum,
        live.map(_.partition).distinct.size.toLong,
        live.count(_.bounds.isEmpty).toLong,
        m.entries.count(_.snapshotId.isDefined).toLong,
        // distinct snapshot ids among LIVE entries: a healthy
        // single-writer manifest carries exactly one — the q400
        // dual-write reconciliation's snapshot facet reads this
        live.flatMap(_.snapshotId).distinct.size.toLong,
        m.trailingBytes)
    }

  /** Table-level prune audit over the manifest's live entries:
    * `x > threshold` zone prune via upper bounds (no bounds → scan,
    * counted separately) + partition-value prune.
    */
  def manifestPruneAudit(df: DataFrame, idCol: String, payloadCol: String,
                         threshold: Long, partValue: Int): DataFrame =
    Payloads.census(df, idCol, payloadCol, "n_live", "n_skippable", "n_scanned",
      "rows_scanned", "n_scanned_no_bounds", "n_part_match",
      "n_part_pruned") { (id, bytes) =>
      val live = parseManifest(bytes).entries.filter(_.status != 2)
      val skippable = live.filter(_.bounds.exists(_.max <= threshold))
      val scanned = live.filterNot(_.bounds.exists(_.max <= threshold))
      (id, live.size.toLong, skippable.size.toLong, scanned.size.toLong,
        scanned.filter(_.bounds.isDefined).map(_.recordCount).sum,
        scanned.count(_.bounds.isEmpty).toLong,
        live.count(_.partition == partValue).toLong,
        live.count(_.partition != partValue).toLong)
    }

  // ------------------------------------------------------------------
  // table-root descent (r13 verdict item 4): metadata.json →
  // manifest-list Avro → manifests — the walk a real Iceberg reader
  // performs from a bare table location. The manifest census above
  // starts one layer too deep (it needs someone to hand it manifest
  // FILES); this layer starts from the table's own metadata document.

  /** manifest-list record, pinned v1 subset: path, length, spec id,
    * writing snapshot, and the per-kind file-count CLAIMS a planner
    * trusts before opening any manifest — which is exactly why the
    * table census audits them against the decoded truth.
    */
  final case class MFile(path: String, length: Long, specId: Int,
                         addedSnapshotId: Option[Long], nAdded: Int,
                         nExisting: Int, nDeleted: Int)

  val ListSchemaJson: String =
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"added_snapshot_id","type":["null","long"]},
      |{"name":"added_files_count","type":["null","int"]},
      |{"name":"existing_files_count","type":["null","int"]},
      |{"name":"deleted_files_count","type":["null","int"]}]}"""
      .stripMargin.replace("\n", "")

  def encodeMFile(e: MFile): Array[Byte] = {
    val out = new ByteSink()
    out.avroBytes(e.path.getBytes("UTF-8"))
    out.avroLong(e.length)
    out.avroLong(e.specId.toLong)
    e.addedSnapshotId match {
      case Some(id) => out.avroLong(1L); out.avroLong(id)
      case None => out.avroLong(0L)
    }
    def optInt(v: Int): Unit = { out.avroLong(1L); out.avroLong(v.toLong) }
    optInt(e.nAdded); optInt(e.nExisting); optInt(e.nDeleted)
    out.toByteArray
  }

  private def decodeMFile(r: ByteCursor): MFile = {
    val path = new String(r.take(r.avroLong()), "UTF-8")
    val length = r.avroLong()
    val specId = r.avroLong().toInt
    val snap = r.avroLong() match {
      case 0L => None
      case 1L => Some(r.avroLong())
      case _ => throw Malformed
    }
    def optInt(): Int = r.avroLong() match {
      case 0L => 0
      case 1L => r.avroLong().toInt
      case _ => throw Malformed
    }
    MFile(path, length, specId, snap, optInt(), optInt(), optInt())
  }

  /** A manifest-list file: OCF framing over manifest_file records —
    * same container discipline as [[encodeManifest]].
    */
  def encodeManifestList(files: Seq[MFile], syncSeed: Long,
                         schema: String = ListSchemaJson): Array[Byte] = {
    val sync = Array.tabulate(16)(i => ((syncSeed >> ((i % 8) * 8)) + i * 41).toByte)
    encodeOcf(schema, sync, Seq((files.size.toLong, files.flatMap(encodeMFile).toArray)))
  }

  final case class ListMeta(valid: Int, schemaOk: Int, files: Seq[MFile])

  /** Same contracts as [[parseManifest]]: decode only when the embedded
    * schema names manifest_file and the codec is null; EXACT payload
    * consumption per block or the block contributes nothing; any
    * framing break rolls the file back whole (fail-closed).
    */
  def parseManifestList(bytes: Array[Byte]): ListMeta =
    walkOcf(bytes, "manifest_file")(decodeMFile) match {
      case Some(o) => ListMeta(o.valid, if (o.schemaOk) 1 else 0, o.records)
      case None => ListMeta(0, 0, Seq.empty)
    }

  /** The full table-root census: one row per TABLE, walked the way a
    * real reader starts — `vN.metadata.json` (current-snapshot-id
    * resolved against the snapshot list, fully declarative JSON
    * parsing), the current snapshot's manifest-list Avro, then every
    * named manifest file — with the list's file-count CLAIMS audited
    * against the decoded manifests (`n_claims_mismatch`). Honest
    * boundaries: a current-snapshot-id that resolves to no snapshot
    * gates the downstream facets to zero (`current_ok` = 0, the q381
    * convention); a named manifest MISSING from the provided files
    * counts `n_manifests_missing`.
    *
    * Scale shape: metadata parse is per-row expressions; list and
    * manifest decodes are map-only; the composition is two joins keyed
    * (table, path) — manifest metadata rows, bounded by manifest
    * count, never data rows.
    */
  def tableRootCensus(meta: DataFrame, metaTblCol: String, metaJsonCol: String,
                      lists: DataFrame, listTblCol: String, listPathCol: String,
                      listPayloadCol: String,
                      manifests: DataFrame, mTblCol: String, mPathCol: String,
                      mPayloadCol: String): DataFrame = {
    val spark = meta.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types._
    val snapSchema = ArrayType(StructType(Seq(
      StructField("snapshot-id", LongType),
      StructField("manifest-list", StringType))))
    val m = meta.select(
      col(metaTblCol).cast("long").as("tbl"),
      get_json_object(col(metaJsonCol), "$.format-version").cast("long")
        .as("format_version"),
      get_json_object(col(metaJsonCol), "$.current-schema-id").cast("long")
        .as("schema_id"),
      get_json_object(col(metaJsonCol), "$.current-snapshot-id").cast("long")
        .as("current_id"),
      from_json(get_json_object(col(metaJsonCol), "$.snapshots"), snapSchema)
        .as("snaps"))
      .select(col("tbl"), col("format_version"), col("schema_id"),
        col("current_id"),
        coalesce(size(col("snaps")), lit(0)).cast("long").as("n_snapshots"),
        // the current snapshot's manifest-list path — null when the id
        // resolves to no snapshot (the gated class; try_element_at so
        // the empty match is a NULL, not an ANSI index error)
        try_element_at(filter(col("snaps"),
          s => s.getField("snapshot-id") === col("current_id")), lit(1))
          .getField("manifest-list").as("list_path"))
    val listRows = lists.select(col(listTblCol).cast("long").as("tbl"),
        col(listPathCol).as("list_path"), col(listPayloadCol).as("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (tbl, path, bytes) =>
        val lm = parseManifestList(bytes)
        if (lm.valid == 0 || lm.schemaOk == 0)
          Seq((tbl, path, 0, null.asInstanceOf[String], 0L, 0, 0L, 0L, 0L))
        else lm.files.map(f => (tbl, path, 1, f.path, f.specId.toLong,
          1, f.nAdded.toLong, f.nExisting.toLong, f.nDeleted.toLong))
      })
      .toDF("tbl", "list_path", "list_valid", "manifest_path", "spec_id",
        "is_file", "claim_added", "claim_existing", "claim_deleted")
    // per-(table, path) manifest censuses — [[manifestCensus]]'s walk
    // keyed for the list join (that census keys on a single id column)
    val mcKeyed = {
      val base = manifests.select(col(mTblCol).cast("long").as("tbl"),
          col(mPathCol).as("manifest_path"), col(mPayloadCol))
        .as[(Long, String, Array[Byte])]
        .mapPartitions(_.map { case (tbl, path, bytes) =>
          val meta2 = parseManifest(bytes)
          val live = meta2.entries.filter(_.status != 2)
          (tbl, path, meta2.valid.toLong, meta2.schemaOk.toLong,
            meta2.entries.count(_.status == 1).toLong,
            meta2.entries.count(_.status == 0).toLong,
            meta2.entries.count(_.status == 2).toLong,
            live.size.toLong, live.map(_.recordCount).sum,
            live.map(_.fileSize).sum)
        })
      base.toDF("tbl", "manifest_path", "m_valid", "m_schema_ok",
        "dec_added", "dec_existing", "dec_deleted",
        "m_live", "m_rows", "m_bytes")
    }
    val joined = m
      .join(listRows, Seq("tbl", "list_path"), "left")
      .join(mcKeyed, Seq("tbl", "manifest_path"), "left")
    joined.groupBy("tbl").agg(
      first(col("format_version")).as("format_version"),
      first(col("schema_id")).as("schema_id"),
      first(col("n_snapshots")).as("n_snapshots"),
      max(col("list_path").isNotNull.cast("long")).as("current_ok"),
      coalesce(max(col("list_valid")), lit(0)).cast("long").as("list_valid"),
      coalesce(sum(col("is_file")), lit(0L)).cast("long").as("n_manifest_files"),
      coalesce(max(col("spec_id")), lit(-1L)).as("spec_id"),
      sum((col("is_file") === 1 && col("m_valid").isNull).cast("long"))
        .as("n_manifests_missing"),
      sum(((col("claim_added") =!= col("dec_added")) ||
        (col("claim_existing") =!= col("dec_existing")) ||
        (col("claim_deleted") =!= col("dec_deleted"))).cast("long"))
        .as("n_claims_mismatch"),
      coalesce(sum(col("m_live")), lit(0L)).as("n_live"),
      coalesce(sum(col("m_rows")), lit(0L)).as("live_rows"),
      coalesce(sum(col("m_bytes")), lit(0L)).as("live_bytes"),
      coalesce(sum(col("dec_deleted")), lit(0L)).as("n_deleted"))
      .select(col("tbl"), col("format_version"), col("schema_id"),
        col("n_snapshots"), col("current_ok"), col("list_valid"),
        col("n_manifest_files"), col("spec_id"),
        coalesce(col("n_manifests_missing"), lit(0L)).as("n_manifests_missing"),
        coalesce(col("n_claims_mismatch"), lit(0L)).as("n_claims_mismatch"),
        col("n_live"), col("live_rows"), col("live_bytes"), col("n_deleted"))
  }

  /** Deterministic per-table manifest from `k` alone (the q385
    * synthesis convention): nE = 3 + k%4 entries, entry j: status
    * (j+k)%3, snapshot_id present iff j even, partition j%3, rows
    * 10+j, size 100(j+1), x-bounds [10j, 10j+9] absent when k%7==0
    * and j==1; two blocks when k%2==0; a garbage tail block when
    * k%11==0; schema drift (census honestly zeroed) when k%13==0.
    */
  // ------------------------------------------------------------------
  // v2 positional deletes (Iceberg's row-level delete files)

  /** Positional-delete audit — the v2 row-level layer under the
    * file-level census: delete files carry `(data_file_path, pos)`
    * rows, and a reader's net live rows per data file are
    * `record_count − |distinct applicable positions|`. Conservative
    * classes, never silently folded:
    *
    *  - a delete naming a data file the table does NOT have is an
    *    orphan (`n_orphan_deletes`) — it applies to nothing;
    *  - a position at/past the file's record_count names a row that
    *    cannot exist (`n_invalid_pos`) — counted, never applied;
    *  - duplicate `(path, pos)` pairs apply ONCE (row tombstones are
    *    idempotent); the redundancy is reported (`n_dup_deletes`),
    *    because a delete-file compaction job budgets on it.
    *
    * Relational end to end: one distinct over the delete rows, one
    * (table, path) join against file METADATA (bounded by file count),
    * one per-table rollup — delete positions shuffle once, data rows
    * never.
    */
  def positionalDeleteAudit(dataFiles: DataFrame, fTblCol: String,
                            fPathCol: String, fRowsCol: String,
                            deletes: DataFrame, dTblCol: String,
                            dPathCol: String, dPosCol: String): DataFrame = {
    val files = dataFiles.select(col(fTblCol).cast("long").as("tbl"),
      col(fPathCol).as("path"), col(fRowsCol).cast("long").as("rc"))
    val dd = deletes.select(col(dTblCol).cast("long").as("tbl"),
        col(dPathCol).as("path"), col(dPosCol).cast("long").as("pos"))
      .groupBy("tbl", "path", "pos").agg(count(lit(1)).as("c"))
    val applied = col("rc").isNotNull && col("pos").isNotNull &&
      col("pos") < col("rc")
    // two-level rollup: first to the (table, path) grain (rc carried
    // once per file, delete classes summed), then per table — so the
    // file's record count is never multiplied by its delete count
    val perPath = dd.join(files, Seq("tbl", "path"), "full")
      .groupBy("tbl", "path").agg(
        first(col("rc")).as("rc"),
        sum(applied.cast("long")).as("applied"),
        sum((col("pos").isNotNull && col("rc").isNotNull &&
          col("pos") >= col("rc")).cast("long")).as("invalid"),
        sum((col("pos").isNotNull && col("rc").isNull).cast("long")).as("orphan"),
        sum(when(col("pos").isNotNull, col("c") - 1L).otherwise(0L)).as("dups"))
    perPath.groupBy("tbl").agg(
      sum(col("rc").isNotNull.cast("long")).as("n_files"),
      sum(coalesce(col("rc"), lit(0L))).as("total_rows"),
      sum(coalesce(col("applied"), lit(0L))).as("n_deletes_applied"),
      (sum(coalesce(col("rc"), lit(0L))) -
        sum(when(col("rc").isNotNull, col("applied")).otherwise(0L)))
        .as("net_rows"),
      sum(coalesce(col("invalid"), lit(0L))).as("n_invalid_pos"),
      sum(coalesce(col("orphan"), lit(0L))).as("n_orphan_deletes"),
      sum(coalesce(col("dups"), lit(0L))).as("n_dup_deletes"))
  }

  /** Equality-delete BOUNDS — the second v2 delete kind, and an
    * honest-boundary operator by nature: an equality delete (`x = V`)
    * removes an UNKNOWABLE number of rows from metadata alone; all a
    * planner can do with zone maps is bound it. A file is a CANDIDATE
    * when its [min, max] contains any delete key (a bounds-less file
    * is ALWAYS a candidate — the conservative contract), and the net
    * live rows land in
    *
    *   [total − rows_at_risk, total]
    *
    * where rows_at_risk sums candidate files' row counts ONCE each
    * (many keys hitting one file can at most empty it). Resolving the
    * true count requires reading data — exactly what this census
    * exists to avoid claiming. Keys are metadata-sized and broadcast;
    * files stream through one join + two rollups.
    */
  def equalityDeleteBounds(dataFiles: DataFrame, fTblCol: String,
                           fPathCol: String, fRowsCol: String,
                           fMinCol: String, fMaxCol: String,
                           eqDeletes: DataFrame, dTblCol: String,
                           dKeyCol: String): DataFrame = {
    val files = dataFiles.select(col(fTblCol).cast("long").as("tbl"),
      col(fPathCol).as("path"), col(fRowsCol).cast("long").as("rc"),
      col(fMinCol).cast("long").as("lo"), col(fMaxCol).cast("long").as("hi"))
    val keys = eqDeletes.select(col(dTblCol).cast("long").as("tbl"),
      col(dKeyCol).cast("long").as("key")).distinct()
    val nKeys = keys.groupBy("tbl").agg(count(lit(1)).as("n_eq_keys"))
    val perFile = files.join(broadcast(keys), Seq("tbl"), "left")
      .withColumn("_hit", col("key").isNotNull &&
        (col("lo").isNull || col("hi").isNull ||
          (col("key") >= col("lo") && col("key") <= col("hi"))))
      .groupBy("tbl", "path").agg(
        first(col("rc")).as("rc"),
        first((col("lo").isNull || col("hi").isNull).cast("long")).as("nb"),
        max(col("_hit").cast("long")).as("hit"))
    perFile.groupBy("tbl").agg(
      count(lit(1)).as("n_files"),
      sum(col("rc")).as("total_rows"),
      sum(col("hit")).as("n_candidate_files"),
      sum(col("nb")).as("n_files_no_bounds"),
      sum(when(col("hit") === 1, col("rc")).otherwise(0L)).as("rows_at_risk"),
      (sum(col("rc")) - sum(when(col("hit") === 1, col("rc")).otherwise(0L)))
        .as("net_rows_min"),
      sum(col("rc")).as("net_rows_max"))
      .join(nKeys, Seq("tbl"), "left")
      .select(col("tbl"), col("n_files"), col("total_rows"),
        coalesce(col("n_eq_keys"), lit(0L)).as("n_eq_keys"),
        col("n_candidate_files"), col("n_files_no_bounds"),
        col("rows_at_risk"), col("net_rows_min"), col("net_rows_max"))
  }

  /** Deterministic TABLE-ROOT fixture from `k` alone (q402's oracle):
    * metadata.json with nS = 1 + k%4 snapshots (current = 1000+k, the
    * LAST one, naming "snap-{1000+k}.avro"; every 17th table's
    * current-snapshot-id is planted DANGLING — downstream facets
    * gate to zero), one manifest-list of nM = 1 + k%3 manifests
    * (spec id k%2; manifest 0's added-count CLAIM is planted wrong
    * every 13th table), and the manifests: manifest i has
    * nE = 2 + (k+i)%3 entries, entry j status (i+j+k)%3, rows 10+j,
    * size 100(j+1). Returns (metadata JSON, list path, list bytes,
    * (path, manifest bytes) pairs).
    */
  def syntheticTable(k: Long):
      (String, String, Array[Byte], Seq[(String, Array[Byte])]) = {
    val nS = (1 + k % 4).toInt
    val nM = (1 + k % 3).toInt
    val current = if (k % 17 == 0) 999999L else 1000L + k
    val listPath = s"snap-${1000L + k}.avro"
    val snaps = (0 until nS).map { t =>
      val id = if (t == nS - 1) 1000L + k else 900L + k + t
      s"""{"snapshot-id":$id,"timestamp-ms":${1700000000000L + t},"manifest-list":"snap-$id.avro"}"""
    }.mkString("[", ",", "]")
    val metaJson =
      s"""{"format-version":2,"table-uuid":"t$k","current-snapshot-id":$current,""" +
        s""""current-schema-id":${k % 5},"snapshots":$snaps}"""
    def entries(i: Int): Seq[Entry] = {
      val nE = (2 + (k + i) % 3).toInt
      (0 until nE).map(j => Entry(((i + j + k) % 3).toInt, Some(1000L + k),
        s"f${i}_$j.parquet", "PARQUET", j % 3, 10L + j, 100L * (j + 1),
        Some(Bounds(10L * j, 10L * j + 9))))
    }
    val mans = (0 until nM).map(i =>
      s"m$i.avro" -> encodeManifest(Seq(entries(i)), syncSeed = k * 7919L + i))
    val files = (0 until nM).map { i =>
      val es = entries(i)
      MFile(s"m$i.avro", 1000L + i, (k % 2).toInt, Some(1000L + k),
        es.count(_.status == 1) + (if (k % 13 == 0 && i == 0) 1 else 0),
        es.count(_.status == 0), es.count(_.status == 2))
    }
    (metaJson, listPath, encodeManifestList(files, syncSeed = k * 104729L), mans)
  }

  // ------------------------------------------------------------------
  // snapshot LINEAGE (r14 verdict item 5): q402 descends to the
  // CURRENT snapshot; time travel and snapshot-diff need every
  // snapshot's file set. The metadata JSON's snapshot list already
  // names each snapshot's manifest list — the same walk, keyed by
  // snapshot instead of pinned to the current one.

  /** Per-snapshot live-file enumeration: one row per (table,
    * snapshot, live data file) — plus a file-less row per snapshot so
    * empty-but-valid snapshots survive the joins. `snap_ok` is the
    * per-snapshot readability verdict: the manifest list present and
    * valid, and EVERY manifest it names decoded — a snapshot whose
    * metadata cannot be fully enumerated is declined whole (time
    * travel to it would fabricate a table). Plan: explode the
    * snapshot array, map-only list/manifest decodes, two joins keyed
    * (table, path) at manifest-metadata grain; data rows never move.
    */
  def snapshotFiles(meta: DataFrame, metaTblCol: String, metaJsonCol: String,
      lists: DataFrame, listTblCol: String, listPathCol: String,
      listPayloadCol: String, manifests: DataFrame, mTblCol: String,
      mPathCol: String, mPayloadCol: String): DataFrame = {
    val spark = meta.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types._
    val snapSchema = ArrayType(StructType(Seq(
      StructField("snapshot-id", LongType),
      StructField("parent-snapshot-id", LongType),
      StructField("manifest-list", StringType))))
    val snaps = meta.select(col(metaTblCol).cast("long").as("tbl"),
        get_json_object(col(metaJsonCol), "$.current-snapshot-id").cast("long")
          .as("current_id"),
        explode(from_json(get_json_object(col(metaJsonCol), "$.snapshots"),
          snapSchema)).as("s"))
      .select(col("tbl"),
        col("s").getField("snapshot-id").as("snap_id"),
        col("s").getField("parent-snapshot-id").as("parent_id"),
        col("s").getField("manifest-list").as("list_path"),
        (col("s").getField("snapshot-id") === col("current_id"))
          .as("is_current"))
    val listRows = lists.select(col(listTblCol).cast("long").as("tbl"),
        col(listPathCol).as("list_path"), col(listPayloadCol).as("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (tbl, path, bytes) =>
        val lm = parseManifestList(bytes)
        if (lm.valid == 0 || lm.schemaOk == 0)
          Seq((tbl, path, 0, null.asInstanceOf[String]))
        else if (lm.files.isEmpty) Seq((tbl, path, 1, null.asInstanceOf[String]))
        else lm.files.map(f => (tbl, path, 1, f.path))
      })
      .toDF("tbl", "list_path", "list_valid", "manifest_path")
    val manFiles = manifests.select(col(mTblCol).cast("long").as("tbl"),
        col(mPathCol).as("manifest_path"), col(mPayloadCol).as("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (t, p, bytes) =>
        val mm = parseManifest(bytes)
        if (mm.valid == 0 || mm.schemaOk == 0)
          Seq((t, p, 0L, null.asInstanceOf[String], 0L, 0L))
        else {
          val live = mm.entries.filter(_.status != 2)
          if (live.isEmpty) Seq((t, p, 1L, null.asInstanceOf[String], 0L, 0L))
          else live.map(e => (t, p, 1L, e.path, e.recordCount, e.fileSize))
        }
      })
      .toDF("tbl", "manifest_path", "m_valid", "path", "rows", "bytes")
    val j = snaps
      .join(listRows, Seq("tbl", "list_path"), "left")
      .join(manFiles, Seq("tbl", "manifest_path"), "left")
      .localCheckpoint(false) // consumers: ok-verdict + the file rows
    val okAgg = j.groupBy("tbl", "snap_id").agg(
      (min(coalesce(col("list_valid"), lit(0))) === 1 &&
        min(when(col("manifest_path").isNotNull,
          coalesce(col("m_valid"), lit(0L))).otherwise(1L)) === 1)
        .as("snap_ok"))
    j.join(okAgg, Seq("tbl", "snap_id"))
      .select(col("tbl"), col("snap_id"), col("parent_id"), col("is_current"),
        col("snap_ok"), col("path"), col("rows"), col("bytes"))
  }

  /** Snapshot DIFF: current vs its parent, per table — files
    * added/removed by path-set difference, row deltas, and the two
    * lineage signatures an auditor keys on: `fast_forward` (identical
    * file sets — a retried/no-op commit) and `rewrite` (net rows
    * unchanged while files moved — a compaction, not data change).
    * Declined whole (`diff_ok` = 0, counts zeroed) when EITHER side
    * is not fully enumerable or the parent is absent from the chain.
    * One (table, path) full-outer join at file-metadata grain.
    */
  def snapshotDiff(sf0: DataFrame): DataFrame = {
    val sf = sf0.localCheckpoint(false) // consumers: cur meta/files, parent side
    val curMeta = sf.filter(col("is_current"))
      .select(col("tbl"), col("snap_id").as("cur_id"),
        col("parent_id").as("par_id"), col("snap_ok").as("cur_ok"))
      .distinct()
    val parOk = sf.select(col("tbl"), col("snap_id").as("par_id"),
      col("snap_ok").as("par_ok")).distinct()
    val metaJ = curMeta.join(parOk, Seq("tbl", "par_id"), "left")
      .select(col("tbl"), col("cur_id"), col("par_id"),
        (col("cur_ok") && coalesce(col("par_ok"), lit(false))).as("diff_ok"))
      .localCheckpoint(false) // consumers: parent-file filter + final join
    val curF = sf.filter(col("is_current") && col("path").isNotNull)
      .select(col("tbl"), col("path"), col("rows").as("c_rows"))
    val parF = sf.join(metaJ.select(col("tbl"), col("par_id").as("snap_id")),
        Seq("tbl", "snap_id"))
      .filter(col("path").isNotNull)
      .select(col("tbl"), col("path"), col("rows").as("p_rows"))
    val d = curF.join(parF, Seq("tbl", "path"), "full")
      .groupBy("tbl").agg(
        sum(col("p_rows").isNull.cast("long")).as("n_added"),
        sum(col("c_rows").isNull.cast("long")).as("n_removed"),
        sum(when(col("p_rows").isNull, col("c_rows")).otherwise(0L))
          .as("rows_added"),
        sum(when(col("c_rows").isNull, col("p_rows")).otherwise(0L))
          .as("rows_removed"),
        sum(col("c_rows").isNotNull.cast("long")).as("cur_files"),
        sum(coalesce(col("c_rows"), lit(0L))).as("cur_rows"),
        sum(col("p_rows").isNotNull.cast("long")).as("par_files"),
        sum(coalesce(col("p_rows"), lit(0L))).as("par_rows"))
    def z(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(col("diff_ok"), coalesce(c, lit(0L))).otherwise(0L)
    metaJ.join(d, Seq("tbl"), "left")
      .select(col("tbl"), col("diff_ok").cast("long").as("diff_ok"),
        z(col("n_added")).as("n_added"), z(col("n_removed")).as("n_removed"),
        z(col("rows_added")).as("rows_added"),
        z(col("rows_removed")).as("rows_removed"),
        (z(col("rows_added")) - z(col("rows_removed"))).as("net_row_delta"),
        z(col("cur_files")).as("cur_files"), z(col("cur_rows")).as("cur_rows"),
        z(col("par_files")).as("par_files"), z(col("par_rows")).as("par_rows"),
        (col("diff_ok") && coalesce(col("n_added"), lit(0L)) === 0 &&
          coalesce(col("n_removed"), lit(0L)) === 0).cast("long")
          .as("fast_forward"),
        (col("diff_ok") &&
          coalesce(col("rows_added"), lit(0L)) ===
            coalesce(col("rows_removed"), lit(0L)) &&
          (coalesce(col("n_added"), lit(0L)) > 0 ||
            coalesce(col("n_removed"), lit(0L)) > 0)).cast("long")
          .as("rewrite"))
  }

  /** A planted three-snapshot chain for table `k` (the q418
    * closed-form oracle): s0 = {f0, f1} → s1 appends f2 → s2's class
    * by k%4 — 0 append f3 / 1 FAST-FORWARD (same set) / 2 REWRITE
    * (f0+f1 compacted into g01, net rows unchanged) / 3 delete f2.
    * Every 11th table's CURRENT manifest list is truncated — the
    * whole diff must decline. Returns (metadata JSON, (path, list
    * bytes) per snapshot, (path, manifest bytes)).
    */
  def syntheticSnapshotChain(k: Long):
      (String, Seq[(String, Array[Byte])], Seq[(String, Array[Byte])]) = {
    def sid(t: Int): Long = 3000 + k * 10 + t
    val fileDefs = Map( // path -> (rows, bytes)
      "f0" -> (10L, 100L), "f1" -> (12L, 120L), "f2" -> (14L, 140L),
      "f3" -> (16L, 160L), "g01" -> (22L, 220L))
    def man(name: String, paths: Seq[String], snap: Int): (String, Array[Byte]) =
      name -> encodeManifest(Seq(paths.zipWithIndex.map { case (p, j) =>
        val (r, b) = fileDefs(p)
        Entry(1, Some(sid(snap)), s"$p.parquet", "PARQUET", j % 3, r, b,
          Some(Bounds(0L, 9L)))
      }), syncSeed = k * 7919L + name.hashCode)
    val m0 = man(s"m0-$k.avro", Seq("f0", "f1"), 0)
    val m1 = man(s"m1-$k.avro", Seq("f2"), 1)
    val m2 = man(s"m2-$k.avro", Seq("f3"), 2)
    val mg = man(s"mg-$k.avro", Seq("g01"), 2)
    val manifestsOf: Map[Int, Seq[(String, Array[Byte])]] = Map(
      0 -> Seq(m0),
      1 -> Seq(m0, m1),
      2 -> ((k % 4).toInt match {
        case 0 => Seq(m0, m1, m2)
        case 1 => Seq(m0, m1)
        case 2 => Seq(mg, m1)
        case _ => Seq(m0)
      }))
    def listOf(t: Int): Array[Byte] = {
      val bytes = encodeManifestList(manifestsOf(t).map { case (p, _) =>
        MFile(p, 1000L, 0, Some(sid(t)), 2, 0, 0)
      }, syncSeed = k * 104729L + t)
      if (t == 2 && k % 11 == 0) bytes.take(10) else bytes // declined class
    }
    val snapsJson = (0 to 2).map { t =>
      val parent = if (t == 0) "" else s""""parent-snapshot-id":${sid(t - 1)},"""
      s"""{"snapshot-id":${sid(t)},$parent"manifest-list":"sl-$k-$t.avro"}"""
    }.mkString("[", ",", "]")
    val metaJson =
      s"""{"format-version":2,"table-uuid":"c$k","current-snapshot-id":${sid(2)},""" +
        s""""current-schema-id":0,"snapshots":$snapsJson}"""
    val lists = (0 to 2).map(t => s"sl-$k-$t.avro" -> listOf(t))
    val mans = (m0 +: m1 +: ((k % 4).toInt match {
      case 0 => Seq(m2)
      case 2 => Seq(mg)
      case _ => Seq.empty
    })).distinct
    (metaJson, lists, mans)
  }

  def syntheticManifest(k: Long): Array[Byte] = {
    val nE = (3 + k % 4).toInt
    val entries = (0 until nE).map { j =>
      Entry((j + k.toInt) % 3,
        if (j % 2 == 0) Some(1000L + k) else None,
        s"f$j.parquet", "PARQUET", j % 3, 10L + j, 100L * (j + 1),
        if (k % 7 == 0 && j == 1) None else Some(Bounds(10L * j, 10L * j + 9)))
    }
    val blocks =
      if (k % 2 == 0 && nE > 2) Seq(entries.take(2), entries.drop(2))
      else Seq(entries)
    encodeManifest(blocks, syncSeed = k * 104729L,
      schema = if (k % 13 == 0) SchemaJson.replace("manifest_entry", "other_rec")
      else SchemaJson,
      garbageTail = k % 11 == 0)
  }
}
