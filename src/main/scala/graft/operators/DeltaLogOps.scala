package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Delta-Lake transaction-log census — the TABLE-format layer above the
  * file-format walkers (parquet q377/q380, ORC q385/q388, Avro q378):
  * a lake does not hand a planner bare files, it hands a `_delta_log/`
  * directory of versioned JSON commits whose add/remove actions define
  * which files exist AT ALL, which partition they belong to, and what
  * per-file column statistics the planner may prune with — metadata
  * that makes a 100 TB scan skip files before any footer is opened.
  *
  * Input model: one row per log LINE, `(table, version, line)` — i.e.
  * `spark.read.text` over the `_delta_log` JSON files with the version parsed from
  * the filename, which is exactly how the format ships (each
  * `<version>.json` holds newline-delimited JSON actions: `protocol`,
  * `metaData`, `add`, `remove`, `commitInfo`, `txn`).
  *
  * Both passes are fully DECLARATIVE — `get_json_object` + one
  * per-(table,path) window + one per-table groupBy; no UDFs, no
  * mapPartitions. Log replay is a relational fold, so Catalyst owns
  * the plan: state reconstruction ("latest action per path wins")
  * IS a row_number window, and everything downstream is aggregation.
  *
  * Stop-don't-guess: a line that parses as none of the six action
  * kinds is counted `n_malformed`, never guessed at; an `add` whose
  * `stats` string is absent or unparseable joins the census as a
  * file with UNKNOWN rows — and the prune audit scans it (the q380
  * conservative contract: a file you cannot prove skippable is read).
  *
  * References (public format spec, delta-io PROTOCOL.md): actions are
  * single-line JSON; `add.stats` is a JSON *string* (escaped document
  * inside the document) carrying numRecords/minValues/maxValues;
  * `remove` tombstones a path; a later `add` of the same path revives
  * it. Tie inside one version: `add` wins (replace-in-commit).
  */
object DeltaLogOps {

  /** Canonical compact form of a partition-values JSON map: parsed,
    * entry-sorted by key, re-serialized. Checkpoint rows derive
    * `pvals` via `to_json(add.partitionValues)` while JSON-log rows
    * take the raw `get_json_object` substring; without this, any
    * whitespace or key-order difference between the two extractions
    * (or between two writers of the same log) splits one partition
    * into two in `count_distinct(pvals)`. A string that does not
    * parse as a JSON object falls back to its raw form — counted
    * apart, never dropped.
    */
  private def canonPvals(c: Column): Column = {
    import org.apache.spark.sql.types.{MapType, StringType}
    coalesce(
      to_json(map_from_entries(array_sort(map_entries(
        from_json(c, MapType(StringType, StringType)))))),
      c)
  }

  /** Per-line parse: action classification + the fields every pass
    * needs. `statsPath` is the stats leaf the prune audit reads (e.g.
    * "x" reads `minValues.x` / `maxValues.x`).
    *
    * ONE `from_json` per line (r15 opt): the previous form ran ~10
    * independent `get_json_object` calls — each a full parse of the
    * line — plus three more over the extracted stats string; profiled
    * at ~13 µs/line, it dominated every lake-census query. Partial
    * schemas ignore unknown fields, a line that is not JSON yields all
    * null (same malformed classification), string-typed fields capture
    * non-string JSON values as their text (so `commitInfo`/`txn`
    * presence and the embedded `stats` document read identically), and
    * partitionValues parses straight into the sorted-entry canonical
    * form `canonPvals` previously rebuilt from the raw substring.
    */
  private def parsed(log: DataFrame, tableCol: String, versionCol: String,
                     lineCol: String, statsPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    val lineSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("size", LongType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("stats", StringType)))),
      StructField("remove", StructType(Seq(StructField("path", StringType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", LongType),
        StructField("minWriterVersion", LongType)))),
      StructField("metaData", StructType(Seq(StructField("id", StringType)))),
      StructField("commitInfo", StringType),
      StructField("txn", StringType)))
    val statsSchema = StructType(Seq(
      StructField("numRecords", LongType),
      StructField("minValues", StructType(Seq(StructField(statsPath, LongType)))),
      StructField("maxValues", StructType(Seq(StructField(statsPath, LongType))))))
    log
      .select(
        col(tableCol).as("tbl"),
        col(versionCol).cast("long").as("ver"),
        from_json(col(lineCol), lineSchema).as("_j"))
      .select(
        col("tbl"), col("ver"),
        col("_j.add.path").as("add_path"),
        col("_j.remove.path").as("rm_path"),
        col("_j.protocol.minReaderVersion").as("proto_r"),
        col("_j.protocol.minWriterVersion").as("proto_w"),
        col("_j.metaData.id").as("meta_id"),
        (col("_j.commitInfo").isNotNull || col("_j.txn").isNotNull).as("is_info"),
        col("_j.add.size").as("size"),
        to_json(map_from_entries(array_sort(map_entries(
          col("_j.add.partitionValues"))))).as("pvals"),
        from_json(col("_j.add.stats"), statsSchema).as("_st"))
      .select(col("tbl"), col("ver"), col("add_path"), col("rm_path"),
        col("proto_r"), col("proto_w"), col("meta_id"), col("is_info"),
        col("size"), col("pvals"),
        col("_st.numRecords").as("n_rows"),
        col(s"_st.minValues.$statsPath").as("min_v"),
        col(s"_st.maxValues.$statsPath").as("max_v"))
  }

  /** The LIVE file set: latest action per (table, path) wins; within a
    * version an add beats a remove (replace-in-commit). One shuffle on
    * (table, path).
    */
  private def liveFiles(p: DataFrame): DataFrame = {
    val acts = p.filter(col("add_path").isNotNull || col("rm_path").isNotNull)
      .select(col("tbl"), col("ver"),
        coalesce(col("add_path"), col("rm_path")).as("path"),
        col("add_path").isNotNull.as("is_add"),
        col("size"), col("pvals"), col("n_rows"), col("min_v"), col("max_v"))
    val w = Window.partitionBy("tbl", "path")
      .orderBy(col("ver").desc, col("is_add").desc)
    acts.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("is_add"))
      .drop("_rn", "is_add")
  }

  /** The live-set aggregate over the latest action per (table, path)
    * — `is_add`, `size`, `n_rows`, `pvals` per row: live and tombstoned
    * file counts, live bytes and rows, live files without stats, live
    * partitions. Every snapshot census groups by `tbl` with it.
    */
  private val liveSetAgg: Seq[Column] = Seq(
    sum(col("is_add").cast("long")).as("n_live"),
    sum((!col("is_add")).cast("long")).as("n_tombstones"),
    sum(when(col("is_add"), col("size"))).as("live_bytes"),
    sum(when(col("is_add"), col("n_rows"))).as("live_rows"),
    sum((col("is_add") && col("n_rows").isNull).cast("long")).as("n_live_no_stats"),
    count_distinct(when(col("is_add"), col("pvals"))).as("n_partitions"))

  /** The live-set columns after the left join onto the table set, zero
    * for a table with no live action.
    */
  private val liveSetCols: Seq[Column] =
    Seq("n_live", "n_tombstones", "live_bytes", "live_rows", "n_live_no_stats",
      "n_partitions").map(c => coalesce(col(c), lit(0L)).as(c))

  /** Snapshot census per table: versions, protocol, action tallies,
    * live-set size/bytes/rows, live partition count, and the honest
    * boundaries (`n_malformed` lines, `n_live_no_stats` files whose
    * rows are unknowable). Two shuffles total: the (table, path)
    * window and the per-table groupBy.
    */
  def snapshotCensus(log: DataFrame, tableCol: String, versionCol: String,
                     lineCol: String, statsPath: String = "x"): DataFrame = {
    val p = parsed(log, tableCol, versionCol, lineCol, statsPath)
      .localCheckpoint(false) // three consumers: lines, latest-protocol, live set
    val known = col("add_path").isNotNull || col("rm_path").isNotNull ||
      col("proto_r").isNotNull || col("meta_id").isNotNull || col("is_info")
    val lineAgg = p.groupBy("tbl").agg(
      count(lit(1)).as("n_lines"),
      count_distinct(col("ver")).as("n_versions"),
      sum(when(!known, 1L).otherwise(0L)).as("n_malformed"),
      sum(col("add_path").isNotNull.cast("long")).as("n_adds"),
      sum(col("rm_path").isNotNull.cast("long")).as("n_removes"),
      // latest protocol by version (protocol rows carry proto_r)
      max_by(col("proto_r"), when(col("proto_r").isNotNull, col("ver"))).as("min_reader"),
      max_by(col("proto_w"), when(col("proto_w").isNotNull, col("ver"))).as("min_writer"))
    // live set AND tombstones from ONE (table, path) window pass:
    // latest action per path, then a single per-table aggregation
    // branching on is_add — not two replays of the same shuffle
    val acts = p.filter(col("add_path").isNotNull || col("rm_path").isNotNull)
      .select(col("tbl"), col("ver"),
        coalesce(col("add_path"), col("rm_path")).as("path"),
        col("add_path").isNotNull.as("is_add"),
        col("size"), col("pvals"), col("n_rows"))
    val w = Window.partitionBy("tbl", "path")
      .orderBy(col("ver").desc, col("is_add").desc)
    val state = acts.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .groupBy("tbl").agg(liveSetAgg.head, liveSetAgg.tail: _*)
    lineAgg
      .join(state, Seq("tbl"), "left")
      .select((Seq(col("tbl"),
        col("n_lines"), col("n_versions"), col("n_malformed"),
        col("n_adds"), col("n_removes"),
        coalesce(col("min_reader"), lit(-1L)).as("min_reader"),
        coalesce(col("min_writer"), lit(-1L)).as("min_writer")) ++ liveSetCols): _*)
  }

  /** Table-level prune audit over the reconstructed snapshot — the
    * planner arithmetic the log exists to enable, under the q380/q388
    * conservative contract. Two independent prunes on the LIVE set:
    *
    *  - zone prune, predicate `x > threshold`: a file is provably
    *    skippable iff its `maxValues.x <= threshold`; a file without
    *    parseable stats is scanned (`rows_scanned` counts only rows
    *    the stats vouch for; `n_scanned_no_stats` counts the blind
    *    spots separately — never silently folded in);
    *  - partition prune, predicate `partition == partValue` on
    *    `partKey`: exact string match on the add's partitionValues.
    */
  def pruneAudit(log: DataFrame, tableCol: String, versionCol: String,
                 lineCol: String, statsPath: String, threshold: Long,
                 partKey: String, partValue: String): DataFrame = {
    val live = liveFiles(parsed(log, tableCol, versionCol, lineCol, statsPath))
    val hasStats = col("max_v").isNotNull
    val skippable = hasStats && col("max_v") <= threshold
    val partMatch = get_json_object(col("pvals"), s"$$.$partKey") === partValue
    live.groupBy("tbl").agg(
      count(lit(1)).as("n_live"),
      sum(skippable.cast("long")).as("n_skippable"),
      sum((!skippable).cast("long")).as("n_scanned"),
      sum(when(!skippable && hasStats, col("n_rows")).otherwise(0L)).as("rows_scanned"),
      sum((!hasStats).cast("long")).as("n_scanned_no_stats"),
      sum(coalesce(partMatch, lit(false)).cast("long")).as("n_part_match"),
      sum((!coalesce(partMatch, lit(false))).cast("long")).as("n_part_pruned"))
  }

  // ------------------------------------------------------------------
  // incremental replay: compact state fold
  //
  // A transaction log only GROWS; the live-set state it encodes is
  // bounded by file count. The fold keeps exactly that: the latest
  // action per (table, path), per-table line/action tallies, the
  // latest protocol, and the distinct version set — so each arriving
  // commit batch costs one latest-wins reduction over (state ∪ batch),
  // never a replay of history. censusFromState over the folded state
  // is spec-pinned EQUAL to snapshotCensus over all lines seen.

  /** The compact state's schema: one DataFrame, `kind`-discriminated
    * ("act" latest-per-path rows, "tally" summed counters, "proto"
    * latest protocol, "ver" distinct versions).
    */
  val StateSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "tbl BIGINT, kind STRING, path STRING, ver BIGINT, is_add BOOLEAN, " +
        "size BIGINT, pvals STRING, n_rows BIGINT, n_lines BIGINT, " +
        "n_malformed BIGINT, n_adds BIGINT, n_removes BIGINT, " +
        "min_reader BIGINT, min_writer BIGINT")

  def emptyState(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StateSchema)

  /** Fold one batch of NEW log lines into the compact state. */
  def foldBatch(state: DataFrame, batch: DataFrame, tableCol: String,
                versionCol: String, lineCol: String,
                statsPath: String = "x"): DataFrame = {
    val p = parsed(batch, tableCol, versionCol, lineCol, statsPath)
      .localCheckpoint(false) // four consumers below
    val known = col("add_path").isNotNull || col("rm_path").isNotNull ||
      col("proto_r").isNotNull || col("meta_id").isNotNull || col("is_info")
    def widen(df: DataFrame): DataFrame =
      df.select(StateSchema.fieldNames.map(f =>
        if (df.columns.contains(f)) col(f) else lit(null).cast(
          StateSchema(f).dataType).as(f)): _*)
    val acts = widen(p
      .filter(col("add_path").isNotNull || col("rm_path").isNotNull)
      .select(col("tbl"), lit("act").as("kind"),
        coalesce(col("add_path"), col("rm_path")).as("path"),
        col("ver"), col("add_path").isNotNull.as("is_add"),
        col("size"), col("pvals"), col("n_rows")))
    val tally = widen(p.groupBy("tbl").agg(
      count(lit(1)).as("n_lines"),
      sum(when(!known, 1L).otherwise(0L)).as("n_malformed"),
      sum(col("add_path").isNotNull.cast("long")).as("n_adds"),
      sum(col("rm_path").isNotNull.cast("long")).as("n_removes"))
      .withColumn("kind", lit("tally")))
    val proto = widen(p.filter(col("proto_r").isNotNull)
      .select(col("tbl"), lit("proto").as("kind"), col("ver"),
        col("proto_r").as("min_reader"), col("proto_w").as("min_writer")))
    val vers = widen(p.select(col("tbl"), lit("ver").as("kind"), col("ver"))
      .distinct())
    val unioned = state.unionByName(acts).unionByName(tally)
      .unionByName(proto).unionByName(vers)
    // re-reduce each kind to its compact form
    val wAct = Window.partitionBy("tbl", "path")
      .orderBy(col("ver").desc, col("is_add").desc)
    val rActs = unioned.filter(col("kind") === "act")
      .withColumn("_rn", row_number().over(wAct))
      .filter(col("_rn") === 1).drop("_rn")
    val rTally = unioned.filter(col("kind") === "tally")
      .groupBy("tbl").agg(
        sum("n_lines").as("n_lines"), sum("n_malformed").as("n_malformed"),
        sum("n_adds").as("n_adds"), sum("n_removes").as("n_removes"))
      .withColumn("kind", lit("tally"))
    val wProto = Window.partitionBy("tbl").orderBy(col("ver").desc)
    val rProto = unioned.filter(col("kind") === "proto")
      .withColumn("_rn", row_number().over(wProto))
      .filter(col("_rn") === 1).drop("_rn")
    val rVers = unioned.filter(col("kind") === "ver")
      .select("tbl", "kind", "ver").distinct()
    widen(rActs).unionByName(widen(rTally)).unionByName(widen(rProto))
      .unionByName(widen(rVers))
  }

  /** The snapshot census off the compact state — same columns and
    * values as [[snapshotCensus]] over every line ever folded.
    */
  def censusFromState(state: DataFrame): DataFrame = {
    val tally = state.filter(col("kind") === "tally")
      .select("tbl", "n_lines", "n_malformed", "n_adds", "n_removes")
    val vers = state.filter(col("kind") === "ver")
      .groupBy("tbl").agg(count(lit(1)).as("n_versions"))
    val proto = state.filter(col("kind") === "proto")
      .select(col("tbl"), col("min_reader"), col("min_writer"))
    val live = state.filter(col("kind") === "act")
      .groupBy("tbl").agg(liveSetAgg.head, liveSetAgg.tail: _*)
    tally
      .join(vers, Seq("tbl"), "left")
      .join(proto, Seq("tbl"), "left")
      .join(live, Seq("tbl"), "left")
      .select((Seq(col("tbl"),
        col("n_lines"), coalesce(col("n_versions"), lit(0L)).as("n_versions"),
        col("n_malformed"), col("n_adds"), col("n_removes"),
        coalesce(col("min_reader"), lit(-1L)).as("min_reader"),
        coalesce(col("min_writer"), lit(-1L)).as("min_writer")) ++ liveSetCols): _*)
  }

  // ------------------------------------------------------------------
  // maintenance layer: VACUUM candidates + schema evolution

  /** VACUUM candidate audit — the question a table-maintenance job
    * asks the log before touching storage: which tombstoned files are
    * past retention (`remove.deletionTimestamp` ≤ cutoff) and how many
    * bytes do they reclaim? The size comes from the path's LAST add
    * (removes often omit it); conservative classes kept apart: a
    * tombstone without a timestamp is NEVER vacuumable
    * (`n_no_timestamp` — deleting it could break a reader inside
    * retention), and a vacuumable file whose size is unknowable is
    * counted (`n_unknown_size`), its bytes never guessed. A re-added
    * path is live, not a tombstone (replay semantics, not action
    * grep). Same plan as the replay: one (table, path) window + one
    * per-path add rollup + one per-table groupBy.
    */
  def vacuumAudit(log: DataFrame, tableCol: String, versionCol: String,
                  lineCol: String, cutoffMs: Long): DataFrame = {
    val line = col(lineCol)
    val p = log.select(
      col(tableCol).as("tbl"),
      col(versionCol).cast("long").as("ver"),
      get_json_object(line, "$.add.path").as("add_path"),
      get_json_object(line, "$.remove.path").as("rm_path"),
      get_json_object(line, "$.add.size").cast("long").as("add_size"),
      get_json_object(line, "$.remove.deletionTimestamp").cast("long").as("rm_ts"))
      .filter(col("add_path").isNotNull || col("rm_path").isNotNull)
      .select(col("tbl"), col("ver"),
        coalesce(col("add_path"), col("rm_path")).as("path"),
        col("add_path").isNotNull.as("is_add"), col("add_size"), col("rm_ts"))
      .localCheckpoint(false) // two consumers: latest-action, add sizes
    val w = Window.partitionBy("tbl", "path")
      .orderBy(col("ver").desc, col("is_add").desc)
    val latest = p.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    val addSizes = p.filter(col("is_add"))
      .groupBy("tbl", "path")
      .agg(max_by(col("add_size"), col("ver")).as("last_add_size"))
    val vacuumable = !col("is_add") && col("rm_ts").isNotNull &&
      col("rm_ts") <= cutoffMs
    latest.join(addSizes, Seq("tbl", "path"), "left")
      .groupBy("tbl").agg(
        sum(col("is_add").cast("long")).as("n_live"),
        sum((!col("is_add")).cast("long")).as("n_tombstones"),
        sum(vacuumable.cast("long")).as("n_vacuumable"),
        sum((!col("is_add") && col("rm_ts").isNull).cast("long"))
          .as("n_no_timestamp"),
        sum(when(vacuumable, coalesce(col("last_add_size"), lit(0L)))
          .otherwise(0L)).as("bytes_reclaimable"),
        sum((vacuumable && col("last_add_size").isNull).cast("long"))
          .as("n_unknown_size"))
  }

  /** Schema-EVOLUTION census — the migration-planning question: how
    * did this table's schema move between its first and latest
    * `metaData` action? Fully declarative: the escaped schemaString
    * unwraps via get_json_object, fields explode via from_json, and
    * FIRST-vs-LATEST columns full-outer join (a column present in
    * both with a different type is a TYPE CHANGE — the class that
    * breaks readers — reported apart from adds/drops).
    */
  def schemaEvolutionCensus(log: DataFrame, tableCol: String,
                            versionCol: String, lineCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val fieldsSchema = ArrayType(StructType(Seq(
      StructField("name", StringType), StructField("type", StringType))))
    val metas = log.select(
      col(tableCol).as("tbl"), col(versionCol).cast("long").as("ver"),
      get_json_object(col(lineCol), "$.metaData.schemaString").as("ss"))
      .filter(col("ss").isNotNull)
      .localCheckpoint(false) // consumers: bounds + two endpoint scans
    val bounds = metas.groupBy("tbl").agg(
      min("ver").as("v_first"), max("ver").as("v_last"),
      count_distinct(col("ver")).as("n_versions"))
    val cols = metas.select(col("tbl"), col("ver"),
      explode(from_json(get_json_object(col("ss"), "$.fields"), fieldsSchema))
        .as("f"))
      .select(col("tbl"), col("ver"),
        col("f.name").as("cname"), col("f.type").as("ctype"))
    val first = cols.join(bounds, Seq("tbl"))
      .filter(col("ver") === col("v_first"))
      .select(col("tbl"), col("cname"), col("ctype").as("t_first"))
    val latest = cols.join(bounds, Seq("tbl"))
      .filter(col("ver") === col("v_last"))
      .select(col("tbl"), col("cname"), col("ctype").as("t_last"))
    first.join(latest, Seq("tbl", "cname"), "full")
      .groupBy("tbl").agg(
        sum(col("t_first").isNotNull.cast("long")).as("n_cols_first"),
        sum(col("t_last").isNotNull.cast("long")).as("n_cols_latest"),
        sum((col("t_first").isNull && col("t_last").isNotNull).cast("long"))
          .as("n_added"),
        sum((col("t_first").isNotNull && col("t_last").isNull).cast("long"))
          .as("n_dropped"),
        sum((col("t_first").isNotNull && col("t_last").isNotNull &&
          col("t_first") =!= col("t_last")).cast("long")).as("n_type_changed"))
      .join(bounds.select(col("tbl"),
        (col("n_versions") - 1).as("n_schema_updates")), Seq("tbl"))
      .select(col("tbl"), col("n_schema_updates"), col("n_cols_first"),
        col("n_cols_latest"), col("n_added"), col("n_dropped"),
        col("n_type_changed"))
  }

  // ------------------------------------------------------------------
  // deletion vectors (modern Delta's default row-level deletes)

  /** Deletion-vector-aware NET-ROW census: in current Delta, row
    * deletes don't rewrite files — the add action carries a
    * `deletionVector` sidecar reference whose `cardinality` counts the
    * file's soft-deleted rows, and the LATEST add's DV state wins
    * whole (a re-add without a DV clears it — compaction's rewrite).
    * File-level replay (q392) overcounts live rows on any table using
    * DVs; this census subtracts them honestly:
    *
    *  - `live_rows`  — stats-vouched rows over live files (q392's
    *    number, before deletes);
    *  - `dv_rows`    — DV cardinality summed over live files
    *    (deletes are REAL even when the file's total is unknown);
    *  - `net_rows`   — Σ (rows − dv) over live files carrying BOTH
    *    stats and a defined total (a stats-less file contributes
    *    nothing here — counted in `n_live_no_stats`, never guessed);
    *  - `n_live_with_dv` — how much of the table rides DVs (the
    *    compaction-debt signal a maintenance job watches).
    *
    * Same plan as the flat replay: one (table, path) window + one
    * per-table groupBy.
    */
  def deletionVectorCensus(log: DataFrame, tableCol: String,
                           versionCol: String, lineCol: String): DataFrame = {
    val line = col(lineCol)
    val stats = get_json_object(line, "$.add.stats")
    val p = log.select(
      col(tableCol).as("tbl"),
      col(versionCol).cast("long").as("ver"),
      get_json_object(line, "$.add.path").as("add_path"),
      get_json_object(line, "$.remove.path").as("rm_path"),
      get_json_object(stats, "$.numRecords").cast("long").as("n_rows"),
      get_json_object(line, "$.add.deletionVector.cardinality").cast("long")
        .as("dv"))
    val acts = p.filter(col("add_path").isNotNull || col("rm_path").isNotNull)
      .select(col("tbl"), col("ver"),
        coalesce(col("add_path"), col("rm_path")).as("path"),
        col("add_path").isNotNull.as("is_add"), col("n_rows"), col("dv"))
    val w = Window.partitionBy("tbl", "path")
      .orderBy(col("ver").desc, col("is_add").desc)
    acts.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("is_add"))
      .groupBy("tbl").agg(
        count(lit(1)).as("n_live"),
        sum((coalesce(col("dv"), lit(0L)) > 0).cast("long")).as("n_live_with_dv"),
        sum(coalesce(col("n_rows"), lit(0L))).as("live_rows"),
        sum(coalesce(col("dv"), lit(0L))).as("dv_rows"),
        sum(when(col("n_rows").isNotNull,
          col("n_rows") - coalesce(col("dv"), lit(0L))).otherwise(0L))
          .as("net_rows"),
        sum(col("n_rows").isNull.cast("long")).as("n_live_no_stats"))
  }

  /** [[syntheticLog]]'s deletion-vector twin (q405's oracle): same
    * file schedule, but every slot j with j % 3 == 0 adds WITH a DV of
    * cardinality j+1 — and the m=2 re-add of f0 carries NO DV (the
    * compaction rewrite that clears delete debt).
    */
  def syntheticLogDv(k: Long): Seq[(Long, String)] = {
    val n0 = (2 + k % 5).toInt
    val m = (k % 3).toInt
    def add(slot: Int, path: String, withDv: Boolean): String = {
      val stats =
        if (k % 7 == 0 && slot == 1) ""
        else {
          val inner = s"""{\\"numRecords\\":${10 + slot},\\"minValues\\":{\\"x\\":${10 * slot}},\\"maxValues\\":{\\"x\\":${10 * slot + 9}}}"""
          s""","stats":"$inner""""
        }
      val dv =
        if (withDv && slot % 3 == 0)
          s""","deletionVector":{"storageType":"u","pathOrInlineDv":"dv$slot","cardinality":${slot + 1}}"""
        else ""
      s"""{"add":{"path":"$path","partitionValues":{"p":"${slot % 3}"},"size":${100 * (slot + 1)},"dataChange":true$stats$dv}}"""
    }
    val v0: Seq[(Long, String)] =
      Seq(0L -> s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""") ++
        (0 until n0).map(j => 0L -> add(j, s"f$j.parquet", withDv = true))
    val v1: Seq[(Long, String)] =
      if (m >= 1)
        Seq(1L -> s"""{"remove":{"path":"f0.parquet","dataChange":true}}""",
          1L -> add(n0, s"f$n0.parquet", withDv = true))
      else Seq.empty
    val v2: Seq[(Long, String)] =
      if (m == 2) Seq(2L -> add(n0 + 1, "f0.parquet", withDv = false))
      else Seq.empty
    v0 ++ v1 ++ v2
  }

  // ------------------------------------------------------------------
  // checkpoint-aware replay (r13 verdict item 1)
  //
  // A production `_delta_log` does not stay JSON forever: every ~10
  // commits the writer drops `NNNN.checkpoint.parquet` — the FULL
  // add/remove/protocol state at version NNNN — and `_last_checkpoint`
  // points at it; VACUUM then deletes old JSON commits. A
  // checkpoint-blind replay is O(full history) and cannot census a
  // vacuumed log AT ALL. The checkpointed census seeds the live-set
  // fold from the checkpoint rows and replays ONLY the JSON commits
  // with version > checkpoint version (the Delta reader's own
  // discipline — retained pre-checkpoint JSONs are already folded into
  // the checkpoint, so they are counted, never re-applied).

  /** The pinned checkpoint-record subset — the nested-struct shape
    * `spark.read.parquet` yields on a real `NNNN.checkpoint.parquet`
    * (one row per action; unused actions null).
    */
  final case class CkptAdd(path: String, partitionValues: Map[String, String],
                           size: java.lang.Long, stats: String)
  final case class CkptRemove(path: String)
  final case class CkptProtocol(minReaderVersion: java.lang.Long,
                                minWriterVersion: java.lang.Long)
  final case class CkptRecord(add: CkptAdd, remove: CkptRemove,
                              protocol: CkptProtocol)

  /** Census over checkpoint + JSON commits. `ckpt` carries one row per
    * checkpoint RECORD: `(ckptTableCol, ckptVerCol — the version from
    * the checkpoint filename / _last_checkpoint, add/remove/protocol
    * structs)`; `log` is the usual one-row-per-JSON-line frame. Tables
    * without a checkpoint replay all their lines (`ckpt_ver` = -1);
    * tables whose pre-checkpoint JSONs were vacuumed census fine from
    * the checkpoint alone (`vacuumed` = 1). The live-set columns are
    * spec-pinned EQUAL to a full [[snapshotCensus]] replay of the
    * unvacuumed history. Same plan shape as the flat replay: one
    * (table, path) window over (checkpoint state ∪ post-commit
    * actions) + per-table groupBys — replay cost is O(checkpoint size
    * + NEW commits), never O(history).
    */
  def checkpointedCensus(ckpt: DataFrame, ckptTableCol: String,
                         ckptVerCol: String, log: DataFrame,
                         tableCol: String, versionCol: String,
                         lineCol: String, statsPath: String = "x"): DataFrame = {
    val cp = ckpt.select(
      col(ckptTableCol).as("tbl"),
      col(ckptVerCol).cast("long").as("cv"),
      col("add.path").as("add_path"),
      col("remove.path").as("rm_path"),
      col("protocol.minReaderVersion").cast("long").as("proto_r"),
      col("protocol.minWriterVersion").cast("long").as("proto_w"),
      col("add.size").cast("long").as("size"),
      // canonical compact JSON of the partition map — same form the
      // JSON-log extraction canonicalizes to, so multi-key or
      // differently-ordered maps never split a partition across the
      // checkpoint/log union
      when(col("add.path").isNotNull,
        canonPvals(to_json(col("add.partitionValues")))).as("pvals"),
      get_json_object(col("add.stats"), "$.numRecords").cast("long").as("n_rows"))
      .localCheckpoint(false) // consumers: version map, tallies, acts
    val ckptVer = cp.groupBy("tbl").agg(max("cv").as("ckpt_ver"))
    val p = parsed(log, tableCol, versionCol, lineCol, statsPath)
      .join(broadcast(ckptVer), Seq("tbl"), "left")
      .withColumn("ckpt_ver", coalesce(col("ckpt_ver"), lit(-1L)))
      .localCheckpoint(false) // consumers: pre tally, post tally, acts
    val known = col("add_path").isNotNull || col("rm_path").isNotNull ||
      col("proto_r").isNotNull || col("meta_id").isNotNull || col("is_info")
    // retained pre-checkpoint lines: already folded into the checkpoint
    // — counted (vacuum evidence), never re-applied
    val pre = p.filter(col("ver") <= col("ckpt_ver"))
      .groupBy("tbl").agg(count(lit(1)).as("n_pre_lines"))
    val post = p.filter(col("ver") > col("ckpt_ver"))
    val postTally = post.groupBy("tbl").agg(
      count(lit(1)).as("n_post_lines"),
      count_distinct(col("ver")).as("n_post_versions"),
      sum(when(!known, 1L).otherwise(0L)).as("n_malformed"),
      sum(col("add_path").isNotNull.cast("long")).as("n_post_adds"),
      sum(col("rm_path").isNotNull.cast("long")).as("n_post_removes"),
      max_by(col("proto_r"), when(col("proto_r").isNotNull, col("ver"))).as("post_reader"),
      max_by(col("proto_w"), when(col("proto_w").isNotNull, col("ver"))).as("post_writer"))
    val ckptTally = cp.groupBy("tbl").agg(
      sum(col("add_path").isNotNull.cast("long")).as("n_ckpt_adds"),
      sum(col("rm_path").isNotNull.cast("long")).as("n_ckpt_removes"),
      max(col("proto_r")).as("ckpt_reader"),
      max(col("proto_w")).as("ckpt_writer"))
    def actCols(ver: Column) = Seq(col("tbl"), ver.as("ver"),
      coalesce(col("add_path"), col("rm_path")).as("path"),
      col("add_path").isNotNull.as("is_add"),
      col("size"), col("pvals"), col("n_rows"))
    val acts = cp.filter(col("add_path").isNotNull || col("rm_path").isNotNull)
      .select(actCols(col("cv")): _*)
      .unionByName(post
        .filter(col("add_path").isNotNull || col("rm_path").isNotNull)
        .select(actCols(col("ver")): _*))
    val w = Window.partitionBy("tbl", "path")
      .orderBy(col("ver").desc, col("is_add").desc)
    val state = acts.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .groupBy("tbl").agg(liveSetAgg.head, liveSetAgg.tail: _*)
    // base table set: a fully-vacuumed quiet table exists ONLY in its
    // checkpoint; a never-checkpointed one only in the log
    val base = p.select(col("tbl"), col("ckpt_ver"))
      .unionByName(ckptVer.select(col("tbl"), col("ckpt_ver")))
      .distinct()
    base
      .join(ckptTally, Seq("tbl"), "left")
      .join(pre, Seq("tbl"), "left")
      .join(postTally, Seq("tbl"), "left")
      .join(state, Seq("tbl"), "left")
      .select((Seq(col("tbl"),
        col("ckpt_ver"),
        coalesce(col("n_ckpt_adds"), lit(0L)).as("n_ckpt_adds"),
        coalesce(col("n_ckpt_removes"), lit(0L)).as("n_ckpt_removes"),
        (col("ckpt_ver") >= 0 && coalesce(col("n_pre_lines"), lit(0L)) === 0)
          .cast("long").as("vacuumed"),
        coalesce(col("n_pre_lines"), lit(0L)).as("n_pre_lines"),
        coalesce(col("n_post_lines"), lit(0L)).as("n_post_lines"),
        coalesce(col("n_post_versions"), lit(0L)).as("n_post_versions"),
        coalesce(col("n_malformed"), lit(0L)).as("n_malformed"),
        coalesce(col("n_post_adds"), lit(0L)).as("n_post_adds"),
        coalesce(col("n_post_removes"), lit(0L)).as("n_post_removes"),
        coalesce(col("post_reader"), col("ckpt_reader"), lit(-1L)).as("min_reader"),
        coalesce(col("post_writer"), col("ckpt_writer"), lit(-1L)).as("min_writer")) ++ liveSetCols): _*)
  }

  /** `_last_checkpoint` pointer audit: the one-line JSON file at the
    * log root (`{"version":N,"size":K[,"parts":P]}`) is how a real
    * reader FINDS the checkpoint without listing the directory — and
    * it can lie: a crashed writer leaves it stale (naming a version
    * newer or older than the checkpoint that exists), and its `size`
    * claim (action count) can drift from the checkpoint's actual
    * records. This audit joins pointer claims against checkpoint
    * reality per table — full outer, so a pointer without a
    * checkpoint and a checkpoint without a pointer both surface.
    * Fully declarative; the per-table frames are metadata-sized.
    */
  def lastCheckpointAudit(pointer: DataFrame, ptrTableCol: String,
                          ptrJsonCol: String, ckpt: DataFrame,
                          ckptTableCol: String, ckptVerCol: String): DataFrame = {
    val p = pointer.select(col(ptrTableCol).cast("long").as("tbl"),
      get_json_object(col(ptrJsonCol), "$.version").cast("long").as("ptr_ver"),
      get_json_object(col(ptrJsonCol), "$.size").cast("long").as("ptr_size"))
    val c = ckpt.select(col(ckptTableCol).cast("long").as("tbl"),
        col(ckptVerCol).cast("long").as("cv"))
      .groupBy("tbl").agg(max("cv").as("cv"), count(lit(1)).as("n_records"))
    p.join(c, Seq("tbl"), "full")
      .select(col("tbl"),
        col("ptr_ver").isNotNull.cast("long").as("has_pointer"),
        col("cv").isNotNull.cast("long").as("has_checkpoint"),
        coalesce(col("ptr_ver"), lit(-1L)).as("pointer_ver"),
        coalesce(col("cv"), lit(-1L)).as("ckpt_ver"),
        coalesce(col("ptr_ver") === col("cv"), lit(false)).cast("long")
          .as("version_match"),
        coalesce(col("ptr_size"), lit(-1L)).as("size_claimed"),
        coalesce(col("n_records"), lit(0L)).as("size_actual"),
        coalesce(col("ptr_size") === col("n_records"), lit(false)).cast("long")
          .as("size_match"))
  }

  // ------------------------------------------------------------------
  // synthetic log generator (tests + the q392/q393 closed-form oracle)

  /** A deterministic per-table log derived from `k` alone — the q385
    * synthesis convention, so an external oracle can recompute every
    * census cell from `k`:
    *
    *   n0 = 2 + k%5 files at version 0 (slot j: path f{j}.parquet,
    *   partition p = j%3, size 100(j+1), rows 10+j, x in
    *   [10j, 10j+9]); slot 1's add ships WITHOUT stats when k%7 == 0;
    *   one malformed line when k%11 == 0. m = k%3 extra history:
    *   m>=1 → version 1 removes f0 and adds slot n0;
    *   m==2 → version 2 RE-adds f0 with slot-(n0+1) contents.
    *
    * Live set: m=0 → slots 0..n0-1; m=1 → 1..n0; m=2 → 1..n0 plus f0
    * reborn as slot n0+1.
    */
  def syntheticLog(k: Long): Seq[(Long, String)] = {
    val n0 = (2 + k % 5).toInt
    val m = (k % 3).toInt
    def add(slot: Int, path: String): String = {
      val stats =
        if (k % 7 == 0 && slot == 1) ""
        else {
          val inner = s"""{\\"numRecords\\":${10 + slot},\\"minValues\\":{\\"x\\":${10 * slot}},\\"maxValues\\":{\\"x\\":${10 * slot + 9}}}"""
          s""","stats":"$inner""""
        }
      s"""{"add":{"path":"$path","partitionValues":{"p":"${slot % 3}"},"size":${100 * (slot + 1)},"dataChange":true$stats}}"""
    }
    val v0: Seq[(Long, String)] =
      Seq(0L -> s"""{"protocol":{"minReaderVersion":${1 + k % 2},"minWriterVersion":${2 + k % 2}}}""",
        0L -> s"""{"metaData":{"id":"t$k","partitionColumns":["p"],"format":{"provider":"parquet"}}}""") ++
        (0 until n0).map(j => 0L -> add(j, s"f$j.parquet")) ++
        (if (k % 11 == 0) Seq(0L -> "corrupt{") else Seq.empty)
    val v1: Seq[(Long, String)] =
      if (m >= 1)
        Seq(1L -> s"""{"commitInfo":{"operation":"WRITE"}}""",
          1L -> s"""{"remove":{"path":"f0.parquet","dataChange":true}}""",
          1L -> add(n0, s"f$n0.parquet"))
      else Seq.empty
    val v2: Seq[(Long, String)] =
      if (m == 2) Seq(2L -> add(n0 + 1, "f0.parquet")) else Seq.empty
    v0 ++ v1 ++ v2
  }

  /** The checkpointed twin of [[syntheticLog]] (the q401 closed-form
    * oracle): `(checkpoint version, checkpoint records, retained JSON
    * lines)` for table `k`, spanning the four real log shapes by
    * `k % 4`:
    *
    *   0 → NO checkpoint (full JSON history — the replay fallback);
    *   1 → checkpoint at version 0, pre-checkpoint JSONs RETAINED;
    *   2 → checkpoint at version 0, pre-checkpoint JSONs VACUUMED;
    *   3 → checkpoint at version min(1, m), vacuumed.
    *
    * The checkpoint records are exactly the state [[syntheticLog]]'s
    * history reaches at the checkpoint version (live adds, the m≥1
    * remove tombstone when checkpointing at v1, the protocol), so the
    * live-set census MUST equal the full-replay census class by class.
    */
  def syntheticCheckpointed(k: Long):
      (Long, Seq[CkptRecord], Seq[(Long, String)]) = {
    val all = syntheticLog(k)
    val n0 = (2 + k % 5).toInt
    val m = (k % 3).toInt
    val c4 = (k % 4).toInt
    val vc: Long = c4 match {
      case 0 => -1L
      case 3 => math.min(1, m).toLong
      case _ => 0L
    }
    def addRec(slot: Int, path: String): CkptRecord = {
      val stats =
        if (k % 7 == 0 && slot == 1) null
        else s"""{"numRecords":${10 + slot},"minValues":{"x":${10 * slot}},"maxValues":{"x":${10 * slot + 9}}}"""
      CkptRecord(CkptAdd(path, Map("p" -> (slot % 3).toString),
        100L * (slot + 1), stats), null, null)
    }
    val recs: Seq[CkptRecord] =
      if (vc < 0) Seq.empty
      else {
        val proto = CkptRecord(null, null,
          CkptProtocol(1 + k % 2, 2 + k % 2))
        val files =
          if (vc == 0) (0 until n0).map(j => addRec(j, s"f$j.parquet"))
          else (1 to n0).map(j => addRec(j, s"f$j.parquet")) :+
            CkptRecord(null, CkptRemove("f0.parquet"), null)
        proto +: files
      }
    val retained =
      if (c4 <= 1) all // full history (no checkpoint / retained JSONs)
      else all.filter(_._1 > vc) // vacuumed prefix
    (vc, recs, retained)
  }

  /** The `_last_checkpoint` pointer for [[syntheticCheckpointed]]'s
    * table `k` (q404's oracle): absent for the no-checkpoint class;
    * STALE version (+1, naming a checkpoint that does not exist)
    * every 19th table; wrong size claim (+2) every 23rd.
    */
  def syntheticLastCheckpoint(k: Long): Option[String] = {
    val (vc, recs, _) = syntheticCheckpointed(k)
    if (vc < 0) None
    else {
      val ver = vc + (if (k % 19 == 0) 1 else 0)
      val size = recs.size + (if (k % 23 == 0) 2 else 0)
      Some(s"""{"version":$ver,"size":$size}""")
    }
  }

  // ------------------------------------------------------------------
  // checkpoint LAYOUT (r14 verdict item 2): multi-part classic and V2
  //
  // Past a size, a writer shards the classic checkpoint into
  // `NNNN.checkpoint.<i>.<n>.parquet` (ALL n parts required — a
  // missing part makes the checkpoint unusable whole, never partially
  // read), and the V2 spec replaces inline actions with a UUID-named
  // manifest (`NNNN.checkpoint.<uuid>.parquet`) whose `sidecar`
  // actions point at files under `_delta_log/_sidecars/` — every
  // claimed sidecar must exist. A real reader therefore selects the
  // NEWEST COMPLETE checkpoint and falls back past incomplete ones;
  // this census does exactly that, declaratively, at metadata grain.

  /** Per-file checkpoint-name parse: version, layout class
    * (1 classic single-file / 2 multi-part / 3 V2 manifest /
    * 0 checkpoint-like-but-malformed name), part index/count for
    * layout 2. Input filenames like `00000000000000000010.checkpoint.
    * 0000000001.0000000003.parquet`.
    */
  private def parseCkptName(f: DataFrame): DataFrame = {
    val n = col("name")
    val reClassic = "^(\\d+)\\.checkpoint\\.parquet$"
    val reMp = "^(\\d+)\\.checkpoint\\.(\\d+)\\.(\\d+)\\.parquet$"
    val reV2 = "^(\\d+)\\.checkpoint\\.([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})\\.parquet$"
    f.select(col("tbl"), n,
      when(regexp_extract(n, reClassic, 1) =!= "",
          regexp_extract(n, reClassic, 1))
        .when(regexp_extract(n, reMp, 1) =!= "", regexp_extract(n, reMp, 1))
        .when(regexp_extract(n, reV2, 1) =!= "", regexp_extract(n, reV2, 1))
        .cast("long").as("ver"),
      when(regexp_extract(n, reClassic, 1) =!= "", lit(1))
        .when(regexp_extract(n, reMp, 1) =!= "", lit(2))
        .when(regexp_extract(n, reV2, 1) =!= "", lit(3))
        .otherwise(lit(0)).as("layout"),
      when(regexp_extract(n, reMp, 2) =!= "",
        regexp_extract(n, reMp, 2).cast("long")).as("part_i"),
      when(regexp_extract(n, reMp, 3) =!= "",
        regexp_extract(n, reMp, 3).cast("long")).as("part_n"))
  }

  /** Checkpoint-layout census per table. Inputs are pure METADATA
    * frames — never data rows:
    *
    *   - `files(tableCol, nameCol)`: the `_delta_log/` listing,
    *     checkpoint files only (JSON commits are the other censuses'
    *     input);
    *   - `claims(clTableCol, clVerCol, clSidecarCol)`: the V2
    *     manifests' sidecar actions (one row per claimed sidecar
    *     file);
    *   - `present(prTableCol, prNameCol)`: the `_sidecars/` listing.
    *
    * Completeness per (table, version): classic — the file exists;
    * multi-part — the parts agree on one n and the distinct indices
    * are exactly 1..n; V2 — the manifest exists and EVERY claimed
    * sidecar is present (no claims = a tiny self-contained manifest,
    * complete). `usable_ver` is the newest COMPLETE version — the one
    * a real reader seeds from; `needs_fallback` = 1 when that is not
    * the newest checkpoint on disk (an incomplete newer one must be
    * skipped). `usable_parts` prices the read: n files for
    * multi-part, 1 + sidecars for V2. Filename-malformed
    * checkpoint-like files are counted (`n_malformed_names`), never
    * guessed at. Plan: two metadata-grain groupBys + broadcast-sized
    * joins, zero data-row shuffles.
    */
  def checkpointLayoutCensus(files: DataFrame, tableCol: String,
      nameCol: String, claims: DataFrame, clTableCol: String,
      clVerCol: String, clSidecarCol: String, present: DataFrame,
      prTableCol: String, prNameCol: String): DataFrame = {
    val f = parseCkptName(files.select(
      col(tableCol).cast("long").as("tbl"), col(nameCol).as("name")))
      .localCheckpoint(false) // consumers: per-version, malformed, base
    val cl = claims.select(col(clTableCol).cast("long").as("tbl"),
        col(clVerCol).cast("long").as("ver"), col(clSidecarCol).as("sc"))
      .join(present.select(col(prTableCol).cast("long").as("tbl"),
        col(prNameCol).as("sc"), lit(1L).as("ex")), Seq("tbl", "sc"), "left")
      .groupBy("tbl", "ver").agg(
        count(lit(1)).as("n_claimed"),
        sum(coalesce(col("ex"), lit(0L))).as("n_present"))
    val perVer = f.filter(col("layout") > 0)
      .groupBy("tbl", "ver").agg(
        max("layout").as("layout"),
        count(lit(1)).as("n_files"),
        count_distinct(col("part_i")).as("nd_pi"),
        min("part_i").as("min_pi"), max("part_i").as("max_pi"),
        min("part_n").as("min_pn"), max("part_n").as("max_pn"))
      .join(cl, Seq("tbl", "ver"), "left")
      .withColumn("complete",
        when(col("layout") === 1, lit(true))
          .when(col("layout") === 2,
            col("min_pn") === col("max_pn") &&
              col("nd_pi") === col("max_pn") &&
              col("min_pi") === 1 && col("max_pi") === col("max_pn") &&
              col("n_files") === col("max_pn"))
          .otherwise( // V2: every claimed sidecar present (or none claimed)
            coalesce(col("n_claimed") === col("n_present"), lit(true))))
      .withColumn("parts",
        when(col("layout") === 3, lit(1L) + coalesce(col("n_claimed"), lit(0L)))
          .otherwise(col("n_files")))
    val roll = perVer.groupBy("tbl").agg(
      sum("n_files").as("n_ckpt_files"),
      count(lit(1)).as("n_versions"),
      sum(col("complete").cast("long")).as("n_complete"),
      sum((!col("complete")).cast("long")).as("n_incomplete"),
      max("ver").as("latest_ver"),
      max(when(col("complete"), col("ver"))).as("usable_ver"),
      max_by(col("layout"), when(col("complete"), col("ver"))).as("usable_layout"),
      max_by(col("parts"), when(col("complete"), col("ver"))).as("usable_parts"))
    val mal = f.filter(col("layout") === 0)
      .groupBy("tbl").agg(count(lit(1)).as("n_malformed_names"))
    f.select("tbl").distinct()
      .join(roll, Seq("tbl"), "left")
      .join(mal, Seq("tbl"), "left")
      .select(col("tbl"),
        coalesce(col("n_ckpt_files"), lit(0L)).as("n_ckpt_files"),
        coalesce(col("n_malformed_names"), lit(0L)).as("n_malformed_names"),
        coalesce(col("n_versions"), lit(0L)).as("n_versions"),
        coalesce(col("n_complete"), lit(0L)).as("n_complete"),
        coalesce(col("n_incomplete"), lit(0L)).as("n_incomplete"),
        coalesce(col("latest_ver"), lit(-1L)).as("latest_ver"),
        coalesce(col("usable_ver"), lit(-1L)).as("usable_ver"),
        (coalesce(col("latest_ver"), lit(-1L)) =!=
          coalesce(col("usable_ver"), lit(-1L))).cast("long")
          .as("needs_fallback"),
        coalesce(col("usable_layout"), lit(0)).cast("long").as("usable_layout"),
        coalesce(col("usable_parts"), lit(0L)).as("usable_parts"))
  }

  /** The `parts` claim check [[lastCheckpointAudit]] lacks: a
    * multi-part `_last_checkpoint` also stamps `"parts":P`, and the
    * spec's contract is that the named checkpoint consists of exactly
    * P files (absent ⇒ single-file). Joins the pointer against the
    * ACTUAL file listing at the named version. `parts_match` = the
    * P-vs-reality verdict; `named_files` = 0 surfaces a pointer at a
    * version with no checkpoint files at all (the stale class).
    */
  def pointerPartsAudit(pointer: DataFrame, ptrTableCol: String,
      ptrJsonCol: String, files: DataFrame, tableCol: String,
      nameCol: String): DataFrame = {
    val p = pointer.select(col(ptrTableCol).cast("long").as("tbl"),
      get_json_object(col(ptrJsonCol), "$.version").cast("long").as("ptr_ver"),
      get_json_object(col(ptrJsonCol), "$.parts").cast("long").as("parts_claimed"))
    val f = parseCkptName(files.select(
        col(tableCol).cast("long").as("tbl"), col(nameCol).as("name")))
      .filter(col("layout") > 0)
      .groupBy("tbl", "ver").agg(count(lit(1)).as("n_at_ver"))
    p.join(f, p("tbl") === f("tbl") && col("ptr_ver") === col("ver"), "left")
      .select(p("tbl"),
        col("ptr_ver").as("pointer_ver"),
        coalesce(col("parts_claimed"), lit(-1L)).as("parts_claimed"),
        coalesce(col("n_at_ver"), lit(0L)).as("named_files"),
        (coalesce(col("parts_claimed"), lit(1L)) ===
          coalesce(col("n_at_ver"), lit(0L))).cast("long").as("parts_match"))
  }

  /** Synthetic checkpoint-file layout for table `k` (the q416
    * closed-form oracle): `(files, claims (ver, sidecar), present
    * sidecars, pointer)`. Classes by `k % 5` at base version
    * v = 2 + k%3:
    *
    *   0 → classic single, complete;
    *   1 → multi-part, n = 2 + k%3 parts, complete;
    *   2 → multi-part n = 3 at v MISSING part 2 + a complete classic
    *       at v−1 (the fallback target);
    *   3 → V2 manifest with s = 1 + k%2 sidecars, all present;
    *   4 → V2 claiming 2 sidecars with one MISSING + a complete
    *       2-part multi-part at v−1.
    *
    * Every 7th table adds a checkpoint-LIKE malformed filename; the
    * pointer (absent when k%4 == 0) names the LATEST version — even
    * when that one is incomplete — with a `parts` claim for
    * multi-part layouts, inflated by 1 every 23rd table.
    */
  def syntheticCheckpointLayout(k: Long):
      (Seq[String], Seq[(Long, String)], Seq[String], Option[String]) = {
    val v = 2 + k % 3
    def pad(n: Long): String = f"$n%020d"
    def mp(ver: Long, i: Int, n: Int): String =
      s"${pad(ver)}.checkpoint.${"%010d".format(i)}.${"%010d".format(n)}.parquet"
    def uuid: String = f"${k % 10}%x0000000-0000-4000-8000-${k}%012d"
    val c = (k % 5).toInt
    val n1 = (2 + k % 3).toInt
    val s3 = (1 + k % 2).toInt
    val (files, claims, present) = c match {
      case 0 => (Seq(s"${pad(v)}.checkpoint.parquet"), Seq.empty, Seq.empty)
      case 1 => ((1 to n1).map(i => mp(v, i, n1)), Seq.empty, Seq.empty)
      case 2 => (Seq(mp(v, 1, 3), mp(v, 3, 3),
        s"${pad(v - 1)}.checkpoint.parquet"), Seq.empty, Seq.empty)
      case 3 =>
        val scs = (0 until s3).map(i => s"sc-$k-$i.parquet")
        (Seq(s"${pad(v)}.checkpoint.$uuid.parquet"),
          scs.map(s => (v, s)), scs)
      case _ =>
        val scs = Seq(s"sc-$k-0.parquet", s"sc-$k-1.parquet")
        (Seq(s"${pad(v)}.checkpoint.$uuid.parquet",
          mp(v - 1, 1, 2), mp(v - 1, 2, 2)),
          scs.map(s => (v, s)), scs.take(1))
    }
    val mal = if (k % 7 == 0) Seq(s"${pad(v)}.checkpoint.weird.parquet")
      else Seq.empty
    val pointer =
      if (k % 4 == 0) None
      else {
        val parts: Option[Int] = c match {
          case 1 => Some(n1 + (if (k % 23 == 0) 1 else 0))
          case 2 => Some(3)
          case _ => None
        }
        Some(parts match {
          case Some(p) => s"""{"version":$v,"size":99,"parts":$p}"""
          case None => s"""{"version":$v,"size":99}"""
        })
      }
    (files ++ mal, claims.toSeq, present.toSeq, pointer)
  }
}
