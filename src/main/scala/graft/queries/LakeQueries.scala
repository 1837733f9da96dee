package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{DeltaLogOps, HudiOps, IcebergOps, Payloads}

/** Lake-format metadata queries: Delta transaction-log census / prune /
  * incremental fold / checkpoint replay / deletion vectors / VACUUM +
  * schema-evolution audits, Iceberg manifest census / prune / table-root
  * descent / positional + equality deletes, the Hudi COW timeline,
  * cross-format net-row reconciliation, and the metadata-only compaction
  * plan. All metadata-grain: data rows never shuffle. Moved verbatim from
  * DataQueries (round-15 split); `Q` ids and oracle SQL byte-identical.
  */
object LakeQueries {


  // --------------------------------------------------------------- q392

  /** q392 — Delta-Lake transaction-log snapshot census
    * ([[graft.operators.DeltaLogOps.snapshotCensus]]): the TABLE-format
    * layer the file walkers (q377/q380 parquet, q385/q388 ORC, q378
    * Avro) sit under — a `_delta_log/` replay that reconstructs which
    * files are LIVE (latest add/remove per path wins, add beats remove
    * inside one commit, a re-add revives a tombstone), the protocol
    * floor, live bytes/rows from the embedded per-file stats strings,
    * and the live partition count. Fully declarative: get_json_object
    * + ONE (table, path) window + one per-table groupBy — log replay
    * as a relational fold, no mapPartitions. Honest boundaries: a line
    * matching no action kind counts n_malformed (planted every 11th
    * table); an add without stats joins as rows-unknown (every 7th).
    * The oracle recomputes the whole census closed-form from the
    * synthesis schedule (slot enumeration, no JSON parsing).
    */
  val q392 = Q("q392_delta_log_census",
    (s, dir) => {
      import s.implicits._
      val log = Tables.docIdsFanned(s, dir)
        .flatMap(k => graft.operators.DeltaLogOps.syntheticLog(k)
          .map { case (v, l) => (k, v, l) })
        .toDF("doc_id", "version", "line")
      graft.operators.DeltaLogOps
        .snapshotCensus(log, "doc_id", "version", "line", "x")
        .withColumnRenamed("tbl", "doc_id")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT doc_id AS k, CAST(2 + doc_id % 5 AS BIGINT) AS n0,
                        doc_id % 3 AS m FROM documents),
      s AS (SELECT k, n0, m, unnest(range(0, n0 + 2)) AS j FROM p),
      sl AS (SELECT k, n0, m, j,
               CASE WHEN m = 0 THEN j < n0
                    WHEN m = 1 THEN j BETWEEN 1 AND n0
                    ELSE (j BETWEEN 1 AND n0) OR j = n0 + 1 END AS live,
               NOT (k % 7 = 0 AND j = 1) AS has_stats
             FROM s),
      agg AS (SELECT k,
                SUM(CASE WHEN live THEN 1 ELSE 0 END) AS n_live,
                SUM(CASE WHEN live THEN 100 * (j + 1) ELSE 0 END) AS live_bytes,
                SUM(CASE WHEN live AND has_stats THEN 10 + j ELSE 0 END) AS live_rows,
                SUM(CASE WHEN live AND NOT has_stats THEN 1 ELSE 0 END) AS n_no_stats,
                COUNT(DISTINCT CASE WHEN live THEN j % 3 END) AS n_parts
              FROM sl GROUP BY k)
      SELECT p.k AS doc_id,
             CAST(2 + n0 + (CASE WHEN p.k % 11 = 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN m >= 1 THEN 3 ELSE 0 END)
                  + (CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines,
             CAST(1 + m AS BIGINT) AS n_versions,
             CAST(CASE WHEN p.k % 11 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_malformed,
             CAST(n0 + (CASE WHEN m >= 1 THEN 1 ELSE 0 END)
                  + (CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_adds,
             CAST(CASE WHEN m >= 1 THEN 1 ELSE 0 END AS BIGINT) AS n_removes,
             CAST(1 + p.k % 2 AS BIGINT) AS min_reader,
             CAST(2 + p.k % 2 AS BIGINT) AS min_writer,
             CAST(agg.n_live AS BIGINT) AS n_live,
             CAST(CASE WHEN m = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_tombstones,
             CAST(agg.live_bytes AS BIGINT) AS live_bytes,
             CAST(agg.live_rows AS BIGINT) AS live_rows,
             CAST(agg.n_no_stats AS BIGINT) AS n_live_no_stats,
             CAST(agg.n_parts AS BIGINT) AS n_partitions
      FROM p JOIN agg ON agg.k = p.k ORDER BY doc_id"""))


  // --------------------------------------------------------------- q393

  /** q393 — Delta-log table-level prune audit
    * ([[graft.operators.DeltaLogOps.pruneAudit]]): q380's zone-map
    * arithmetic lifted to the TABLE format — the log's reconstructed
    * live set carries per-file minValues/maxValues and the partition
    * assignment, so `x > 25` files are provably skippable by
    * maxValues.x alone and `p = '1'` files by the partitionValues
    * string, BEFORE any footer is opened. Conservative contract
    * (q380/q388): a live file without parseable stats is scanned, its
    * rows counted separately as n_scanned_no_stats — blind spots never
    * fold into the vouched-for number. Oracle: closed-form slot replay.
    */
  val q393 = Q("q393_delta_log_prune",
    (s, dir) => {
      import s.implicits._
      val log = Tables.docIdsFanned(s, dir)
        .flatMap(k => graft.operators.DeltaLogOps.syntheticLog(k)
          .map { case (v, l) => (k, v, l) })
        .toDF("doc_id", "version", "line")
      graft.operators.DeltaLogOps
        .pruneAudit(log, "doc_id", "version", "line", "x",
          threshold = 25L, partKey = "p", partValue = "1")
        .withColumnRenamed("tbl", "doc_id")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT doc_id AS k, CAST(2 + doc_id % 5 AS BIGINT) AS n0,
                        doc_id % 3 AS m FROM documents),
      s AS (SELECT k, n0, m, unnest(range(0, n0 + 2)) AS j FROM p),
      sl AS (SELECT k, j,
               CASE WHEN m = 0 THEN j < n0
                    WHEN m = 1 THEN j BETWEEN 1 AND n0
                    ELSE (j BETWEEN 1 AND n0) OR j = n0 + 1 END AS live,
               NOT (k % 7 = 0 AND j = 1) AS has_stats
             FROM s),
      a AS (SELECT k, j, has_stats,
              has_stats AND (10 * j + 9 <= 25) AS skippable,
              j % 3 = 1 AS part_match
            FROM sl WHERE live)
      SELECT k AS doc_id,
             CAST(count(*) AS BIGINT) AS n_live,
             CAST(SUM(CASE WHEN skippable THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable,
             CAST(SUM(CASE WHEN skippable THEN 0 ELSE 1 END) AS BIGINT) AS n_scanned,
             CAST(SUM(CASE WHEN NOT skippable AND has_stats THEN 10 + j ELSE 0 END) AS BIGINT) AS rows_scanned,
             CAST(SUM(CASE WHEN has_stats THEN 0 ELSE 1 END) AS BIGINT) AS n_scanned_no_stats,
             CAST(SUM(CASE WHEN part_match THEN 1 ELSE 0 END) AS BIGINT) AS n_part_match,
             CAST(SUM(CASE WHEN part_match THEN 0 ELSE 1 END) AS BIGINT) AS n_part_pruned
      FROM a GROUP BY k ORDER BY doc_id"""))


  // --------------------------------------------------------------- q400

  /** q400 — lake-format RECONCILIATION: the same logical table state
    * described by BOTH metadata formats — a Delta `_delta_log`
    * (q392's replay) and an Iceberg manifest (q398's Avro record
    * descent) derived from one schedule — must agree on the live set:
    * file count, byte mass, partitions, tombstones. This is the
    * migration-validation pass a Delta→Iceberg (or dual-written) lake
    * actually runs, and it composes the two table layers end to end.
    * Two planted divergences keep the comparison honest: every 7th
    * table's Delta add ships WITHOUT stats, so Delta's vouched-for
    * row sum undercounts where Iceberg's required record_count
    * cannot (rows_match = 0 exactly there); and every 11th table's
    * Iceberg manifest stamps a STALE writing-snapshot id on one live
    * entry — the dual-writer drift the snapshot facet (snap_match,
    * via the census's n_snapshot_ids) must surface, not paper over.
    * Oracle closed-form over the shared schedule.
    */
  val q400 = Q("q400_lake_format_reconciliation",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{DeltaLogOps, IcebergOps}
      val ids = Tables.docIdsFanned(s, dir)
      val log = ids.flatMap(k => DeltaLogOps.syntheticLog(k)
          .map { case (v, l) => (k, v, l) })
        .toDF("doc_id", "version", "line")
      val delta = DeltaLogOps.snapshotCensus(log, "doc_id", "version", "line")
        .select(col("tbl").as("doc_id"),
          col("n_live").as("d_live"), col("live_bytes").as("d_bytes"),
          col("live_rows").as("d_rows"), col("n_partitions").as("d_parts"),
          col("n_tombstones").as("d_tomb"))
      // the Iceberg twin of the SAME schedule: live slots per the
      // Delta history (m=0: 0..n0-1; m=1: 1..n0; m=2: 1..n0 plus f0
      // reborn as slot n0+1), one DELETED tombstone when m=1
      val manifests = Payloads.synth(ids) { id =>
        val k = id // the Delta synthetic keys on the FULL id
        val n0 = (2 + k % 5).toInt
        val m = (k % 3).toInt
        def entry(slot: Int, path: String, status: Int,
                  snap: Long = 1000L + k) =
          IcebergOps.Entry(status, Some(snap), path, "PARQUET",
            slot % 3, 10L + slot, 100L * (slot + 1),
            Some(IcebergOps.Bounds(10L * slot, 10L * slot + 9)))
        val live = m match {
          case 0 => (0 until n0).map(j => entry(j, s"f$j.parquet", 1))
          case 1 => (1 to n0).map(j => entry(j, s"f$j.parquet", 1))
          case _ => (1 to n0).map(j => entry(j, s"f$j.parquet", 1)) :+
            entry(n0 + 1, "f0.parquet", 1)
        }
        // dual-writer drift (every 11th table): one live entry keeps a
        // STALE writing-snapshot id — the snap_match facet's plant
        val planted =
          if (k % 11 == 0) live.head.copy(snapshotId = Some(999L + k)) +: live.tail
          else live
        val tomb = if (m == 1) Seq(entry(0, "f0.parquet", 2)) else Seq.empty
        IcebergOps.encodeManifest(Seq(planted ++ tomb), syncSeed = k * 31L)
      }
      val ice = IcebergOps.manifestCensus(manifests, "doc_id", "payload")
        .select(col("doc_id"),
          col("n_live").as("i_live"), col("live_bytes").as("i_bytes"),
          col("live_rows").as("i_rows"), col("n_partitions").as("i_parts"),
          col("n_deleted").as("i_tomb"), col("n_snapshot_ids").as("i_snaps"))
      delta.join(ice, Seq("doc_id"))
        .select(col("doc_id"),
          col("d_live"), col("i_live"),
          (col("d_live") === col("i_live")).cast("long").as("live_match"),
          (col("d_bytes") === col("i_bytes")).cast("long").as("bytes_match"),
          (col("d_rows") === col("i_rows")).cast("long").as("rows_match"),
          (col("d_parts") === col("i_parts")).cast("long").as("parts_match"),
          (col("d_tomb") === col("i_tomb")).cast("long").as("tomb_match"),
          // one writing snapshot over the live set = a consistent
          // dual-write; the planted stale id reads 0 here
          (col("i_snaps") === 1).cast("long").as("snap_match"))
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT doc_id,
                        CAST(2 + doc_id % 5 AS BIGINT) AS n0,
                        doc_id % 3 AS m FROM documents),
      s AS (SELECT doc_id, n0, m, unnest(range(0, n0 + 2)) AS j FROM p),
      sl AS (SELECT doc_id,
               CASE WHEN m = 0 THEN j < n0
                    WHEN m = 1 THEN j BETWEEN 1 AND n0
                    ELSE (j BETWEEN 1 AND n0) OR j = n0 + 1 END AS live
             FROM s),
      agg AS (SELECT doc_id, SUM(CASE WHEN live THEN 1 ELSE 0 END) AS n_live
              FROM sl GROUP BY doc_id)
      SELECT p.doc_id,
             CAST(agg.n_live AS BIGINT) AS d_live,
             CAST(agg.n_live AS BIGINT) AS i_live,
             CAST(1 AS BIGINT) AS live_match,
             CAST(1 AS BIGINT) AS bytes_match,
             CAST(CASE WHEN p.doc_id % 7 = 0 THEN 0 ELSE 1 END AS BIGINT) AS rows_match,
             CAST(1 AS BIGINT) AS parts_match,
             CAST(1 AS BIGINT) AS tomb_match,
             CAST(CASE WHEN p.doc_id % 11 = 0 THEN 0 ELSE 1 END AS BIGINT) AS snap_match
      FROM p JOIN agg ON agg.doc_id = p.doc_id
      ORDER BY p.doc_id"""))


  // --------------------------------------------------------------- q398

  /** q398 — Iceberg manifest-file census
    * ([[graft.operators.IcebergOps.manifestCensus]]): the SECOND table
    * format (Delta q392/q393/q397 is JSON; Iceberg manifests are Avro
    * object-container files), and the first walker to decode Avro
    * RECORD BODIES — the pinned `manifest_entry` v1-subset: zigzag
    * varints, union indices (optional snapshot_id), nested records,
    * and the bounds maps shipped as arrays of key/value pairs with
    * 8-byte-LE single-value longs. Contracts: record decode runs only
    * when the embedded avro.schema names manifest_entry (drift →
    * schema_ok 0, census zeroed — planted every 13th table); a block
    * whose declared count doesn't decode to EXACT payload consumption
    * counts n_malformed_blocks and contributes nothing (planted every
    * 11th); DELETED entries are tombstones outside the live set.
    * Oracle closed-form by slot enumeration. Map-only, zero shuffles.
    */
  val q398 = Q("q398_iceberg_manifest_census",
    (s, dir) => {
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir))(id =>
        graft.operators.IcebergOps.syntheticManifest(id % 50))
      graft.operators.IcebergOps.manifestCensus(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT doc_id, doc_id % 50 AS k,
                        CAST(3 + (doc_id % 50) % 4 AS BIGINT) AS nE,
                        (doc_id % 50) % 13 = 0 AS drift,
                        (doc_id % 50) % 11 = 0 AS mal
                 FROM documents),
      s AS (SELECT doc_id, k, nE, drift, unnest(range(nE)) AS j FROM p),
      sl AS (SELECT doc_id, j, (j + k) % 3 AS st,
               NOT (k % 7 = 0 AND j = 1) AS hb
             FROM s WHERE NOT drift),
      agg AS (SELECT doc_id,
                COUNT(*) AS n_entries,
                SUM(CASE WHEN st = 1 THEN 1 ELSE 0 END) AS n_added,
                SUM(CASE WHEN st = 0 THEN 1 ELSE 0 END) AS n_existing,
                SUM(CASE WHEN st = 2 THEN 1 ELSE 0 END) AS n_deleted,
                SUM(CASE WHEN st <> 2 THEN 1 ELSE 0 END) AS n_live,
                SUM(CASE WHEN st <> 2 THEN 10 + j ELSE 0 END) AS live_rows,
                SUM(CASE WHEN st <> 2 THEN 100 * (j + 1) ELSE 0 END) AS live_bytes,
                COUNT(DISTINCT CASE WHEN st <> 2 THEN j % 3 END) AS n_parts,
                SUM(CASE WHEN st <> 2 AND NOT hb THEN 1 ELSE 0 END) AS n_nb,
                SUM(CASE WHEN j % 2 = 0 THEN 1 ELSE 0 END) AS n_snap
              FROM sl GROUP BY doc_id)
      SELECT p.doc_id,
             CAST(1 AS BIGINT) AS valid,
             CAST(CASE WHEN drift THEN 0 ELSE 1 END AS BIGINT) AS schema_ok,
             CAST((CASE WHEN k % 2 = 0 THEN 2 ELSE 1 END)
                  + (CASE WHEN mal THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks,
             CAST(CASE WHEN mal AND NOT drift THEN 1 ELSE 0 END AS BIGINT)
               AS n_malformed_blocks,
             CAST(coalesce(CASE WHEN drift THEN 0 ELSE n_entries END, 0) AS BIGINT) AS n_entries,
             CAST(coalesce(n_added, 0) AS BIGINT) AS n_added,
             CAST(coalesce(n_existing, 0) AS BIGINT) AS n_existing,
             CAST(coalesce(n_deleted, 0) AS BIGINT) AS n_deleted,
             CAST(coalesce(n_live, 0) AS BIGINT) AS n_live,
             CAST(coalesce(live_rows, 0) AS BIGINT) AS live_rows,
             CAST(coalesce(live_bytes, 0) AS BIGINT) AS live_bytes,
             CAST(coalesce(n_parts, 0) AS BIGINT) AS n_partitions,
             CAST(coalesce(n_nb, 0) AS BIGINT) AS n_no_bounds,
             CAST(coalesce(n_snap, 0) AS BIGINT) AS n_with_snapshot,
             CAST(CASE WHEN drift THEN 0 ELSE 1 END AS BIGINT) AS n_snapshot_ids,
             CAST(0 AS BIGINT) AS trailing_bytes
      FROM p LEFT JOIN agg ON agg.doc_id = p.doc_id
      ORDER BY p.doc_id"""))


  // --------------------------------------------------------------- q399

  /** q399 — Iceberg manifest prune audit
    * ([[graft.operators.IcebergOps.manifestPruneAudit]]): q380/q388/
    * q393's planner arithmetic at the Iceberg layer — `x > 25` files
    * provably skippable by the decoded upper bound, partition
    * `p == 1` by the partition struct, live entries only, bounds-less
    * files scanned and counted separately (the conservative
    * contract). Oracle closed-form over the same slot schedule.
    */
  val q399 = Q("q399_iceberg_manifest_prune",
    (s, dir) => {
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir))(id =>
        graft.operators.IcebergOps.syntheticManifest(id % 50))
      graft.operators.IcebergOps
        .manifestPruneAudit(synth, "doc_id", "payload",
          threshold = 25L, partValue = 1)
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT doc_id, doc_id % 50 AS k,
                        CAST(3 + (doc_id % 50) % 4 AS BIGINT) AS nE,
                        (doc_id % 50) % 13 = 0 AS drift
                 FROM documents),
      s AS (SELECT doc_id, k, unnest(range(nE)) AS j FROM p WHERE NOT drift),
      sl AS (SELECT doc_id, j,
               NOT (k % 7 = 0 AND j = 1) AS hb,
               j % 3 = 1 AS pm
             FROM s WHERE (j + k) % 3 <> 2),
      a AS (SELECT doc_id, j, hb, pm, hb AND (10 * j + 9 <= 25) AS sk FROM sl),
      agg AS (SELECT doc_id,
                COUNT(*) AS n_live,
                SUM(CASE WHEN sk THEN 1 ELSE 0 END) AS n_sk,
                SUM(CASE WHEN sk THEN 0 ELSE 1 END) AS n_sc,
                SUM(CASE WHEN NOT sk AND hb THEN 10 + j ELSE 0 END) AS rows_sc,
                SUM(CASE WHEN hb THEN 0 ELSE 1 END) AS n_nb,
                SUM(CASE WHEN pm THEN 1 ELSE 0 END) AS n_pm,
                SUM(CASE WHEN pm THEN 0 ELSE 1 END) AS n_pp
              FROM a GROUP BY doc_id)
      SELECT p.doc_id,
             CAST(coalesce(n_live, 0) AS BIGINT) AS n_live,
             CAST(coalesce(n_sk, 0) AS BIGINT) AS n_skippable,
             CAST(coalesce(n_sc, 0) AS BIGINT) AS n_scanned,
             CAST(coalesce(rows_sc, 0) AS BIGINT) AS rows_scanned,
             CAST(coalesce(n_nb, 0) AS BIGINT) AS n_scanned_no_bounds,
             CAST(coalesce(n_pm, 0) AS BIGINT) AS n_part_match,
             CAST(coalesce(n_pp, 0) AS BIGINT) AS n_part_pruned
      FROM p LEFT JOIN agg ON agg.doc_id = p.doc_id
      ORDER BY p.doc_id"""))


  // --------------------------------------------------------------- q397

  /** q397 — INCREMENTAL Delta-log replay under the oracle gate
    * ([[graft.operators.DeltaLogOps.foldBatch]]/censusFromState): the
    * synthetic logs arrive COMMIT BY COMMIT (three version batches),
    * each folding into the compact state — latest action per path +
    * tallies + protocol + version set, bounded by FILE count, never
    * line count — and the census off the folded state must equal
    * q392's full-log answer exactly, so the oracle IS q392's
    * closed-form replay. This is the 100 TB shape: a transaction log
    * only grows, but each arriving commit costs one latest-wins
    * reduction over (state ∪ batch), never a history replay.
    * DeltaLogOpsSpec pins the fold ≡ batch identity and the
    * compactness bound.
    */
  val q397 = Q("q397_delta_log_incremental",
    (s, dir) => {
      import s.implicits._
      import graft.operators.DeltaLogOps
      def lines(v: Long) = Tables.docIdsFanned(s, dir)
        .flatMap(k => DeltaLogOps.syntheticLog(k).collect {
          case (ver, l) if ver == v => (k, ver, l)
        })
        .toDF("doc_id", "version", "line")
      var state = DeltaLogOps.emptyState(s)
      for (v <- 0L to 2L)
        state = DeltaLogOps
          .foldBatch(state, lines(v), "doc_id", "version", "line")
          .localCheckpoint(false)
      DeltaLogOps.censusFromState(state)
        .withColumnRenamed("tbl", "doc_id")
        .orderBy("doc_id")
    },
    q392.oracle) // fold ≡ full-log census: the SAME closed form


  // --------------------------------------------------------------- q405

  /** q405 — Delta DELETION-VECTOR net-row census
    * ([[graft.operators.DeltaLogOps.deletionVectorCensus]]): modern
    * Delta deletes rows WITHOUT rewriting files — the add action
    * carries a deletionVector sidecar whose cardinality counts the
    * file's soft-deleted rows, and the latest add's DV state wins
    * whole (the m=2 re-add ships WITHOUT a DV: compaction clearing
    * delete debt — planted and pinned). File-level replay overcounts
    * live rows on any DV table; this census reports vouched rows, DV
    * rows, net rows (only over stats-bearing files — a stats-less
    * file is counted, never guessed), and the DV-riding file count a
    * maintenance job watches. Oracle closed-form over the q392 slot
    * schedule with DVs on every 3rd slot.
    */
  val q405 = Q("q405_delta_deletion_vectors",
    (s, dir) => {
      import s.implicits._
      val log = Tables.docIdsFanned(s, dir)
        .flatMap(k => graft.operators.DeltaLogOps.syntheticLogDv(k)
          .map { case (v, l) => (k, v, l) })
        .toDF("doc_id", "version", "line")
      graft.operators.DeltaLogOps
        .deletionVectorCensus(log, "doc_id", "version", "line")
        .withColumnRenamed("tbl", "doc_id")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT doc_id AS k, CAST(2 + doc_id % 5 AS BIGINT) AS n0,
                        doc_id % 3 AS m FROM documents),
      s AS (SELECT k, n0, m, unnest(range(0, n0 + 2)) AS j FROM p),
      sl AS (SELECT k, j,
               CASE WHEN m = 0 THEN j < n0
                    WHEN m = 1 THEN j BETWEEN 1 AND n0
                    ELSE (j BETWEEN 1 AND n0) OR j = n0 + 1 END AS live,
               NOT (k % 7 = 0 AND j = 1) AS hs,
               CASE WHEN j % 3 = 0 AND NOT (m = 2 AND j = n0 + 1)
                    THEN j + 1 ELSE 0 END AS dv
             FROM s)
      SELECT k AS doc_id,
        CAST(SUM(CASE WHEN live THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
        CAST(SUM(CASE WHEN live AND dv > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_live_with_dv,
        CAST(SUM(CASE WHEN live AND hs THEN 10 + j ELSE 0 END) AS BIGINT)
          AS live_rows,
        CAST(SUM(CASE WHEN live THEN dv ELSE 0 END) AS BIGINT) AS dv_rows,
        CAST(SUM(CASE WHEN live AND hs THEN 10 + j - dv ELSE 0 END) AS BIGINT)
          AS net_rows,
        CAST(SUM(CASE WHEN live AND NOT hs THEN 1 ELSE 0 END) AS BIGINT)
          AS n_live_no_stats
      FROM sl GROUP BY k ORDER BY doc_id"""))


  // --------------------------------------------------------------- q406

  /** q406 — Iceberg v2 POSITIONAL-DELETE audit
    * ([[graft.operators.IcebergOps.positionalDeleteAudit]]): the
    * row-level layer under the file census — delete files carry
    * (data_file_path, pos) rows; net live rows per data file =
    * record_count − distinct applicable positions. Honest classes
    * planted and separated: an orphan delete naming an absent file
    * (every 11th table) applies to nothing; a position at/past the
    * file's row count (every 7th) names a row that cannot exist;
    * duplicate pairs (every 5th) apply ONCE with the redundancy
    * reported (the delete-compaction budget signal). Relational end
    * to end: one distinct over delete rows, one metadata-grain join,
    * one rollup — data rows never shuffle. Oracle closed-form.
    */
  val q406 = Q("q406_iceberg_positional_deletes",
    (s, dir) => {
      import s.implicits._
      val ids = Tables.docIdsFanned(s, dir)
      val files = ids.flatMap { id =>
        val k = id % 50
        (0 until (2 + k % 4).toInt).map(i => (id, s"d$i.parquet", 10L + i))
      }.toDF("doc_id", "path", "rc")
      val dels = ids.flatMap { id =>
        val k = id % 50
        val nF = (2 + k % 4).toInt
        val base = for { i <- 0 until nF; p <- 0 until i }
          yield (id, s"d$i.parquet", p.toLong)
        base ++
          (if (k % 5 == 0) Seq((id, "d1.parquet", 0L)) else Nil) ++
          (if (k % 7 == 0) Seq((id, "d0.parquet", 999L)) else Nil) ++
          (if (k % 11 == 0) Seq((id, "ghost.parquet", 0L)) else Nil)
      }.toDF("doc_id", "path", "pos")
      graft.operators.IcebergOps
        .positionalDeleteAudit(files, "doc_id", "path", "rc",
          dels, "doc_id", "path", "pos")
        .withColumnRenamed("tbl", "doc_id")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      f AS (SELECT doc_id, k, CAST(2 + k % 4 AS BIGINT) AS nF FROM d)
      SELECT doc_id,
        nF AS n_files,
        CAST(10 * nF + nF * (nF - 1) / 2 AS BIGINT) AS total_rows,
        CAST(nF * (nF - 1) / 2 AS BIGINT) AS n_deletes_applied,
        CAST(10 * nF AS BIGINT) AS net_rows,
        CAST(CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_invalid_pos,
        CAST(CASE WHEN k % 11 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_orphan_deletes,
        CAST(CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_dup_deletes
      FROM f ORDER BY doc_id"""))


  // --------------------------------------------------------------- q408

  /** q408 — Iceberg v2 EQUALITY-delete bounds
    * ([[graft.operators.IcebergOps.equalityDeleteBounds]]): an
    * equality delete (`x = V`) removes an unknowable row count from
    * metadata alone — this census refuses to guess and reports the
    * honest interval instead: candidate files are those whose zone
    * maps contain any key (bounds-less files always candidates —
    * planted every 7th table on file 1), net live rows land in
    * [total − rows_at_risk, total]. Keys broadcast
    * (metadata-sized); files stream one join + two rollups. Oracle
    * closed-form: key t = 10t+5 hits exactly file t when it exists.
    */
  val q408 = Q("q408_iceberg_equality_delete_bounds",
    (s, dir) => {
      import s.implicits._
      val ids = Tables.docIdsFanned(s, dir)
      val files = ids.flatMap { id =>
        val k = id % 50
        (0 until (2 + k % 4).toInt).map { i =>
          val noBounds = k % 7 == 0 && i == 1
          (id, s"d$i.parquet", 10L + i,
            if (noBounds) None else Some(10L * i),
            if (noBounds) None else Some(10L * i + 9))
        }
      }.toDF("doc_id", "path", "rc", "lo", "hi")
      val dels = ids.flatMap { id =>
        val k = id % 50
        (0 until (1 + k % 3).toInt).map(t => (id, 10L * t + 5))
      }.toDF("doc_id", "key")
      graft.operators.IcebergOps
        .equalityDeleteBounds(files, "doc_id", "path", "rc", "lo", "hi",
          dels, "doc_id", "key")
        .withColumnRenamed("tbl", "doc_id")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      p AS (SELECT doc_id, k, CAST(2 + k % 4 AS BIGINT) AS nF,
                   CAST(1 + k % 3 AS BIGINT) AS nK FROM d),
      t AS (SELECT doc_id, k, nF, nK, unnest(range(nF)) AS i FROM p),
      h AS (SELECT doc_id, i,
              CASE WHEN k % 7 = 0 AND i = 1 THEN 1 ELSE 0 END AS nb,
              CASE WHEN i < least(nK, nF)
                     OR (k % 7 = 0 AND i = 1) THEN 1 ELSE 0 END AS hit
            FROM t),
      agg AS (SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_files,
                CAST(SUM(10 + i) AS BIGINT) AS total_rows,
                CAST(SUM(hit) AS BIGINT) AS n_candidate_files,
                CAST(SUM(nb) AS BIGINT) AS n_files_no_bounds,
                CAST(SUM(CASE WHEN hit = 1 THEN 10 + i ELSE 0 END) AS BIGINT)
                  AS rows_at_risk
              FROM h GROUP BY doc_id)
      SELECT p.doc_id, n_files, total_rows, nK AS n_eq_keys,
             n_candidate_files, n_files_no_bounds, rows_at_risk,
             CAST(total_rows - rows_at_risk AS BIGINT) AS net_rows_min,
             total_rows AS net_rows_max
      FROM p JOIN agg ON agg.doc_id = p.doc_id
      ORDER BY p.doc_id"""))


  // --------------------------------------------------------------- q412

  /** q412 — metadata-only compaction PLAN
    * ([[graft.operators.ScaleOps.compactionPlan]]): the grouping half
    * of small-file compaction without touching data — live files
    * (exactly what the table-format censuses reconstruct) bin-pack
    * into ~target-byte rewrite groups by path-ordered running size;
    * the output is the job list a maintenance scheduler dispatches.
    * Pure window algebra over file metadata; the oracle replays the
    * identical arithmetic.
    */
  val q412 = Q("q412_compaction_plan",
    (s, dir) => {
      import s.implicits._
      val files = Tables.docIdsFanned(s, dir)
        .flatMap { id =>
          val k = id % 50
          (0 until (3 + k % 5).toInt).map(i =>
            (id, s"f$i.parquet", 100L * (i + 1) + 50L * (k % 3)))
        }.toDF("doc_id", "path", "size")
      graft.operators.ScaleOps
        .compactionPlan(files, "doc_id", "path", "size", targetBytes = 500L)
        .withColumnRenamed("tbl", "doc_id")
        .orderBy("doc_id", "group_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      p AS (SELECT doc_id, k, CAST(3 + k % 5 AS BIGINT) AS nF,
                   50 * (k % 3) AS extra FROM d),
      s AS (SELECT doc_id, unnest(range(nF)) AS i, extra FROM p),
      f AS (SELECT doc_id, i, 100 * (i + 1) + extra AS size FROM s),
      c AS (SELECT doc_id, i, size,
              coalesce(SUM(size) OVER (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
            FROM f)
      SELECT doc_id, CAST(cum // 500 AS BIGINT) AS group_id,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(size) AS BIGINT) AS group_bytes
      FROM c GROUP BY doc_id, cum // 500
      ORDER BY doc_id, group_id"""))


  // --------------------------------------------------------------- q411

  /** q411 — Hudi TIMELINE census
    * ([[graft.operators.HudiOps.timelineCensus]]): the THIRD lake
    * format — a `.hoodie/` timeline of instant files whose NAMES
    * carry the transaction state (`<ts>.<action>[.inflight|
    * .requested]`; no suffix = completed) and whose completed write
    * contents carry partitionToWriteStats. Honest boundaries: an
    * in-progress instant's stats never count (the transaction may
    * abort — Hudi's snapshot isolation lives in the filename); a
    * completed write whose content fails JSON parse counts
    * n_malformed and contributes nothing; stat-less actions (clean)
    * contribute zero without being malformed. Fully declarative.
    * Oracle closed-form over the instant schedule.
    */
  val q411 = Q("q411_hudi_timeline_census",
    (s, dir) => {
      import s.implicits._
      val timeline = Tables.docIdsFanned(s, dir)
        .flatMap(id => graft.operators.HudiOps.syntheticTimeline(id % 50)
          .map { case (f, c) => (id, f, c) })
        .toDF("doc_id", "fname", "content")
      graft.operators.HudiOps
        .timelineCensus(timeline, "doc_id", "fname", "content")
        .withColumnRenamed("tbl", "doc_id")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      p AS (SELECT doc_id, k, CAST(2 + k % 4 AS BIGINT) AS nI FROM d),
      s AS (SELECT doc_id, k, nI, unnest(range(nI)) AS i FROM p),
      c AS (SELECT doc_id, k, nI, i, i % 3 AS a,
              CASE WHEN i = nI - 1 AND k % 5 < 2 THEN 0 ELSE 1 END AS comp,
              CASE WHEN i = 0 AND k % 11 = 0 THEN 1 ELSE 0 END AS corrupt
            FROM s),
      agg AS (SELECT doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_instants,
                CAST(SUM(comp) AS BIGINT) AS n_completed,
                CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_commits,
                CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_deltacommits,
                CAST(SUM(CASE WHEN a = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cleans,
                CAST(MAX(CASE WHEN comp = 1 THEN 1000 + i END) AS BIGINT)
                  AS latest_completed_ts,
                CAST(SUM(CASE WHEN comp = 1 AND a <> 2 AND corrupt = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_malformed,
                CAST(SUM(CASE WHEN comp = 1 AND a <> 2 AND corrupt = 0
                         THEN 21 + 2 * i ELSE 0 END) AS BIGINT) AS rows_written,
                CAST(SUM(CASE WHEN comp = 1 AND a <> 2 AND corrupt = 0
                         THEN 100 * (2 * i + 3) ELSE 0 END) AS BIGINT) AS bytes_written
              FROM c GROUP BY doc_id)
      SELECT p.doc_id, n_instants, n_completed,
        CAST(CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_inflight,
        CAST(CASE WHEN k % 5 = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_requested,
        n_commits, n_deltacommits, n_cleans, latest_completed_ts,
        rows_written, bytes_written, n_malformed
      FROM p JOIN agg ON agg.doc_id = p.doc_id
      ORDER BY p.doc_id"""))


  // --------------------------------------------------------------- q409

  /** q409 — VACUUM candidate audit
    * ([[graft.operators.DeltaLogOps.vacuumAudit]]): the maintenance
    * question asked before touching storage — which tombstones are
    * past retention and how many bytes do they reclaim? Sizes come
    * from each path's last ADD (removes omit them); planted classes:
    * old tombstones (vacuumable), recent ones (retained), a
    * timestamp-less remove every 5th table (NEVER vacuumable —
    * deleting it could break a reader inside retention), and a
    * re-added path every 3rd (live again, not a tombstone — replay
    * semantics, not action grep). Oracle closed-form.
    */
  val q409 = Q("q409_delta_vacuum_audit",
    (s, dir) => {
      import s.implicits._
      val cutoff = 1700000000000L
      val log = Tables.docIdsFanned(s, dir)
        .flatMap { id =>
          val k = id % 50
          val n0 = (3 + k % 4).toInt
          def add(j: Int) = (id, 0L,
            s"""{"add":{"path":"f$j.parquet","partitionValues":{},"size":${100 * (j + 1)},"dataChange":true}}""")
          def rm(j: Int): (Long, Long, String) = {
            val ts =
              if (k % 5 == 0 && j == 2) ""
              else if (j % 4 == 0) s""","deletionTimestamp":${cutoff - 1000}"""
              else s""","deletionTimestamp":${cutoff + 1000}"""
            (id, 1L, s"""{"remove":{"path":"f$j.parquet","dataChange":true$ts}}""")
          }
          (0 until n0).map(add) ++
            (0 until n0).filter(_ % 2 == 0).map(rm) ++
            (if (k % 3 == 0) Seq((id, 2L, add(0)._3)) else Nil)
        }.toDF("doc_id", "version", "line")
      graft.operators.DeltaLogOps
        .vacuumAudit(log, "doc_id", "version", "line", cutoffMs = cutoff)
        .withColumnRenamed("tbl", "doc_id")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      f AS (SELECT doc_id, k, CAST(3 + k % 4 AS BIGINT) AS n0,
              CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END AS rev,
              CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END AS nots
            FROM d)
      SELECT doc_id,
        CAST(n0 - ((n0 + 1) // 2 - rev) AS BIGINT) AS n_live,
        CAST((n0 + 1) // 2 - rev AS BIGINT) AS n_tombstones,
        CAST(1 - rev + CASE WHEN n0 >= 5 THEN 1 ELSE 0 END AS BIGINT)
          AS n_vacuumable,
        CAST(nots AS BIGINT) AS n_no_timestamp,
        CAST((1 - rev) * 100 + CASE WHEN n0 >= 5 THEN 500 ELSE 0 END AS BIGINT)
          AS bytes_reclaimable,
        CAST(0 AS BIGINT) AS n_unknown_size
      FROM f ORDER BY doc_id"""))


  // --------------------------------------------------------------- q410

  /** q410 — schema-EVOLUTION census
    * ([[graft.operators.DeltaLogOps.schemaEvolutionCensus]]): how did
    * the table's schema move between its first and latest metaData
    * action — columns added, dropped, and TYPE-CHANGED (the class
    * that breaks readers, reported apart). Fully declarative: the
    * escaped schemaString unwraps via get_json_object, fields explode
    * via from_json, first-vs-latest full-outer join on column name.
    * Planted: an added column every odd table, a dropped one every
    * 3rd-of-those, a long→string type change every 7th. Oracle
    * closed-form.
    */
  val q410 = Q("q410_delta_schema_evolution",
    (s, dir) => {
      import s.implicits._
      val log = Tables.docIdsFanned(s, dir)
        .flatMap { id =>
          val k = id % 50
          val nC = (2 + k % 3).toInt
          def fieldJson(name: String, tpe: String) =
            s"""{\\"name\\":\\"$name\\",\\"type\\":\\"$tpe\\",\\"nullable\\":true,\\"metadata\\":{}}"""
          def metaLine(ver: Long, fields: Seq[(String, String)]) = (id, ver,
            s"""{"metaData":{"id":"t$k","schemaString":"{\\"type\\":\\"struct\\",\\"fields\\":[${fields.map(f => fieldJson(f._1, f._2)).mkString(",")}]}"}}""")
          val base = (0 until nC).map(j => s"c$j" -> "long")
          val v0 = metaLine(0L, base)
          if (k % 2 == 1) {
            val evolved = base
              .filterNot { case (n, _) => k % 3 == 0 && n == "c0" }
              .map { case (n, t) =>
                if (k % 7 == 0 && n == "c1") (n, "string") else (n, t)
              } :+ ("x" -> "long")
            Seq(v0, metaLine(1L, evolved))
          } else Seq(v0)
        }.toDF("doc_id", "version", "line")
      graft.operators.DeltaLogOps
        .schemaEvolutionCensus(log, "doc_id", "version", "line")
        .withColumnRenamed("tbl", "doc_id")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      f AS (SELECT doc_id, k, CAST(2 + k % 3 AS BIGINT) AS nc,
              k % 2 AS ev,
              CASE WHEN k % 2 = 1 AND k % 3 = 0 THEN 1 ELSE 0 END AS drp,
              CASE WHEN k % 2 = 1 AND k % 7 = 0 THEN 1 ELSE 0 END AS tch
            FROM d)
      SELECT doc_id,
        CAST(ev AS BIGINT) AS n_schema_updates,
        nc AS n_cols_first,
        CAST(nc - drp + ev AS BIGINT) AS n_cols_latest,
        CAST(ev AS BIGINT) AS n_added,
        CAST(drp AS BIGINT) AS n_dropped,
        CAST(tch AS BIGINT) AS n_type_changed
      FROM f ORDER BY doc_id"""))


  // --------------------------------------------------------------- q407

  /** q407 — NET-ROW reconciliation across formats: the q400 live-SET
    * agreement pushed down to the row level — the same logical
    * deletes expressed as Delta deletion vectors (q405) and as
    * Iceberg positional delete files (q406) must yield the same net
    * live rows. Two planted honest divergences: every 7th table's
    * Delta add ships without stats, so Delta's net (which refuses to
    * guess a stats-less file's rows) undercounts where Iceberg's
    * required record_count cannot; and every 13th table drops ONE
    * slot's Iceberg delete file (a delete written to the DV but never
    * to the delete file — the dual-writer drift that actually bites),
    * so Iceberg's net overcounts exactly that DV's cardinality.
    * deletes_match isolates the second class. Oracle closed-form over
    * the shared schedule.
    */
  val q407 = Q("q407_net_row_reconciliation",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{DeltaLogOps, IcebergOps}
      // r16: FOUR generator pipelines flatMap over the same id set —
      // materialize the fanned ids once (lazy local checkpoint) so one
      // scan + one exchange feed all four as narrow stages. The r15
      // form paid scan+repartition per pipeline; the driver's record
      // flagged q407 at 2.1x its frozen baseline (0.56 → 1.19 s).
      val ids = Tables.docIdsFanned(s, dir).localCheckpoint(false)
      val delta = DeltaLogOps.deletionVectorCensus(
          ids.flatMap(k => DeltaLogOps.syntheticLogDv(k)
            .map { case (v, l) => (k, v, l) })
            .toDF("doc_id", "version", "line"),
          "doc_id", "version", "line")
        .select(col("tbl").as("doc_id"), col("net_rows").as("d_net"),
          col("dv_rows").as("d_deletes"))
      def liveSlots(k: Long): (Seq[Int], Seq[Int]) = {
        val n0 = (2 + k % 5).toInt
        val m = (k % 3).toInt
        val live: Seq[Int] = m match {
          case 0 => 0 until n0
          case 1 => 1 to n0
          case _ => (1 to n0) :+ (n0 + 1)
        }
        val dvSlots = live.filter(j => j % 3 == 0 && !(m == 2 && j == n0 + 1))
        (live, dvSlots)
      }
      val files = ids.flatMap { k =>
        liveSlots(k)._1.map(j => (k, s"g$j.parquet", 10L + j))
      }.toDF("doc_id", "path", "rc")
      val dels = ids.flatMap { k =>
        val (_, dvSlots) = liveSlots(k)
        // the dual-writer drift: every 13th table never writes the
        // LOWEST DV'd slot's delete file
        val written =
          if (k % 13 == 0) dvSlots.sorted.drop(1) else dvSlots
        written.flatMap(j => (0 until (j + 1)).map(p =>
          (k, s"g$j.parquet", p.toLong)))
      }.toDF("doc_id", "path", "pos")
      val ice = IcebergOps.positionalDeleteAudit(files, "doc_id", "path", "rc",
          dels, "doc_id", "path", "pos")
        .select(col("tbl").as("doc_id"), col("net_rows").as("i_net"),
          col("n_deletes_applied").as("i_deletes"))
      // the THIRD format (r15): the same logical deletes as Hudi MOR
      // delete logs — one file group per live slot, the DV cardinality
      // as the log's delete count. Hudi's drift class is transactional:
      // every 11th table's lowest delete log was written by an INFLIGHT
      // deltacommit, and the reader's completed-only filter (the q411
      // discipline) excludes it before the file-group census.
      val hFiles = ids.flatMap { k =>
        val (live, dvSlots) = liveSlots(k)
        val inflight = if (k % 11 == 0) dvSlots.sorted.headOption else None
        live.map(j => (k, s"g$j", "base", 100L, 10L, 10L + j, 0L, 0L,
          "completed")) ++
          dvSlots.map(j => (k, s"g$j", "log", 100L, 10L, 0L, 0L,
            (j + 1).toLong,
            if (inflight.contains(j)) "inflight" else "completed"))
      }.toDF("doc_id", "fid", "kind", "ts", "bytes", "rows", "ins", "del",
        "state")
      val hudi = HudiOps.morFileGroups(
          hFiles.filter(col("state") === "completed"),
          "doc_id", "fid", "kind", "ts", "bytes", "rows", "ins", "del")
        .groupBy("tbl").agg(sum("net_rows").as("h_net"),
          sum("log_deletes").as("h_deletes"))
        .select(col("tbl").as("doc_id"), col("h_net"), col("h_deletes"))
      delta.join(ice, Seq("doc_id")).join(hudi, Seq("doc_id"))
        .select(col("doc_id"), col("d_net"), col("i_net"),
          (col("d_net") === col("i_net")).cast("long").as("net_match"),
          col("d_deletes"), col("i_deletes"),
          (col("d_deletes") === col("i_deletes")).cast("long").as("deletes_match"),
          col("h_net"), col("h_deletes"),
          (col("d_net") === col("h_net")).cast("long").as("h_net_match"))
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT doc_id AS k, CAST(2 + doc_id % 5 AS BIGINT) AS n0,
                        doc_id % 3 AS m FROM documents),
      s AS (SELECT k, n0, m, unnest(range(0, n0 + 2)) AS j FROM p),
      sl AS (SELECT k, j,
               CASE WHEN m = 0 THEN j < n0
                    WHEN m = 1 THEN j BETWEEN 1 AND n0
                    ELSE (j BETWEEN 1 AND n0) OR j = n0 + 1 END AS live,
               NOT (k % 7 = 0 AND j = 1) AS hs,
               CASE WHEN j % 3 = 0 AND NOT (m = 2 AND j = n0 + 1)
                    THEN j + 1 ELSE 0 END AS dv
             FROM s),
      agg AS (SELECT k,
                SUM(CASE WHEN live THEN 10 + j ELSE 0 END) AS rows_all,
                SUM(CASE WHEN live AND hs THEN 10 + j - dv ELSE 0 END) AS d_net,
                SUM(CASE WHEN live THEN dv ELSE 0 END) AS d_del,
                MIN(CASE WHEN live AND dv > 0 THEN j END) AS min_dv_j
              FROM sl GROUP BY k),
      f AS (SELECT k, rows_all, d_net, d_del,
              CASE WHEN k % 13 = 0 AND min_dv_j IS NOT NULL
                   THEN min_dv_j + 1 ELSE 0 END AS dropped,
              CASE WHEN k % 11 = 0 AND min_dv_j IS NOT NULL
                   THEN min_dv_j + 1 ELSE 0 END AS dropped_h
            FROM agg)
      SELECT k AS doc_id,
        CAST(d_net AS BIGINT) AS d_net,
        CAST(rows_all - (d_del - dropped) AS BIGINT) AS i_net,
        CAST(CASE WHEN d_net = rows_all - (d_del - dropped) THEN 1 ELSE 0 END
          AS BIGINT) AS net_match,
        CAST(d_del AS BIGINT) AS d_deletes,
        CAST(d_del - dropped AS BIGINT) AS i_deletes,
        CAST(CASE WHEN dropped = 0 THEN 1 ELSE 0 END AS BIGINT) AS deletes_match,
        CAST(rows_all - (d_del - dropped_h) AS BIGINT) AS h_net,
        CAST(d_del - dropped_h AS BIGINT) AS h_deletes,
        CAST(CASE WHEN d_net = rows_all - (d_del - dropped_h) THEN 1 ELSE 0 END
          AS BIGINT) AS h_net_match
      FROM f ORDER BY doc_id"""))


  // --------------------------------------------------------------- q404

  /** q404 — `_last_checkpoint` pointer audit
    * ([[graft.operators.DeltaLogOps.lastCheckpointAudit]]): the
    * one-line JSON pointer at the log root is how a real reader FINDS
    * the checkpoint without a directory listing — and a crashed
    * writer leaves it lying: naming a version whose checkpoint does
    * not exist (planted every 19th checkpointed table) or claiming an
    * action count the checkpoint's records contradict (every 23rd).
    * Full-outer per-table join of pointer claims vs checkpoint
    * reality, so dangling pointers and pointer-less checkpoints both
    * surface. Oracle closed-form over the q401 schedule (the
    * no-checkpoint class carries no pointer and no row). Metadata-
    * sized frames end to end.
    */
  val q404 = Q("q404_delta_last_checkpoint",
    (s, dir) => {
      import s.implicits._
      import graft.operators.DeltaLogOps
      val ids = Tables.docIdsFanned(s, dir)
      val pointer = ids.flatMap(k =>
        DeltaLogOps.syntheticLastCheckpoint(k).map(j => (k, j)))
        .toDF("doc_id", "json")
      val ckpt = ids.flatMap { k =>
        val (vc, recs, _) = DeltaLogOps.syntheticCheckpointed(k)
        recs.map(_ => (k, vc))
      }.toDF("doc_id", "ckver")
      DeltaLogOps.lastCheckpointAudit(pointer, "doc_id", "json",
          ckpt, "doc_id", "ckver")
        .withColumnRenamed("tbl", "doc_id")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT doc_id AS k, CAST(2 + doc_id % 5 AS BIGINT) AS n0,
                        doc_id % 3 AS m, doc_id % 4 AS c4 FROM documents
                 WHERE doc_id % 4 <> 0),
      f AS (SELECT k, n0, m, c4,
              CASE WHEN c4 = 3 THEN least(1, m) ELSE 0 END AS vc,
              CAST(1 + n0 + CASE WHEN c4 = 3 AND m >= 1 THEN 1 ELSE 0 END
                AS BIGINT) AS size_actual
            FROM p)
      SELECT k AS doc_id,
        CAST(1 AS BIGINT) AS has_pointer,
        CAST(1 AS BIGINT) AS has_checkpoint,
        CAST(vc + CASE WHEN k % 19 = 0 THEN 1 ELSE 0 END AS BIGINT) AS pointer_ver,
        CAST(vc AS BIGINT) AS ckpt_ver,
        CAST(CASE WHEN k % 19 = 0 THEN 0 ELSE 1 END AS BIGINT) AS version_match,
        CAST(size_actual + CASE WHEN k % 23 = 0 THEN 2 ELSE 0 END AS BIGINT)
          AS size_claimed,
        size_actual,
        CAST(CASE WHEN k % 23 = 0 THEN 0 ELSE 1 END AS BIGINT) AS size_match
      FROM f ORDER BY doc_id"""))


  // --------------------------------------------------------------- q402

  /** q402 — Iceberg TABLE-ROOT census
    * ([[graft.operators.IcebergOps.tableRootCensus]]): the two layers
    * q398/q399 stopped under — a real reader starts from
    * `vN.metadata.json` (current-snapshot-id resolved against the
    * snapshot list; fully declarative JSON parsing), follows the
    * current snapshot's manifest-list Avro (`manifest_file` records:
    * path, spec id, per-kind file-count CLAIMS), then opens the named
    * manifests — and this census AUDITS the list's claims against the
    * decoded manifests (n_claims_mismatch, planted every 13th table).
    * Honest boundaries: a dangling current-snapshot-id gates every
    * downstream facet to zero (current_ok = 0, planted every 17th);
    * a named-but-absent manifest counts n_manifests_missing. Oracle
    * closed-form over the slot schedule. Decodes map-only; the
    * composition joins manifest METADATA rows (bounded by manifest
    * count), never data rows.
    */
  val q402 = Q("q402_iceberg_table_root",
    (s, dir) => {
      import s.implicits._
      import graft.operators.IcebergOps
      val ids = Tables.docIdsFanned(s, dir)
      val meta = ids.mapPartitions(_.map { id =>
        (id, IcebergOps.syntheticTable(id % 50)._1)
      }).toDF("doc_id", "meta_json")
      val lists = ids.mapPartitions(_.map { id =>
        val t = IcebergOps.syntheticTable(id % 50)
        (id, t._2, t._3)
      }).toDF("doc_id", "path", "payload")
      val manifests = ids.mapPartitions(_.flatMap { id =>
        IcebergOps.syntheticTable(id % 50)._4
          .map { case (p, b) => (id, p, b) }
      }).toDF("doc_id", "path", "payload")
      IcebergOps.tableRootCensus(
          meta, "doc_id", "meta_json",
          lists, "doc_id", "path", "payload",
          manifests, "doc_id", "path", "payload")
        .withColumnRenamed("tbl", "doc_id")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      c AS (SELECT doc_id, k, CAST(1 + k % 3 AS BIGINT) AS nM,
              k % 17 <> 0 AS ok FROM p),
      mi AS (SELECT doc_id, k, unnest(range(nM)) AS i FROM c WHERE ok),
      e AS (SELECT doc_id, k, i, unnest(range(2 + (k + i) % 3)) AS j FROM mi),
      st AS (SELECT doc_id, j, (i + j + k) % 3 AS s FROM e),
      agg AS (SELECT doc_id,
                SUM(CASE WHEN s <> 2 THEN 1 ELSE 0 END) AS n_live,
                SUM(CASE WHEN s <> 2 THEN 10 + j ELSE 0 END) AS live_rows,
                SUM(CASE WHEN s <> 2 THEN 100 * (j + 1) ELSE 0 END) AS live_bytes,
                SUM(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS n_deleted
              FROM st GROUP BY doc_id)
      SELECT p.doc_id,
        CAST(2 AS BIGINT) AS format_version,
        CAST(k % 5 AS BIGINT) AS schema_id,
        CAST(1 + k % 4 AS BIGINT) AS n_snapshots,
        CAST(CASE WHEN k % 17 = 0 THEN 0 ELSE 1 END AS BIGINT) AS current_ok,
        CAST(CASE WHEN k % 17 = 0 THEN 0 ELSE 1 END AS BIGINT) AS list_valid,
        CAST(CASE WHEN k % 17 = 0 THEN 0 ELSE 1 + k % 3 END AS BIGINT)
          AS n_manifest_files,
        CAST(CASE WHEN k % 17 = 0 THEN -1 ELSE k % 2 END AS BIGINT) AS spec_id,
        CAST(0 AS BIGINT) AS n_manifests_missing,
        CAST(CASE WHEN k % 17 <> 0 AND k % 13 = 0 THEN 1 ELSE 0 END AS BIGINT)
          AS n_claims_mismatch,
        CAST(coalesce(n_live, 0) AS BIGINT) AS n_live,
        CAST(coalesce(live_rows, 0) AS BIGINT) AS live_rows,
        CAST(coalesce(live_bytes, 0) AS BIGINT) AS live_bytes,
        CAST(coalesce(n_deleted, 0) AS BIGINT) AS n_deleted
      FROM p LEFT JOIN agg ON agg.doc_id = p.doc_id
      ORDER BY p.doc_id"""))


  // --------------------------------------------------------------- q401

  /** q401 — CHECKPOINT-aware Delta-log replay
    * ([[graft.operators.DeltaLogOps.checkpointedCensus]]): production
    * `_delta_log` dirs carry `NNNN.checkpoint.parquet` (the full
    * add/remove/protocol state at version NNNN) and VACUUM deletes old
    * JSON commits — q392's flat replay is O(full history) there and
    * cannot census a vacuumed log at all. This census seeds the
    * live-set fold from the checkpoint records and replays ONLY the
    * commits past the checkpoint version; retained pre-checkpoint
    * JSONs are counted (n_pre_lines), never re-applied. Four planted
    * log shapes by doc_id % 4: no checkpoint (fallback), checkpoint +
    * retained history, checkpoint + vacuumed prefix, and a LATER
    * checkpoint (v1, carrying the remove tombstone in checkpoint
    * form) + vacuumed prefix. The live-set columns must equal the
    * full replay's class by class — the oracle recomputes everything
    * closed-form from the shared schedule. Replay cost: O(checkpoint
    * + new commits); same plan shape as q392 (one (table, path)
    * window + groupBys).
    */
  val q401 = Q("q401_delta_checkpoint_replay",
    (s, dir) => {
      import s.implicits._
      import graft.operators.DeltaLogOps
      val ids = Tables.docIdsFanned(s, dir)
      val log = ids.flatMap { k =>
        DeltaLogOps.syntheticCheckpointed(k)._3
          .map { case (v, l) => (k, v, l) }
      }.toDF("doc_id", "version", "line")
      val ckpt = ids.flatMap { k =>
        val (vc, recs, _) = DeltaLogOps.syntheticCheckpointed(k)
        recs.map(r => (k, vc, r))
      }.toDF("doc_id", "ckver", "rec")
        .select(col("doc_id"), col("ckver"), col("rec.add").as("add"),
          col("rec.remove").as("remove"), col("rec.protocol").as("protocol"))
      DeltaLogOps.checkpointedCensus(ckpt, "doc_id", "ckver",
          log, "doc_id", "version", "line")
        .withColumnRenamed("tbl", "doc_id")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT doc_id AS k, CAST(2 + doc_id % 5 AS BIGINT) AS n0,
                        doc_id % 3 AS m, doc_id % 4 AS c4,
                        CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS mal
                 FROM documents),
      s AS (SELECT k, n0, m, unnest(range(0, n0 + 2)) AS j FROM p),
      sl AS (SELECT k, j,
               CASE WHEN m = 0 THEN j < n0
                    WHEN m = 1 THEN j BETWEEN 1 AND n0
                    ELSE (j BETWEEN 1 AND n0) OR j = n0 + 1 END AS live,
               NOT (k % 7 = 0 AND j = 1) AS has_stats
             FROM s),
      agg AS (SELECT k,
                SUM(CASE WHEN live THEN 1 ELSE 0 END) AS n_live,
                SUM(CASE WHEN live THEN 100 * (j + 1) ELSE 0 END) AS live_bytes,
                SUM(CASE WHEN live AND has_stats THEN 10 + j ELSE 0 END) AS live_rows,
                SUM(CASE WHEN live AND NOT has_stats THEN 1 ELSE 0 END) AS n_ns,
                COUNT(DISTINCT CASE WHEN live THEN j % 3 END) AS n_parts
              FROM sl GROUP BY k)
      SELECT p.k AS doc_id,
        CAST(CASE WHEN c4 = 0 THEN -1 WHEN c4 = 3 THEN least(1, m)
                  ELSE 0 END AS BIGINT) AS ckpt_ver,
        CAST(CASE WHEN c4 = 0 THEN 0 ELSE n0 END AS BIGINT) AS n_ckpt_adds,
        CAST(CASE WHEN c4 = 3 AND m >= 1 THEN 1 ELSE 0 END AS BIGINT)
          AS n_ckpt_removes,
        CAST(CASE WHEN c4 >= 2 THEN 1 ELSE 0 END AS BIGINT) AS vacuumed,
        CAST(CASE WHEN c4 = 1 THEN 2 + n0 + mal ELSE 0 END AS BIGINT)
          AS n_pre_lines,
        CAST(CASE WHEN c4 = 0 THEN 2 + n0 + mal ELSE 0 END
             + CASE WHEN c4 <= 2 AND m >= 1 THEN 3 ELSE 0 END
             + CASE WHEN m = 2 THEN 1 ELSE 0 END AS BIGINT) AS n_post_lines,
        CAST(CASE WHEN c4 = 0 THEN 1 + m
                  WHEN c4 <= 2 THEN m
                  ELSE CASE WHEN m = 2 THEN 1 ELSE 0 END END AS BIGINT)
          AS n_post_versions,
        CAST(CASE WHEN c4 = 0 THEN mal ELSE 0 END AS BIGINT) AS n_malformed,
        CAST(CASE WHEN c4 = 0 THEN n0 ELSE 0 END
             + CASE WHEN c4 <= 2 AND m >= 1 THEN 1 ELSE 0 END
             + CASE WHEN m = 2 THEN 1 ELSE 0 END AS BIGINT) AS n_post_adds,
        CAST(CASE WHEN c4 <= 2 AND m >= 1 THEN 1 ELSE 0 END AS BIGINT)
          AS n_post_removes,
        CAST(1 + p.k % 2 AS BIGINT) AS min_reader,
        CAST(2 + p.k % 2 AS BIGINT) AS min_writer,
        CAST(agg.n_live AS BIGINT) AS n_live,
        CAST(CASE WHEN m = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_tombstones,
        CAST(agg.live_bytes AS BIGINT) AS live_bytes,
        CAST(agg.live_rows AS BIGINT) AS live_rows,
        CAST(agg.n_ns AS BIGINT) AS n_live_no_stats,
        CAST(agg.n_parts AS BIGINT) AS n_partitions
      FROM p JOIN agg ON agg.k = p.k ORDER BY doc_id"""))


  // --------------------------------------------------------------- q416

  /** q416 — Delta checkpoint LAYOUT census: multi-part + V2
    * ([[graft.operators.DeltaLogOps.checkpointLayoutCensus]] +
    * [[graft.operators.DeltaLogOps.pointerPartsAudit]]). q401 replays
    * FROM a checkpoint; this audits WHICH checkpoint a reader may
    * legally use when production layouts appear: multi-part classic
    * (`NNNN.checkpoint.<i>.<n>.parquet` — ALL n parts or the
    * checkpoint is declined WHOLE), the V2 UUID manifest whose
    * sidecar claims must ALL resolve against the `_sidecars/`
    * listing, fallback past an incomplete newer checkpoint to the
    * newest COMPLETE one, checkpoint-like malformed filenames
    * (counted, never guessed), and the `_last_checkpoint` `parts`
    * claim checked against the named version's actual file count.
    * Oracle closed-form over the planted class schedule. Pure
    * metadata grain — two tiny groupBys, zero data-row shuffles.
    */
  val q416 = Q("q416_delta_ckpt_layout",
    (s, dir) => {
      import s.implicits._
      val raw = Tables.docIdsFanned(s, dir)
        .mapPartitions(_.map { id =>
          val (files, claims, present, ptr) =
            DeltaLogOps.syntheticCheckpointLayout(id)
          (id, files, claims, present, ptr.orNull)
        }).toDF("tbl", "files", "claims", "present", "ptr")
        .localCheckpoint(false) // consumers: 4 metadata frames below
      val files = raw.select(col("tbl"), explode(col("files")).as("name"))
      val claims = raw.select(col("tbl"), explode(col("claims")).as("c"))
        .select(col("tbl"), col("c._1").as("ver"), col("c._2").as("sc"))
      val present = raw.select(col("tbl"), explode(col("present")).as("sc"))
      val pointer = raw.filter(col("ptr").isNotNull).select(col("tbl"), col("ptr"))
      val layout = DeltaLogOps.checkpointLayoutCensus(files, "tbl", "name",
        claims, "tbl", "ver", "sc", present, "tbl", "sc")
      val parts = DeltaLogOps.pointerPartsAudit(pointer, "tbl", "ptr",
        files, "tbl", "name")
      layout.join(parts, Seq("tbl"), "left")
        .select(col("tbl"), col("n_ckpt_files"), col("n_malformed_names"),
          col("n_versions"), col("n_complete"), col("n_incomplete"),
          col("latest_ver"), col("usable_ver"), col("needs_fallback"),
          col("usable_layout"), col("usable_parts"),
          col("pointer_ver").isNotNull.cast("long").as("has_pointer"),
          coalesce(col("pointer_ver"), lit(-1L)).as("pointer_ver"),
          coalesce(col("parts_claimed"), lit(-1L)).as("parts_claimed"),
          coalesce(col("named_files"), lit(0L)).as("named_files"),
          coalesce(col("parts_match"), lit(0L)).as("parts_match"))
        .orderBy("tbl")
    },
    Some("""
      WITH d AS (SELECT CAST(doc_id AS BIGINT) AS tbl,
                        CAST(doc_id AS BIGINT) AS k FROM documents),
      f AS (SELECT tbl, k, k % 5 AS c, CAST(2 + k % 3 AS BIGINT) AS v,
              CAST(2 + k % 3 AS BIGINT) AS n1, CAST(1 + k % 2 AS BIGINT) AS s3,
              CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END AS mal,
              CASE WHEN k % 4 = 0 THEN 0 ELSE 1 END AS hp,
              CASE WHEN k % 23 = 0 THEN 1 ELSE 0 END AS infl
            FROM d)
      SELECT tbl,
        CAST(CASE c WHEN 0 THEN 1 WHEN 1 THEN n1 WHEN 2 THEN 3
                    WHEN 3 THEN 1 ELSE 3 END AS BIGINT) AS n_ckpt_files,
        CAST(mal AS BIGINT) AS n_malformed_names,
        CAST(CASE WHEN c IN (2, 4) THEN 2 ELSE 1 END AS BIGINT) AS n_versions,
        CAST(1 AS BIGINT) AS n_complete,
        CAST(CASE WHEN c IN (2, 4) THEN 1 ELSE 0 END AS BIGINT) AS n_incomplete,
        CAST(v AS BIGINT) AS latest_ver,
        CAST(CASE WHEN c IN (2, 4) THEN v - 1 ELSE v END AS BIGINT) AS usable_ver,
        CAST(CASE WHEN c IN (2, 4) THEN 1 ELSE 0 END AS BIGINT) AS needs_fallback,
        CAST(CASE c WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 1
                    WHEN 3 THEN 3 ELSE 2 END AS BIGINT) AS usable_layout,
        CAST(CASE c WHEN 0 THEN 1 WHEN 1 THEN n1 WHEN 2 THEN 1
                    WHEN 3 THEN 1 + s3 ELSE 2 END AS BIGINT) AS usable_parts,
        CAST(hp AS BIGINT) AS has_pointer,
        CAST(CASE WHEN hp = 1 THEN v ELSE -1 END AS BIGINT) AS pointer_ver,
        CAST(CASE WHEN hp = 0 THEN -1
                  WHEN c = 1 THEN n1 + infl
                  WHEN c = 2 THEN 3 ELSE -1 END AS BIGINT) AS parts_claimed,
        CAST(CASE WHEN hp = 0 THEN 0
                  WHEN c = 1 THEN n1 WHEN c = 2 THEN 2
                  ELSE 1 END AS BIGINT) AS named_files,
        CAST(CASE WHEN hp = 0 THEN 0
                  WHEN c = 1 THEN 1 - infl
                  WHEN c = 2 THEN 0 ELSE 1 END AS BIGINT) AS parts_match
      FROM f ORDER BY tbl"""))


  // --------------------------------------------------------------- q417

  /** q417 — Hudi MERGE-ON-READ file-group census
    * ([[graft.operators.HudiOps.morFileGroups]] +
    * [[graft.operators.HudiOps.morCompactionDebt]]): q411 reads the
    * timeline; a MOR table's live rows live in FILE GROUPS — a base
    * parquet file plus log files of inserts/deletes appended against
    * that base's instant. The reader's slice rule is pinned: the
    * current slice is the NEWEST base plus logs attached to exactly
    * its instant; a compaction instant writes a new base and strands
    * earlier logs as obsolete (the planted reset class); a group with
    * no base yet is log-only and all its logs count. net rows =
    * base + current inserts − current deletes; compaction DEBT is the
    * current-slice log bytes an operator pages on; obsolete bytes are
    * the clean's reclaim. Oracle closed-form over the four planted
    * group classes. One metadata-grain groupBy per pass — data rows
    * never shuffle.
    */
  val q417 = Q("q417_hudi_mor_file_groups",
    (s, dir) => {
      import s.implicits._
      // unfanned (r16): ≤9 tuples per doc straight into a keyed window
      // — the downstream shuffle redistributes anyway, so the fan-out
      // exchange was pure fixed cost (driver flagged q417 at 2.1x its
      // frozen baseline)
      val files = Tables.docIds(s, dir)
        .flatMap(k => HudiOps.syntheticMorFiles(k).map {
          case (fid, kind, ts, bytes, rows, ins, del) =>
            (k, fid, kind, ts, bytes, rows, ins, del)
        })
        .toDF("tbl", "fid", "kind", "ts", "bytes", "rows", "ins", "del")
      HudiOps.morCompactionDebt(
        HudiOps.morFileGroups(files, "tbl", "fid", "kind", "ts",
          "bytes", "rows", "ins", "del"))
        .orderBy("tbl")
    },
    Some("""
      WITH d AS (SELECT CAST(doc_id AS BIGINT) AS tbl,
                        CAST(doc_id AS BIGINT) AS k,
                        CAST(1 + doc_id % 3 AS BIGINT) AS g FROM documents),
      js AS (SELECT tbl, k, unnest(range(g)) AS j FROM d),
      c AS (SELECT tbl, CAST(j AS BIGINT) AS j, (k + j) % 4 AS cls FROM js),
      per AS (SELECT tbl, j, cls,
        CASE cls WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 1 ELSE 0 END AS nb,
        CASE cls WHEN 0 THEN 2 WHEN 1 THEN 2 WHEN 2 THEN 0 ELSE 2 END AS nl,
        CASE cls WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 0 ELSE 2 END AS nc,
        CASE cls WHEN 0 THEN 50 + j WHEN 1 THEN 44 + j
                 WHEN 2 THEN 30 + j ELSE 0 END AS br,
        CASE cls WHEN 0 THEN 64 + 3 * j WHEN 1 THEN 46 + 2 * j
                 WHEN 2 THEN 30 + j ELSE 24 + j END AS net,
        CASE cls WHEN 0 THEN 15 + 2 * j WHEN 1 THEN 3 + j
                 WHEN 2 THEN 0 ELSE 25 + j END AS ins,
        CASE WHEN cls = 2 THEN 0 ELSE 1 END AS del,
        CASE cls WHEN 0 THEN 300 + j WHEN 1 THEN 150 + j
                 WHEN 2 THEN 0 ELSE 500 + j END AS debt,
        CASE WHEN cls = 1 THEN 1200 ELSE 0 END AS obs,
        CASE WHEN cls = 2 THEN 0 ELSE 1 END AS needs,
        CASE WHEN cls = 3 THEN 1 ELSE 0 END AS lonly
      FROM c)
      SELECT tbl,
        CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(SUM(lonly) AS BIGINT) AS n_log_only_groups,
        CAST(SUM(nb) AS BIGINT) AS n_base_files,
        CAST(SUM(nl) AS BIGINT) AS n_log_files,
        CAST(SUM(nc) AS BIGINT) AS n_current_logs,
        CAST(SUM(br) AS BIGINT) AS base_rows,
        CAST(SUM(net) AS BIGINT) AS net_rows,
        CAST(SUM(ins) AS BIGINT) AS log_inserts,
        CAST(SUM(del) AS BIGINT) AS log_deletes,
        CAST(SUM(debt) AS BIGINT) AS debt_bytes,
        CAST(MAX(debt) AS BIGINT) AS max_group_debt_bytes,
        CAST(SUM(obs) AS BIGINT) AS obsolete_bytes,
        CAST(SUM(needs) AS BIGINT) AS n_groups_needing_compaction
      FROM per GROUP BY tbl ORDER BY tbl"""))


  // --------------------------------------------------------------- q418

  /** q418 — Iceberg snapshot DIFF
    * ([[graft.operators.IcebergOps.snapshotFiles]] +
    * [[graft.operators.IcebergOps.snapshotDiff]]): q402 descends to
    * the CURRENT snapshot; lineage makes the same walk per snapshot
    * and set-differences current vs parent by file path — files
    * added/removed, row deltas, and the two signatures an auditor
    * keys on: fast_forward (identical sets — a no-op/retried commit)
    * and rewrite (net rows unchanged while files moved — compaction,
    * not data change). A snapshot that cannot be FULLY enumerated
    * (truncated manifest list, planted every 11th table) declines the
    * whole diff — time travel never fabricates a table. Oracle
    * closed-form over the planted append / fast-forward / rewrite /
    * delete chain classes. Metadata grain: one (table, path)
    * full-outer join over file METADATA rows.
    */
  val q418 = Q("q418_iceberg_snapshot_diff",
    (s, dir) => {
      import s.implicits._
      val chain = Tables.docIdsFanned(s, dir)
        .mapPartitions(_.map { k =>
          val (meta, lists, mans) = IcebergOps.syntheticSnapshotChain(k)
          (k, meta, lists, mans)
        }).toDF("tbl", "meta", "lists", "mans")
        .localCheckpoint(false) // consumers: 3 metadata frames below
      val meta = chain.select(col("tbl"), col("meta"))
      val lists = chain.select(col("tbl"), explode(col("lists")).as("l"))
        .select(col("tbl"), col("l._1").as("path"), col("l._2").as("payload"))
      val mans = chain.select(col("tbl"), explode(col("mans")).as("m"))
        .select(col("tbl"), col("m._1").as("path"), col("m._2").as("payload"))
      val sf = IcebergOps.snapshotFiles(meta, "tbl", "meta",
        lists, "tbl", "path", "payload", mans, "tbl", "path", "payload")
      IcebergOps.snapshotDiff(sf).orderBy("tbl")
    },
    Some("""
      WITH d AS (SELECT CAST(doc_id AS BIGINT) AS tbl, doc_id % 4 AS c,
                        CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS bad
                 FROM documents)
      SELECT tbl,
        CAST(1 - bad AS BIGINT) AS diff_ok,
        CAST(CASE WHEN bad = 1 THEN 0 WHEN c IN (0, 2) THEN 1 ELSE 0 END
          AS BIGINT) AS n_added,
        CAST(CASE WHEN bad = 1 THEN 0 WHEN c = 2 THEN 2
                  WHEN c = 3 THEN 1 ELSE 0 END AS BIGINT) AS n_removed,
        CAST(CASE WHEN bad = 1 THEN 0 WHEN c = 0 THEN 16
                  WHEN c = 2 THEN 22 ELSE 0 END AS BIGINT) AS rows_added,
        CAST(CASE WHEN bad = 1 THEN 0 WHEN c = 2 THEN 22
                  WHEN c = 3 THEN 14 ELSE 0 END AS BIGINT) AS rows_removed,
        CAST(CASE WHEN bad = 1 THEN 0 WHEN c = 0 THEN 16
                  WHEN c = 3 THEN -14 ELSE 0 END AS BIGINT) AS net_row_delta,
        CAST(CASE WHEN bad = 1 THEN 0 WHEN c = 0 THEN 4
                  WHEN c = 1 THEN 3 ELSE 2 END AS BIGINT) AS cur_files,
        CAST(CASE WHEN bad = 1 THEN 0 WHEN c = 0 THEN 52
                  WHEN c = 3 THEN 22 ELSE 36 END AS BIGINT) AS cur_rows,
        CAST(CASE WHEN bad = 1 THEN 0 ELSE 3 END AS BIGINT) AS par_files,
        CAST(CASE WHEN bad = 1 THEN 0 ELSE 36 END AS BIGINT) AS par_rows,
        CAST(CASE WHEN bad = 0 AND c = 1 THEN 1 ELSE 0 END AS BIGINT)
          AS fast_forward,
        CAST(CASE WHEN bad = 0 AND c = 2 THEN 1 ELSE 0 END AS BIGINT)
          AS rewrite
      FROM d ORDER BY tbl"""))
}
