package graft.queries

import graft.Tables
import graft.operators.Payloads

/** Storage/codec format walkers: parquet footer + page index, ORC tail /
  * stripe stats / zone pruning, Avro OCF, TFRecord/tf.Example, snappy +
  * LZ4 framing and raw decode, full zstd frame decode, and the H.264
  * SPS/PPS dims census. Moved verbatim from DataQueries (round-15
  * split); `Q` ids and oracle SQL byte-identical.
  */
object FormatQueries {


  // --------------------------------------------------------------- q377

  /** q377 — Parquet footer census: the storage format this engine
    * itself scans, triaged at the byte level before any page decode.
    * [[graft.operators.ParquetFooter.parse]] walks the Thrift Compact
    * Protocol FileMetaData behind the trailing magic — version, schema
    * width (leaves = elements with a physical type), row-group layout,
    * Σ total_byte_size, and the per-column-chunk codec mix — with
    * every untargeted field skipped STRUCTURALLY (recursive,
    * depth-capped, subtraction-form bounds), which is what lets the
    * same walker read real Spark/pyarrow footers (pinned against
    * /root/testdata files in ParquetFooterSpec) and these synthetic
    * minimal footers whose parameters all derive from doc_id, so the
    * oracle recomputes the census closed-form — a round-trip proof.
    * Malformed classes (cut tail magic, huge footer-length field,
    * invalid first field header) spec-pinned; fuzz target in
    * WalkerFuzzSpec. Map-only, zero shuffles. footer_len/data_bytes
    * stay out of the projection — they depend on varint widths no SQL
    * oracle should re-derive.
    */
  val q377 = Q("q377_parquet_footer_census",
    (s, dir) => {
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val nCols = 1 + (id % 4).toInt
        val base = graft.operators.ParquetFooter.encodeSynthetic(
          version = 2,
          colNames = (0 until nCols).map(c => s"c$c"),
          nRowGroups = 1 + (id % 3).toInt,
          rowsPerGroup = 100 + id % 50,
          bytesPerGroup = 1000 + id % 100,
          codecOf = c => ((id + c) % 8).toInt,
          createdBy = s"graft-${id % 10}",
          dataFiller = (id % 20).toInt)
        if (id % 17 == 0) base.dropRight(3)
        else if (id % 19 == 0) {
          val c = base.clone()
          for (i <- c.length - 8 until c.length - 4) c(i) = 0xFF.toByte
          c
        } else if (id % 23 == 0) {
          val c = base.clone(); c(4 + (id % 20).toInt) = 0xFF.toByte; c
        } else base
      }
      graft.operators.ParquetFooter.footerFeatures(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some {
      def codecCount(pred: String): String =
        (0 to 3).map(c =>
          s"CASE WHEN $c < ncols AND (k + $c) % 8 $pred THEN 1 ELSE 0 END")
          .mkString(" + ")
      s"""
      WITH p AS (
        SELECT doc_id AS k,
               1 + (doc_id % 4) AS ncols,
               1 + (doc_id % 3) AS nrgs,
               100 + (doc_id % 50) AS rpg,
               1000 + (doc_id % 100) AS bpg,
               (doc_id % 17 = 0 OR doc_id % 19 = 0 OR doc_id % 23 = 0) AS bad
        FROM documents)
      SELECT k AS doc_id,
             CAST(CASE WHEN bad THEN 0 ELSE 1 END AS BIGINT) AS valid,
             CAST(CASE WHEN bad THEN 0 ELSE 2 END AS BIGINT) AS version,
             CAST(CASE WHEN bad THEN 0 ELSE nrgs * rpg END AS BIGINT) AS num_rows,
             CAST(CASE WHEN bad THEN 0 ELSE 1 + ncols END AS BIGINT) AS n_schema,
             CAST(CASE WHEN bad THEN 0 ELSE ncols END AS BIGINT) AS n_leaves,
             CAST(CASE WHEN bad THEN 0 ELSE nrgs END AS BIGINT) AS n_row_groups,
             CAST(CASE WHEN bad THEN 0 ELSE nrgs * ncols END AS BIGINT)
               AS n_column_chunks,
             CAST(CASE WHEN bad THEN 0 ELSE nrgs * bpg END AS BIGINT)
               AS total_byte_size,
             CAST(CASE WHEN bad THEN 0 ELSE nrgs * rpg END AS BIGINT) AS rg_num_rows,
             CAST(CASE WHEN bad THEN 0 ELSE 7 END AS BIGINT) AS created_by_len,
             CAST(CASE WHEN bad THEN 0 ELSE nrgs * (${codecCount("= 0")}) END
               AS BIGINT) AS n_uncompressed,
             CAST(CASE WHEN bad THEN 0 ELSE nrgs * (${codecCount("= 1")}) END
               AS BIGINT) AS n_snappy,
             CAST(CASE WHEN bad THEN 0 ELSE nrgs * (${codecCount("= 2")}) END
               AS BIGINT) AS n_gzip,
             CAST(CASE WHEN bad THEN 0 ELSE nrgs * (${codecCount("= 6")}) END
               AS BIGINT) AS n_zstd,
             CAST(CASE WHEN bad THEN 0 ELSE nrgs * (${codecCount("IN (3, 4, 5, 7)")}) END
               AS BIGINT) AS n_other_codec
      FROM p ORDER BY doc_id"""
    })


  // --------------------------------------------------------------- q378

  /** q378 — Avro OCF census: the row-format container streaming
    * ingest lands in (Kafka → lake) before anything is columnarized,
    * completing the lake-format family next to the parquet footer
    * (q377). [[graft.operators.AvroOps.parse]] reads the closed-form
    * layer — `Obj\x01` magic, the Avro-binary metadata map (zigzag
    * varint longs, negative-count segments handled), avro.schema
    * length and avro.codec name, then the block walk: record count +
    * payload size per block, every block sync CHECKED against the
    * header's 16-byte marker. Compressed payloads stay counted, never
    * decoded (the q366 discipline). Stop-don't-guess: header faults
    * reject the file whole; a block fault or sync mismatch halts at
    * that block's start with the walked prefix kept and the remainder
    * as trailing. Per-doc synthetic containers derive everything from
    * doc_id, so the oracle recomputes the census closed-form —
    * including the truncated-tail and flipped-sync trailing byte
    * counts. Map-only, zero shuffles.
    */
  val q378 = Q("q378_avro_ocf_census",
    (s, dir) => {
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val codec = Seq("null", "deflate", "snappy", "zstandard")((id % 4).toInt)
        val nb = 1 + (id % 4).toInt
        val cnt = 10L + id % 6
        val len = 40 + 2 * (id % 9).toInt
        val base = graft.operators.AvroOps.encodeSynthetic(
          schema = s"""{"type":"record","name":"r${id % 10}","fields":[]}""",
          codec = codec,
          extraMeta = if (id % 5 == 0) Seq("writer.id" -> s"w${id % 7}") else Nil,
          blocks = Seq.fill(nb)((cnt, len)),
          syncSeed = id)
        if (id % 17 == 0) base.dropRight(5)
        else if (id % 19 == 0) { val c = base.clone(); c(3) = 0x7F.toByte; c }
        else if (id % 23 == 0) {
          val c = base.clone(); c(c.length - 1) = (c(c.length - 1) ^ 0x5A).toByte; c
        } else base
      }
      graft.operators.AvroOps.avroFeatures(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id AS k,
               CASE doc_id % 4 WHEN 0 THEN 'null' WHEN 1 THEN 'deflate'
                    WHEN 2 THEN 'snappy' ELSE 'zstandard' END AS codec,
               1 + (doc_id % 4) AS nb,
               10 + (doc_id % 6) AS cnt,
               40 + 2 * (doc_id % 9) AS len,
               length('{"type":"record","name":"r0","fields":[]}') AS slen,
               CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS xm,
               (doc_id % 17 = 0) AS cut,
               (doc_id % 17 <> 0 AND doc_id % 19 = 0) AS flip,
               (doc_id % 17 <> 0 AND doc_id % 19 <> 0 AND doc_id % 23 = 0) AS sflip
        FROM documents),
      t AS (
        SELECT *,
               -- header: magic(4) + map(1 + (1+11+1+slen) + (1+10+1+len(codec))
               --   + xm*(1+9+1+2) + 1) + sync(16); blocks: nb*(len+18)
               4 + 1 + 13 + slen + 12 + length(codec) + xm * 13 + 1 + 16
                 + nb * (len + 18) AS total,
               CASE WHEN cut OR sflip THEN nb - 1 WHEN flip THEN 0 ELSE nb END AS nbw
        FROM p)
      SELECT k AS doc_id,
             CAST(CASE WHEN cut OR flip OR sflip THEN 0 ELSE 1 END AS BIGINT) AS valid,
             CAST(CASE WHEN flip THEN 0 ELSE 2 + xm END AS BIGINT) AS n_meta_entries,
             CAST(CASE WHEN flip THEN 0 ELSE slen END AS BIGINT) AS schema_len,
             CASE WHEN flip THEN '' ELSE codec END AS codec,
             CAST(nbw AS BIGINT) AS n_blocks,
             CAST(nbw * cnt AS BIGINT) AS total_records,
             CAST(nbw * len AS BIGINT) AS payload_bytes,
             CAST(CASE WHEN sflip THEN 1 ELSE 0 END AS BIGINT) AS sync_mismatch,
             CAST(CASE WHEN cut THEN len + 13
                  WHEN flip THEN total
                  WHEN sflip THEN len + 18 ELSE 0 END AS BIGINT) AS trailing_bytes
      FROM t ORDER BY doc_id"""))


  // --------------------------------------------------------------- q379

  /** q379 — tf.Example protobuf census inside TFRecord shards: the
    * layer one notch inward from q325's frame walk (the q368/q369
    * move — framing first, then the payload's own closed-form wire
    * format). [[graft.operators.TfRecordOps.exampleCensus]] rides the
    * SAME CRC-verified record walk and parses each payload as a
    * protobuf tf.Example — feature map entries, kind mix
    * (BytesList/FloatList/Int64List), and value counts (packed or
    * repeated encodings both), with unknown fields skipped
    * structurally (one synthetic class plants field 99 to prove the
    * skip path on data, not just in specs). A payload violating the
    * wire format marks THAT record malformed and never halts the
    * shard — the frame CRC authenticates the bytes, not their proto
    * validity. Everything derives from doc_id; the oracle recomputes
    * the census closed-form. Map-only, zero shuffles.
    */
  val q379 = Q("q379_tfexample_census",
    (s, dir) => {
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val ops = graft.operators.TfRecordOps
        val nr = 1 + (id % 3).toInt
        val good = Seq.fill(nr)(ops.encodeExample(
          bytesVals = 1 + (id % 2).toInt,
          bytesLen = 5 + (id % 7).toInt,
          nFloats = 2 + (id % 3).toInt,
          int64s = (0 until 1 + (id % 4).toInt).map(i => (id + i) % 100),
          unknownField = id % 19 == 0))
        val payloads =
          if (id % 17 == 0) good :+ Array(0xFF.toByte, 0xFF.toByte)
          else good
        ops.encodeShard(payloads)
      }
      graft.operators.TfRecordOps.exampleFeatures(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id AS k,
               1 + (doc_id % 3) AS nr,
               1 + (doc_id % 2) AS bv,
               5 + (doc_id % 7) AS blen,
               2 + (doc_id % 3) AS nf,
               1 + (doc_id % 4) AS ni,
               CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END AS bad
        FROM documents)
      SELECT k AS doc_id,
             CAST(nr AS BIGINT) AS n_examples,
             CAST(bad AS BIGINT) AS n_malformed,
             CAST(3 * nr AS BIGINT) AS n_features,
             CAST(nr AS BIGINT) AS n_bytes_feat,
             CAST(nr AS BIGINT) AS n_float_feat,
             CAST(nr AS BIGINT) AS n_int64_feat,
             CAST(nr * bv AS BIGINT) AS bytes_values,
             CAST(nr * bv * blen AS BIGINT) AS bytes_len,
             CAST(nr * nf AS BIGINT) AS float_values,
             CAST(nr * ni AS BIGINT) AS int64_values
      FROM p ORDER BY doc_id"""))


  // --------------------------------------------------------------- q380

  /** q380 — zone-map pruning audit from parquet footer statistics:
    * the planner move that makes q377's walk PAY at 100 TB — per-row-
    * group min/max/null_count for a target column read straight from
    * the Statistics struct (thrift field 12, 8-byte int64 binaries),
    * then for a predicate `x > t` / `x < t` the count of row groups
    * provably skippable and the rows a conservative planner still
    * scans. Conservative is the contract: absent stats, non-8-byte
    * min/max encodings (one planted class), or a malformed footer
    * NEVER prune — has-stats = 0 means scan, and a cut footer yields
    * the empty census. Every parameter derives from doc_id; the oracle
    * recomputes prune counts closed-form (including the a ≤ 9 boundary
    * case where the threshold lands inside the top row group's range).
    * Map-only, zero shuffles.
    */
  val q380 = Q("q380_zone_map_pruning",
    (s, dir) => {
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val nRgs = 1 + (id % 4).toInt
        val base = graft.operators.ParquetFooter.encodeSynthetic(
          version = 2,
          colNames = Seq("ca", "cb", "cc"),
          nRowGroups = nRgs,
          rowsPerGroup = 100 + id % 10,
          bytesPerGroup = 1000L,
          codecOf = _ => 0,
          createdBy = "graft",
          dataFiller = (id % 16).toInt,
          statsOf = Some((rg, c) => (
            100L * rg + c,
            100L * rg + 50 + (id % 20) + c,
            (rg % 3).toLong,
            if (id % 13 == 0) 4 else 8)))
        if (id % 17 == 0) base.dropRight(3) else base
      }
      graft.operators.ParquetFooter
        .pruneAudit(synth, "doc_id", "payload", colIdx = 1,
          thresholdOf = id => 100L * (id % (1 + id % 4)) + 60)
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id AS k,
               1 + (doc_id % 4) AS nrgs,
               100 + (doc_id % 10) AS rpg,
               doc_id % (1 + doc_id % 4) AS m,
               doc_id % 20 AS a,
               (doc_id % 17 = 0) AS cut,
               (doc_id % 13 = 0) AS unread
        FROM documents),
      t AS (
        SELECT *,
               -- target col 1: max_r = 100r + 51 + a; x > t prunes r ≤ m
               -- iff a ≤ 9 (threshold inside the top group's range)
               CASE WHEN cut OR unread THEN 0
                    WHEN a <= 9 THEN m + 1 ELSE m END AS pgt,
               CASE WHEN cut OR unread THEN 0 ELSE nrgs - 1 - m END AS plt,
               CASE WHEN cut THEN 0
                    WHEN nrgs = 1 THEN 0 WHEN nrgs = 2 THEN 1
                    WHEN nrgs = 3 THEN 3 ELSE 3 END AS nulls
        FROM p)
      SELECT k AS doc_id,
             CAST(CASE WHEN cut THEN 0 ELSE nrgs END AS BIGINT) AS n_rgs,
             CAST(CASE WHEN cut OR unread THEN 0 ELSE nrgs END AS BIGINT)
               AS n_readable,
             CAST(pgt AS BIGINT) AS pruned_gt,
             CAST(plt AS BIGINT) AS pruned_lt,
             CAST(CASE WHEN cut THEN 0 ELSE (nrgs - pgt) * rpg END AS BIGINT)
               AS scanned_rows_gt,
             CAST(nulls AS BIGINT) AS sum_nulls,
             CAST(100 * m + 60 AS BIGINT) AS threshold
      FROM t ORDER BY doc_id"""))


  // --------------------------------------------------------------- q381

  /** q381 — ORC tail census: the third member of the columnar-lake
    * trio (q377 parquet, q378 Avro), postscript-first the way a fleet
    * actually triages ORC — the 1-byte tail length, the ALWAYS-raw
    * protobuf postscript (codec, declared footer/metadata lengths,
    * writer version, the field-8000 "ORC" magic gate), then the footer
    * walked ONLY when compression = NONE (stripe count, per-stripe and
    * total row counts, type count, content length); compressed footers
    * are the honest stub boundary — reported by codec, never guessed
    * at ([[graft.operators.OrcOps.parse]], sharing the protobuf wire
    * machinery with q379). Per-doc synthetic tails derive everything
    * from doc_id; the oracle recomputes the census closed-form.
    * ps_len/footer_len stay out of the projection (varint-width rule).
    * Real Spark-written ORC pinned in OrcOpsSpec. Map-only, zero
    * shuffles.
    */
  val q381 = Q("q381_orc_tail_census",
    (s, dir) => {
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val base = graft.operators.OrcOps.encodeSynthetic(
          nStripes = 1 + (id % 3).toInt,
          rowsPerStripe = 100 + id % 20,
          nTypes = 1 + (id % 4).toInt,
          compression = Seq(0L, 1L, 5L)((id % 3).toInt),
          writerVersion = 7 + id % 3,
          dataFiller = (id % 16).toInt)
        if (id % 17 == 0) base.dropRight(2)
        else if (id % 19 == 0) { val c = base.clone(); c(0) = 0x7F.toByte; c }
        else if (id % 23 == 0) {
          val c = base.clone()
          val pl = c(c.length - 1) & 0xff
          c(c.length - 1 - pl) = 0xFF.toByte
          c
        } else base
      }
      graft.operators.OrcOps.orcFeatures(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id AS k,
               1 + (doc_id % 3) AS ns,
               100 + (doc_id % 20) AS rps,
               1 + (doc_id % 4) AS nt,
               CASE doc_id % 3 WHEN 0 THEN 'none' WHEN 1 THEN 'zlib'
                    ELSE 'zstd' END AS comp,
               (doc_id % 3 = 0) AS parsed,
               7 + (doc_id % 3) AS wv,
               3 + (doc_id % 16) AS clen,
               (doc_id % 17 = 0 OR doc_id % 19 = 0 OR doc_id % 23 = 0) AS bad
        FROM documents)
      SELECT k AS doc_id,
             CAST(CASE WHEN bad THEN 0 ELSE 1 END AS BIGINT) AS valid,
             CASE WHEN bad THEN '' ELSE comp END AS compression,
             CAST(0 AS BIGINT) AS metadata_len,
             CAST(CASE WHEN bad THEN 0 ELSE wv END AS BIGINT) AS writer_version,
             CAST(CASE WHEN bad OR NOT parsed THEN 0 ELSE 1 END AS BIGINT)
               AS footer_parsed,
             CAST(CASE WHEN bad OR NOT parsed THEN 0 ELSE ns END AS BIGINT)
               AS n_stripes,
             CAST(CASE WHEN bad OR NOT parsed THEN 0 ELSE ns * rps END AS BIGINT)
               AS num_rows,
             CAST(CASE WHEN bad OR NOT parsed THEN 0 ELSE ns * rps END AS BIGINT)
               AS stripe_rows,
             CAST(CASE WHEN bad OR NOT parsed THEN 0 ELSE nt END AS BIGINT)
               AS n_types,
             CAST(CASE WHEN bad OR NOT parsed THEN 0 ELSE clen END AS BIGINT)
               AS content_length
      FROM p ORDER BY doc_id"""))


  // --------------------------------------------------------------- q385

  /** q385 — ORC stripe-list + column-statistics census
    * ([[graft.operators.OrcOps.orcStripeStats]]): q381's tail walk
    * descended one protobuf level further, reusing the tf.Example wire
    * machinery — per-stripe index/data/footer byte masses, row-count
    * extrema, offset monotonicity, and the Footer.statistics list
    * (value counts, hasNull flags, IntegerStatistics min-of-mins /
    * max-of-maxs through sint64 zigzag). This closes the lake trio at
    * the footer-statistics depth parquet already reaches (q377/q380):
    * the numbers a planner needs for stripe pruning without touching a
    * data stripe. Compressed footers stay the honest stub boundary —
    * census zeroed, codec reported (the q381 rule). Per-doc synthetic
    * tails derive everything from doc_id; the oracle recomputes the
    * census closed-form (even-j columns carry int stats, every third
    * has nulls). Map-only, zero shuffles.
    */
  val q385 = Q("q385_orc_stripe_stats",
    (s, dir) => {
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val nc = 1 + (id % 4).toInt
        val ns = 1 + (id % 3).toInt
        val rps = 100 + id % 20
        val stats = (0 until nc).map { j =>
          graft.operators.OrcOps.ColStat(
            ns * rps - j,
            if (j % 2 == 0) Some((-(id % 7) - j, (id % 11) + 2L * j, id))
            else None,
            j % 3 == 0)
        }
        graft.operators.OrcOps.encodeSynthetic(
          nStripes = ns, rowsPerStripe = rps, nTypes = 1 + (id % 4).toInt,
          compression = Seq(0L, 1L, 5L)((id % 3).toInt),
          writerVersion = 7 + id % 3,
          dataFiller = (id % 16).toInt,
          colStats = stats)
      }
      graft.operators.OrcOps.orcStripeStats(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id AS k,
               1 + (doc_id % 3) AS ns,
               100 + (doc_id % 20) AS rps,
               1 + (doc_id % 4) AS nc,
               (doc_id % 3 = 0) AS parsed
        FROM documents),
      d AS (SELECT k, ns, rps, nc, parsed,
               ((nc - 1) // 2) * 2 AS evmax,
               (nc + 1) // 2 AS nint,
               (nc + 2) // 3 AS nnull
            FROM p)
      SELECT k AS doc_id,
             CAST(1 AS BIGINT) AS valid,
             CAST(CASE WHEN parsed THEN 1 ELSE 0 END AS BIGINT) AS footer_parsed,
             CAST(CASE WHEN parsed THEN ns ELSE 0 END AS BIGINT) AS n_stripes,
             CAST(CASE WHEN parsed THEN 10 * ns ELSE 0 END AS BIGINT) AS stripe_index_bytes,
             CAST(CASE WHEN parsed THEN 100 * ns ELSE 0 END AS BIGINT) AS stripe_data_bytes,
             CAST(CASE WHEN parsed THEN 20 * ns ELSE 0 END AS BIGINT) AS stripe_footer_bytes,
             CAST(CASE WHEN parsed THEN rps ELSE 0 END AS BIGINT) AS stripe_rows_min,
             CAST(CASE WHEN parsed THEN rps ELSE 0 END AS BIGINT) AS stripe_rows_max,
             CAST(1 AS BIGINT) AS offsets_monotonic,
             CAST(CASE WHEN parsed THEN nc ELSE 0 END AS BIGINT) AS n_col_stats,
             CAST(CASE WHEN parsed THEN nc * ns * rps - nc * (nc - 1) // 2
                  ELSE 0 END AS BIGINT) AS stat_values,
             CAST(CASE WHEN parsed THEN nnull ELSE 0 END AS BIGINT) AS n_has_null,
             CAST(CASE WHEN parsed THEN nint ELSE 0 END AS BIGINT) AS n_int_stats,
             CAST(CASE WHEN parsed THEN -(k % 7) - evmax ELSE 0 END AS BIGINT) AS int_min,
             CAST(CASE WHEN parsed THEN (k % 11) + 2 * evmax ELSE 0 END AS BIGINT) AS int_max
      FROM d ORDER BY doc_id"""))


  // --------------------------------------------------------------- q388

  /** q388 — ORC stripe-level zone-map pruning audit — parquet q380's
    * ORC twin, the move that makes the metadata walk PAY at 100 TB:
    * the Metadata section (one StripeStatistics per stripe, walked via
    * [[graft.operators.OrcOps.stripeStatsCensus]]) gives per-stripe
    * min/max for a column, and for `x > t` / `x < t` the audit counts
    * the stripes provably skippable plus the rows a CONSERVATIVE
    * planner still scans. Conservative is the contract: absent int
    * stats (planted every 9th doc) prune nothing and scan everything;
    * a stripe-count mismatch between footer and metadata (planted
    * every 25th doc — a lying writer) yields the EMPTY census, the
    * q380 cut-footer convention. Oracle recomputes everything
    * closed-form, including the threshold-between-stripes boundary
    * arithmetic. Map-only, zero shuffles.
    */
  val q388 = Q("q388_orc_zone_prune",
    (s, dir) => {
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val ns = 1 + (id % 3).toInt
        val rps = 100 + id % 20
        val o = id % 7
        val nStats = if (id % 25 == 0) ns - 1 else ns
        val stats = (0 until nStats).map { j =>
          Seq(graft.operators.OrcOps.ColStat(rps,
            if (id % 9 == 0) None
            else Some((o + 10L * j, o + 10L * j + 9, 0L)),
            hasNull = false))
        }
        graft.operators.OrcOps.encodeSynthetic(
          nStripes = ns, rowsPerStripe = rps, nTypes = 2,
          compression = 0L, writerVersion = 7,
          dataFiller = (id % 16).toInt,
          stripeStats = stats)
      }
      graft.operators.OrcOps.orcPruneAudit(synth, "doc_id", "payload", 0,
        id => (id % 7) + 10L * (id % (1 + id % 3)) + 4)
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT doc_id AS k, 1 + doc_id % 3 AS ns,
                        100 + doc_id % 20 AS rps, doc_id % 7 AS o,
                        (doc_id % 9 = 0) AS nostats,
                        (doc_id % 25 = 0) AS mismatch
                 FROM documents),
      d AS (SELECT *, k % ns AS kk, o + 10 * (k % ns) + 4 AS t FROM p)
      SELECT k AS doc_id,
             CAST(CASE WHEN mismatch THEN 0 ELSE ns END AS BIGINT) AS n_stripes,
             CAST(CASE WHEN mismatch OR nostats THEN 0 ELSE ns END AS BIGINT)
               AS n_readable,
             CAST(CASE WHEN mismatch OR nostats THEN 0 ELSE kk END AS BIGINT)
               AS pruned_gt,
             CAST(CASE WHEN mismatch OR nostats THEN 0 ELSE ns - 1 - kk END AS BIGINT)
               AS pruned_lt,
             CAST(CASE WHEN mismatch THEN 0
                       WHEN nostats THEN ns * rps
                       ELSE (ns - kk) * rps END AS BIGINT) AS scanned_rows_gt,
             CAST(t AS BIGINT) AS threshold
      FROM d ORDER BY doc_id"""))


  // --------------------------------------------------------------- q390

  /** q390 — LZ4 frame census + raw-block decode
    * ([[graft.operators.Lz4Ops]]): the fourth ubiquitous compression
    * container (gzip q194, zstd q366/q368, snappy q382/q387) at the
    * snappy-q387 depth on day one — raw LZ4 blocks are token +
    * literal/match LZ with no entropy coding, so every block DECODES
    * and the frame's XXH32 checksums (header byte, per-block, whole
    * content) verify against decoded reality instead of being trusted.
    * Three planted classes: a flipped header-checksum byte (file
    * rejected whole — one bad descriptor byte would desync every
    * flag-dependent offset), a flipped literal byte (decodes fine,
    * block + content checksums refuse, declared size still matches —
    * corruption ≠ malformation), and a block truncated under its
    * declared size (decode fails, counted never halted; the content
    * checksum honestly reports unverifiable). The oracle recomputes
    * every column closed-form — sequence widths are fixed by the
    * sub-15 token forms. Map-only, zero shuffles.
    */
  val q390 = Q("q390_lz4_frame_census",
    (s, dir) => {
      import graft.operators.Lz4Ops
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val a = 5 + (id % 7).toInt
        val m = 4 + (id % 9).toInt
        val b = 3 + (id % 5).toInt
        val o1 = 1 + (id % 4).toInt
        val c = 1 + (id % 2).toInt
        val hasStored = id % 3 == 0
        val r = 6 + (id % 5).toInt
        val bc = id % 2 == 0
        val cs = id % 4 == 0
        val bad = id % 17 == 0
        val corrupt = !bad && id % 19 == 0
        val trunc = !bad && !corrupt && id % 23 == 0
        def lit(bi: Int, j: Int, len: Int): Array[Byte] =
          Array.tabulate(len)(x => ((id * 31 + bi * 17 + j * 7 + x) & 0xff).toByte)
        // decoded content of one compressed block (match overlaps ok)
        def blockContent(bi: Int): Array[Byte] = {
          val l1 = lit(bi, 0, a); val l2 = lit(bi, 1, b)
          val outBuf = new Array[Byte](a + m + b)
          System.arraycopy(l1, 0, outBuf, 0, a)
          var i = 0
          while (i < m) { outBuf(a + i) = outBuf(a - o1 + i); i += 1 }
          System.arraycopy(l2, 0, outBuf, a + m, b)
          outBuf
        }
        def blockBytes(bi: Int): Array[Byte] = Lz4Ops.encodeBlock(Seq(
          (lit(bi, 0, a), Some((o1, m))), (lit(bi, 1, b), None)))
        val storedData = Array.tabulate(r)(x => ((id * 13 + x) & 0xff).toByte)
        val blocks: Seq[Either[Array[Byte], Array[Byte]]] =
          (0 until c).map { bi =>
            val full = blockBytes(bi)
            Left(if (trunc && bi == 0) full.dropRight(1) else full)
          } ++ (if (hasStored) Seq(Right(storedData)) else Nil)
        val content = (0 until c).map(blockContent).reduce(_ ++ _) ++
          (if (hasStored) storedData else Array.empty[Byte])
        val frame = Lz4Ops.encodeFrame(blocks, blockChecksum = bc,
          contentBytes = if (cs) Some(content) else None,
          declaredSize = if (cs) Some(content.length.toLong) else None)
        if (bad) {
          val hcPos = 6 + (if (cs) 8 else 0)
          frame(hcPos) = (frame(hcPos) ^ 0x5A).toByte
        } else if (corrupt) {
          val litPos = 7 + (if (cs) 8 else 0) + 4 + 1
          frame(litPos) = (frame(litPos) ^ 0x5A).toByte
        }
        frame
      }
      graft.operators.Lz4Ops.lz4Features(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id AS k,
               5 + doc_id % 7 AS a, 4 + doc_id % 9 AS m, 3 + doc_id % 5 AS b,
               1 + doc_id % 2 AS c,
               CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS st,
               6 + doc_id % 5 AS r,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS bc,
               CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS cs,
               (doc_id % 17 = 0) AS bad,
               (doc_id % 17 <> 0 AND doc_id % 19 = 0) AS corrupt,
               (doc_id % 17 <> 0 AND doc_id % 19 <> 0 AND doc_id % 23 = 0) AS tr
        FROM documents),
      d AS (SELECT *,
               a + b + 4 AS z,
               c * (a + m + b) + st * r AS big_d,
               7 + cs * 8 + c * (4 + a + b + 4 + bc * 4) - (CASE WHEN tr THEN 1 ELSE 0 END)
                 + st * (4 + r + bc * 4) + 4 + cs * 4 AS w
            FROM p)
      SELECT k AS doc_id,
             CAST(CASE WHEN bad THEN 0 ELSE 1 END AS BIGINT) AS valid,
             CAST(CASE WHEN bad THEN 0 ELSE bc END AS BIGINT) AS has_block_crc,
             CAST(CASE WHEN bad THEN 0 ELSE cs END AS BIGINT) AS has_content_crc,
             CAST(CASE WHEN bad THEN 0 ELSE 65536 END AS BIGINT) AS block_max_size,
             CAST(CASE WHEN bad OR cs = 0 THEN -1 ELSE big_d END AS BIGINT) AS declared_size,
             CAST(CASE WHEN bad THEN 0 ELSE c END AS BIGINT) AS n_compressed,
             CAST(CASE WHEN bad THEN 0 ELSE st END AS BIGINT) AS n_stored,
             CAST(CASE WHEN bad THEN 0
                  ELSE c * z - (CASE WHEN tr THEN 1 ELSE 0 END) + st * r
                  END AS BIGINT) AS stored_bytes,
             CAST(CASE WHEN bad THEN 0
                  WHEN tr THEN big_d - (a + m + b)
                  ELSE big_d END AS BIGINT) AS decoded_bytes,
             CAST(CASE WHEN tr AND NOT bad THEN 1 ELSE 0 END AS BIGINT) AS n_decode_failed,
             CAST(CASE WHEN bad OR bc = 0 THEN 0
                  WHEN corrupt THEN c + st - 1
                  ELSE c + st END AS BIGINT) AS block_crc_ok,
             CAST(CASE WHEN NOT bad AND bc = 1 AND corrupt THEN 1 ELSE 0 END AS BIGINT)
               AS block_crc_bad,
             CAST(CASE WHEN bad OR cs = 0 THEN -1
                  WHEN tr THEN -1
                  WHEN corrupt THEN 0 ELSE 1 END AS BIGINT) AS content_crc_ok,
             CAST(CASE WHEN bad OR cs = 0 THEN -1
                  WHEN tr THEN 0 ELSE 1 END AS BIGINT) AS content_size_match,
             CAST(CASE WHEN bad THEN w ELSE 0 END AS BIGINT) AS trailing_bytes
      FROM d ORDER BY doc_id"""))


  // --------------------------------------------------------------- q382

  /** q382 — Snappy framing census: the streaming container form of
    * the codec the whole lake trio declares (q377/q378/q381 all
    * report SNAPPY), closing the compression-container family next to
    * gzip decode (q194) and the zstd frame walk (q366). Chunk walk
    * with the stream-identifier gate, uncompressed-chunk CRCs
    * VERIFIED via the same masked CRC-32C kernel TFRecord uses
    * (TfRecordOps.crc32c/mask — one Castagnoli implementation in the
    * engine), compressed payloads counted never decoded, and a failed
    * CRC counted rather than halting — the 24-bit length framing
    * stays authoritative over payload integrity. Three malformed
    * classes: 3-byte tail cut (prefix kept, per-class trailing
    * arithmetic in the oracle), identifier flip (file rejected whole),
    * and a flipped CRC byte (valid stream, crc_bad = 1 — integrity
    * and framing reported independently). Map-only, zero shuffles.
    */
  val q382 = Q("q382_snappy_framing_census",
    (s, dir) => {
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val base = graft.operators.SnappyFrameOps.encodeSynthetic(
          uncLens = Seq.fill(1 + (id % 3).toInt)(30 + 2 * (id % 10).toInt),
          compLens = if (id % 2 == 1) Seq(20 + (id % 5).toInt) else Nil,
          padLen = if (id % 4 == 0) 8 else 0)
        if (id % 17 == 0) base.dropRight(3)
        else if (id % 19 == 0) { val c = base.clone(); c(5) = 0x7F.toByte; c }
        else if (id % 23 == 0) {
          // flip one CRC byte of the first uncompressed chunk
          // (offset 10 identifier + 4 chunk header)
          val c = base.clone(); c(14) = (c(14) ^ 0x5A).toByte; c
        } else base
      }
      graft.operators.SnappyFrameOps.snappyFeatures(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id AS k,
               1 + (doc_id % 3) AS nu,
               30 + 2 * (doc_id % 10) AS ulen,
               doc_id % 2 AS hasc,
               20 + (doc_id % 5) AS clen,
               CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS hasp,
               (doc_id % 17 = 0) AS cut,
               (doc_id % 17 <> 0 AND doc_id % 19 = 0) AS flip,
               (doc_id % 17 <> 0 AND doc_id % 19 <> 0 AND doc_id % 23 = 0) AS crcflip
        FROM documents),
      t AS (
        SELECT *,
               10 + nu * (38 + 2 * (k % 10)) + hasc * (28 + (k % 5))
                 + hasp * 12 AS total,
               -- the 3-byte cut lands in the LAST chunk: pad, else the
               -- compressed chunk, else the last uncompressed chunk
               CASE WHEN cut AND hasp = 1 THEN nu
                    WHEN cut AND hasc = 1 THEN nu
                    WHEN cut THEN nu - 1
                    WHEN flip THEN 0 ELSE nu END AS nuw,
               CASE WHEN cut AND hasp = 0 AND hasc = 1 THEN 0
                    WHEN flip THEN 0 ELSE hasc END AS ncw,
               CASE WHEN cut OR flip THEN 0 ELSE hasp END AS npw
        FROM p)
      SELECT k AS doc_id,
             CAST(CASE WHEN cut OR flip THEN 0 ELSE 1 END AS BIGINT) AS valid,
             CAST(ncw AS BIGINT) AS n_compressed,
             CAST(nuw AS BIGINT) AS n_uncompressed,
             CAST(npw AS BIGINT) AS n_padding,
             CAST(0 AS BIGINT) AS n_skippable,
             CAST(nuw * ulen AS BIGINT) AS uncompressed_bytes,
             CAST(ncw * clen AS BIGINT) AS compressed_bytes,
             CAST(CASE WHEN crcflip THEN nuw - 1 ELSE nuw END AS BIGINT) AS crc_ok,
             CAST(CASE WHEN crcflip THEN 1 ELSE 0 END AS BIGINT) AS crc_bad,
             CAST(0 AS BIGINT) AS stopped_unskippable,
             CAST(CASE WHEN flip THEN total
                  WHEN cut AND hasp = 1 THEN 12 - 3
                  WHEN cut AND hasc = 1 THEN 28 + (k % 5) - 3
                  WHEN cut THEN 38 + 2 * (k % 10) - 3
                  ELSE 0 END AS BIGINT) AS trailing_bytes
      FROM t ORDER BY doc_id"""))


  // --------------------------------------------------------------- q387

  /** q387 — Snappy RAW-BLOCK decode census
    * ([[graft.operators.SnappyFrameOps.snappyDecodeFeatures]] over
    * [[graft.operators.SnappyRaw.decode]]): q382 walks the framing and
    * counts compressed chunks by their headers; raw snappy is varint +
    * literal/copy LZ with no entropy coding, so this layer DECODES each
    * type-0 chunk (bounded by the 65536 block cap — the gzip-bomb
    * discipline) and verifies the uncompressed length and the chunk's
    * masked CRC-32C against the DECODED bytes rather than trusting
    * either. Fixture chunks are literal+overlapping-copy streams whose
    * encoded widths are closed-form (1-byte preamble, 1-byte literal
    * tag, 2-byte copy form), so the oracle replays every column
    * arithmetically; two planted classes — a truncated bitstream
    * (decode fails, counted never halted) and a flipped CRC (decodes,
    * checksum refuses). Map-only, zero shuffles.
    */
  val q387 = Q("q387_snappy_raw_decode",
    (s, dir) => {
      import graft.operators.{SnappyFrameOps, SnappyRaw}
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val c = 1 + (id % 3).toInt
        val out = new java.io.ByteArrayOutputStream()
        out.write(SnappyFrameOps.identifierChunk)
        (0 until c).foreach { i =>
          val a = 10 + ((id + i) % 7).toInt
          val l = 4 + ((id + i) % 8).toInt
          val ops = Seq(
            SnappyRaw.Lit(Array.tabulate(a)(b => ((b * 31 + id) & 0xff).toByte)),
            SnappyRaw.Copy(1 + ((id + i) % 5).toInt, l))
          out.write(SnappyFrameOps.compressedChunk(ops,
            flipCrc = id % 13 != 0 && id % 11 == 0 && i == 0,
            truncate = id % 13 == 0 && i == 0))
        }
        out.toByteArray
      }
      graft.operators.SnappyFrameOps.snappyDecodeFeatures(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT doc_id AS k, 1 + doc_id % 3 AS c,
                        (doc_id % 13 = 0) AS tr,
                        (doc_id % 13 <> 0 AND doc_id % 11 = 0) AS fl
                 FROM documents),
      js AS (SELECT unnest(range(3)) AS j),
      ch AS (SELECT p.k, js.j,
                    10 + ((p.k + js.j) % 7) AS a,
                    4 + ((p.k + js.j) % 8) AS l,
                    (p.tr AND js.j = 0) AS t,
                    (p.fl AND js.j = 0) AS f
             FROM p JOIN js ON js.j < p.c)
      SELECT k AS doc_id,
             CAST(1 AS BIGINT) AS valid,
             CAST(count(*) AS BIGINT) AS n_compressed,
             CAST(sum(a + 4 - CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
               AS compressed_bytes,
             CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS raw_ok,
             CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS raw_failed,
             CAST(sum(CASE WHEN t THEN 0 ELSE a + l END) AS BIGINT) AS raw_bytes,
             CAST(sum(CASE WHEN t OR f THEN 0 ELSE 1 END) AS BIGINT) AS raw_crc_ok,
             CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS raw_crc_bad,
             CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS n_literals,
             CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS n_copies
      FROM ch GROUP BY k ORDER BY doc_id"""))


  // --------------------------------------------------------------- q395

  /** q395 — zstd SEQUENCES decode census
    * ([[graft.operators.ZstdSeq.zstdSeqFeatures]]): the entropy
    * boundary q366/q368 stopped at, crossed for the default-tables
    * case — raw/RLE literals + Predefined_Mode FSE sequences (tables
    * BUILT from RFC 8878's normalized counts via the spec's spread
    * algorithm), the backward bitstream, interleaved state updates,
    * and the three-slot repeat-offset history. Honest boundaries
    * stay separate: a broken bitstream counts `n_failed` (defect);
    * blocks AFTER a failure are state-lost skips and frames declaring
    * a DICTIONARY id are declined whole — both ride `n_unsupported`
    * with `dict_gated` naming the frame-level class (valid frames the
    * decoder declines, never conflated with spec violations).
    * ZstdSeqSpec grades the decoder against real zstd-CLI frames
    * byte-for-byte incl. their XXH64 checksums; this query's fixtures
    * mix a doc-varying raw block, a pinned predefined-FSE block (real
    * zstd output), a hand-encoded RLE-mode block, and planted
    * failed/state-lost/dict-gated classes. Oracle closed-form.
    * Map-only, zero shuffles.
    */
  val q395 = Q("q395_zstd_seq_decode",
    (s, dir) => {
      import graft.operators.{ZstdOps, ZstdSeq}
      // real zstd -1 output for a 39-byte repetitive input: raw
      // literals + one predefined-FSE sequence (pinned in ZstdSeqSpec)
      val predefBlock = "6061626364656667685f78797a01000ccb11"
        .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      val rleModeBlock = ZstdOps.literalsHeader(0, 10) ++
        "0123456789".getBytes ++ Array[Byte](1, 0x54, 4, 1, 5, 0x02)
      // a SUPPLIED dictionary (id 7): the r15 applied class — frames
      // naming it decode against its window/tables instead of gating
      val dict = ZstdSeq.parseDictionary(ZstdSeq.encodeDictionary(7L,
        Array.tabulate(128)(i => ((i * 7 + 3) % 251).toByte))).get
      // one sequence whose offset (97) reaches 95 bytes INTO the
      // dictionary window, and a treeless FIRST block legal only
      // because the dictionary carries the Huffman table
      val dictRefBlock = ZstdOps.literalsHeader(0, 2) ++ "XY".getBytes ++
        Array[Byte](1, 0x54, 2, 6, 5, 0x64)
      val treelessDict = ZstdOps.literalsHeader(3, 16, 10) ++
        Array[Byte](1, 0, 1, 0, 1, 0) ++
        Array[Byte](0x1a, 0x15, 0x10, 0x1f) ++ Array[Byte](0)
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val raw = Array.tabulate(20 + k)(i => ((i * 13 + k) % 251).toByte)
        val broken = predefBlock.clone()
        broken(broken.length - 1) = 0 // bitstream marker erased
        if (k % 9 == 0 && k % 2 == 0)
          // dictionary APPLIED: id 7 is in the supplied map
          ZstdOps.encodeFrameWithBlocks(Seq(
            (0, raw), (2, dictRefBlock), (2, treelessDict)), dictId = 7)
        else {
          val blocks = Seq(
            (0, raw), (2, predefBlock), (2, rleModeBlock)) ++
            (if (k % 4 == 0) // treeless FIRST-use: spec-corrupt (no
              // prior Huffman table anywhere in the frame)
              Seq((2, ZstdOps.literalsHeader(3, 50, 10) ++ Array.fill(10)(7.toByte)))
            else Nil) ++
            (if (k % 5 == 0) Seq((2, broken)) else Nil)
          // every 18th doc's frame declares an UNSUPPLIED id: a
          // VALID frame still declined whole (dict_gated class)
          ZstdOps.encodeFrameWithBlocks(blocks,
            dictId = if (k % 9 == 0) 8 else 0)
        }
      }
      ZstdSeq.zstdSeqFeatures(synth, "doc_id", "payload",
          dicts = Map(7L -> dict))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      f AS (SELECT doc_id, k,
              CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END AS t4,
              CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END AS t5,
              CASE WHEN k % 9 = 0 AND k % 2 = 1 THEN 1 ELSE 0 END AS dgate,
              CASE WHEN k % 9 = 0 AND k % 2 = 0 THEN 1 ELSE 0 END AS dapp
            FROM d)
      SELECT doc_id,
             CAST(1 AS BIGINT) AS valid,
             CAST(CASE WHEN dapp = 1 THEN 3 ELSE 3 + t4 + t5 END AS BIGINT)
               AS n_blocks,
             CAST(1 AS BIGINT) AS n_raw,
             CAST(0 AS BIGINT) AS n_rle,
             CAST(CASE WHEN dapp = 1 THEN 2 ELSE 2 + t4 + t5 END AS BIGINT)
               AS n_compressed,
             CAST(CASE WHEN dgate = 1 THEN 0 ELSE 2 END AS BIGINT) AS n_decoded,
             CAST(CASE WHEN dapp = 1 THEN 0
                       WHEN dgate = 1 THEN 2 + t4 + t5
                       WHEN t4 = 1 AND t5 = 1 THEN 1
                       ELSE 0 END AS BIGINT) AS n_unsupported,
             CAST(CASE WHEN dapp = 1 OR dgate = 1 THEN 0
                       WHEN t4 = 1 OR t5 = 1 THEN 1
                       ELSE 0 END AS BIGINT) AS n_failed,
             CAST(CASE WHEN dapp = 1 THEN 46 + k
                       WHEN dgate = 1 THEN 20 + k
                       ELSE 77 + k END AS BIGINT) AS decoded_bytes,
             CAST(-1 AS BIGINT) AS content_ok,
             CAST(dgate AS BIGINT) AS dict_gated,
             CAST(dapp AS BIGINT) AS dict_used
      FROM f ORDER BY doc_id"""))


  // --------------------------------------------------------------- q414

  /** q414 — page-level ROW audit
    * ([[graft.operators.ParquetFooter.pageRowsAudit]]): q413 counted
    * skippable PAGES; scans are billed in ROWS, and per-page row
    * counts live one structure over — the OffsetIndex, whose
    * first_row_index deltas price each page. Composition pinned:
    * ColumnIndex bounds pick the skippable pages, OffsetIndex deltas
    * convert them to rows, and a chunk with bounds but NO page
    * locations (planted every 9th doc) reports its full row-group
    * rows as unknown-and-scanned — bounds without locations prune
    * pages, not rows. Oracle closed-form. Map-only, zero shuffles.
    */
  val q414 = Q("q414_parquet_page_rows",
    (s, dir) => {
      import graft.operators.ParquetFooter
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val nRG = 1 + k % 3
        def nP(rg: Int) = 2 + (k + rg) % 3
        def pagesOf(rg: Int): Seq[ParquetFooter.PageEntry] =
          (0 until nP(rg)).map { p =>
            val np = k % 7 == 0 && rg == 0 && p == 1
            (np, 100L * rg + 10 * p, 100L * rg + 10 * p + 9, p.toLong)
          }
        def oiOf(rg: Int): Option[Seq[Long]] =
          if (k % 9 == 0 && rg == 0) None
          else Some((0 until nP(rg)).map(p => p.toLong * (1000L / nP(rg))))
        ParquetFooter.encodeSyntheticPaged(
          (0 until 3).map(c => s"col_$c"), nRG, 1000L, colIdx = 1,
          pagesOf, offsetIndexOf = Some(oiOf))
      }
      ParquetFooter.pageRowsAudit(synth, "doc_id", "payload",
          colIdx = 1, threshold = 25L)
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      p AS (SELECT doc_id, k, CAST(1 + k % 3 AS BIGINT) AS nRG,
              CAST(2 + k % 3 AS BIGINT) AS nP0,
              CASE WHEN k % 9 = 0 THEN 1 ELSE 0 END AS nooi
            FROM d),
      r AS (SELECT doc_id, k, nooi, nP0, unnest(range(nRG)) AS rg, nRG FROM p),
      g AS (SELECT doc_id, CAST(2 + (k + rg) % 3 AS BIGINT) AS nP FROM r),
      agg AS (SELECT doc_id, SUM(nP) AS total_pages FROM g GROUP BY doc_id)
      SELECT p.doc_id,
        nRG AS n_rgs,
        CAST(total_pages - nooi * nP0 AS BIGINT) AS n_pages_rowed,
        CAST(nooi * nP0 AS BIGINT) AS n_pages_rows_unknown,
        CAST(1000 * nRG AS BIGINT) AS rows_total,
        CAST(CASE WHEN nooi = 1 THEN 0
                  WHEN k % 3 = 0 THEN 1000
                  WHEN k % 3 = 1 THEN 666
                  ELSE 500 END AS BIGINT) AS rows_skippable_gt,
        CAST(1000 * nRG - CASE WHEN nooi = 1 THEN 0
                               WHEN k % 3 = 0 THEN 1000
                               WHEN k % 3 = 1 THEN 666
                               ELSE 500 END AS BIGINT) AS rows_scanned_gt,
        CAST(nooi * 1000 AS BIGINT) AS rows_unknown
      FROM p JOIN agg ON agg.doc_id = p.doc_id
      ORDER BY p.doc_id"""))


  // --------------------------------------------------------------- q413

  /** q413 — parquet PAGE-INDEX prune audit
    * ([[graft.operators.ParquetFooter.pageIndexAudit]]): the pruning
    * layer BELOW q380's row-group zone maps — ColumnIndex structures
    * (per-page min/max, null-page flags, null counts) located via
    * ColumnChunk's column_index_offset/length, decoded through the
    * same thrift-compact walker. Page semantics pinned: a NULL page
    * is provably skippable for any non-null predicate (it holds no
    * values — planted every 7th doc); a real page skips for `x > 25`
    * iff its max ≤ 25; a chunk whose index pointer runs past EOF is
    * declined WHOLE (every 11th doc) — its pages cannot even be
    * counted, so the census says so instead of guessing. Oracle
    * closed-form over the page schedule. Map-only, zero shuffles.
    */
  val q413 = Q("q413_parquet_page_index",
    (s, dir) => {
      import graft.operators.ParquetFooter
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val nRG = 1 + k % 3
        def pagesOf(rg: Int): Seq[ParquetFooter.PageEntry] =
          (0 until (2 + (k + rg) % 3)).map { p =>
            val np = k % 7 == 0 && rg == 0 && p == 1
            (np, 100L * rg + 10 * p, 100L * rg + 10 * p + 9, p.toLong)
          }
        ParquetFooter.encodeSyntheticPaged(
          (0 until 4).map(c => s"col_$c"), nRG, 1000L, colIdx = 1,
          pagesOf, badOffsetRg = if (k % 11 == 0) Some(0) else None)
      }
      ParquetFooter.pageIndexAudit(synth, "doc_id", "payload",
          colIdx = 1, threshold = 25L)
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      p AS (SELECT doc_id, k, CAST(1 + k % 3 AS BIGINT) AS nRG,
              CASE WHEN k % 11 = 0 THEN 1 ELSE 0 END AS unread,
              CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END AS np7
            FROM d),
      r AS (SELECT doc_id, k, unread, np7, unnest(range(nRG)) AS rg FROM p),
      g AS (SELECT doc_id, rg, CAST(2 + (k + rg) % 3 AS BIGINT) AS nP,
              CASE WHEN unread = 1 AND rg = 0 THEN 0 ELSE 1 END AS readable,
              np7
            FROM r),
      agg AS (SELECT doc_id,
                SUM(CASE WHEN readable = 1 THEN nP ELSE 0 END) AS n_pages,
                SUM(CASE WHEN readable = 1 AND rg = 0 AND np7 = 1
                         THEN 1 ELSE 0 END) AS n_null_pages,
                SUM(CASE WHEN readable = 1 AND rg = 0 THEN 2 ELSE 0 END) AS skip,
                SUM(CASE WHEN readable = 1 THEN nP * (nP - 1) / 2 ELSE 0 END)
                  AS sum_nc
              FROM g GROUP BY doc_id)
      SELECT p.doc_id,
        nRG AS n_rgs,
        CAST(nRG - unread AS BIGINT) AS n_indexed,
        CAST(0 AS BIGINT) AS n_no_index,
        CAST(unread AS BIGINT) AS n_unreadable_idx,
        CAST(n_pages AS BIGINT) AS n_pages,
        CAST(n_null_pages AS BIGINT) AS n_null_pages,
        CAST(skip AS BIGINT) AS pages_skippable_gt,
        CAST(n_pages - skip AS BIGINT) AS pages_scanned_gt,
        CAST(sum_nc AS BIGINT) AS sum_null_counts
      FROM p JOIN agg ON agg.doc_id = p.doc_id
      ORDER BY p.doc_id"""))


  // --------------------------------------------------------------- q403

  /** q403 — H.264 SPS/PPS parameter-set decode
    * ([[graft.operators.NalCensus.spsFeatures]]): the q318 NAL census
    * located parameter sets but stayed dimension-blind; the SPS is
    * plain Exp-Golomb (no CABAC/CAVLC), so parsing it recovers
    * width/height (with the spec's crop-unit and field-coding
    * arithmetic), profile/level, chroma format and bit depth — plus
    * the PPS entropy-coding mode a transcoding fleet budgets on.
    * Honest boundaries kept separate: a truncated SPS is malformed
    * (sps_ok 0), a seq_scaling_matrix SPS is a valid stream this
    * parser DECLINES (sps_gated 1, planted every 17th doc) — the
    * entropy-coded slice data itself stays the stub boundary. RBSP
    * emulation-prevention bytes are stripped before bit parsing.
    * Oracle closed-form over the schedule. Map-only, zero shuffles.
    */
  val q403 = Q("q403_h264_sps_dims",
    (s, dir) => {
      import graft.operators.NalCensus
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val profile = if (k % 17 == 0 || k % 3 == 0) 100 else 66
        val sps0 = NalCensus.encodeSps(profile, 30 + k % 21,
          19 + k % 40, 14 + k % 30, frameMbsOnly = k % 5 != 0,
          crop = if (k % 4 == 0) Some((0, 1, 0, 2)) else None,
          scalingGate = k % 17 == 0)
        val sps = if (k % 13 == 0) sps0.take(2) else sps0
        val pps = NalCensus.encodePps(cabac = k % 2 == 1)
        val filler = Array.tabulate(20 + k)(i => ((i * 31 + k) % 254 + 1).toByte)
        NalCensus.encodeNals(Seq(
          (6, filler), (7, sps), (8, pps), (5, filler)))
      }
      NalCensus.spsFeatures(synth, "doc_id", "payload").orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      f AS (SELECT doc_id, k,
              CASE WHEN k % 13 <> 0 AND k % 17 = 0 THEN 1 ELSE 0 END AS gate,
              CASE WHEN k % 13 = 0 OR k % 17 = 0 THEN 0 ELSE 1 END AS ok,
              CASE WHEN k % 3 = 0 OR k % 17 = 0 THEN 100 ELSE 66 END AS prof,
              20 + k % 40 AS wmb, 15 + k % 30 AS hmb,
              CASE WHEN k % 5 = 0 THEN 0 ELSE 1 END AS fmo,
              CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END AS crop
            FROM d)
      SELECT doc_id,
        CAST(4 AS BIGINT) AS n_nals,
        CAST(ok AS BIGINT) AS sps_ok,
        CAST(gate AS BIGINT) AS sps_gated,
        CAST(CASE WHEN ok = 1 THEN prof ELSE 0 END AS BIGINT) AS profile_idc,
        CAST(CASE WHEN ok = 1 THEN 30 + k % 21 ELSE 0 END AS BIGINT) AS level_idc,
        CAST(ok AS BIGINT) AS chroma_format,
        CAST(CASE WHEN ok = 1 THEN 8 ELSE 0 END AS BIGINT) AS bit_depth,
        CAST(CASE WHEN ok = 1 THEN wmb * 16 - crop * 2 ELSE 0 END AS BIGINT)
          AS width,
        CAST(CASE WHEN ok = 1
                  THEN (2 - fmo) * hmb * 16 - crop * 2 * (2 - fmo) * 2
                  ELSE 0 END AS BIGINT) AS height,
        CAST(CASE WHEN ok = 1 THEN fmo ELSE 0 END AS BIGINT) AS frame_mbs_only,
        CAST(1 AS BIGINT) AS pps_ok,
        CAST(k % 2 AS BIGINT) AS cabac
      FROM f ORDER BY doc_id"""))


  // --------------------------------------------------------------- q396

  /** q396 — FULL zstd decode census over REAL reference-encoder
    * blocks: q395 gates the predefined/RLE surface; this puts the
    * rest of the decoder — Huffman literals (FSE-compressed weights,
    * real zstd -3 output), FSE_Compressed sequence modes (real
    * zstd -19 output), and Treeless literals riding the frame's
    * Huffman table across a block boundary — under the driver's
    * oracle gate. The two entropy-coded blocks are pinned CLI bytes
    * (provenance in ZstdSeqSpec, where each also verifies against
    * its source frame's own XXH64); the treeless follower is carved
    * deterministically from the Huffman block's own stream. Oracle
    * closed-form over the mix schedule. Map-only, zero shuffles.
    */
  val q396 = Q("q396_zstd_full_decode",
    (s, dir) => {
      import graft.operators.{ZstdOps, ZstdSeq}
      def hx(h: String) = h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      // a REAL trained dictionary (zstd --train over structured JSON
      // samples) and a REAL `zstd -3 -D` frame naming it (id
      // 1231626331, content checksum present) — provenance + checksum
      // grading in ZstdSeqSpec; here they put the dict-APPLIED path
      // under the driver's oracle gate
      val RealDictHex: String =
        "37a430ec5b2069491b10d80a0ae90cc3300c83ab681816caca2da59429cdd8a942b1d606530a00000008c7d1801a00000400" +
        "800c8d81020000008002000f918702950d0b8796510400000c180740b5010000211d11000000003489df4c04000000000000" +
        "0000000000000000010000000400000008000000656e74223a22706167655f76696577222c2275736572223a22753137222c" +
        "2270617468223a222f646f63732f73656374696f6e372f6974656d3134222c226c6174656e63795f6d73223a32312c227265" +
        "67696f6e223a2275732d656173742d31227d0a7b226576656e74223a22706167655f76696577222c2275736572223a227531" +
        "38222c2270617468223a222f646f63732f73656374696f6e31302f6974656d3135222c226c6174656e63795f6d73223a3238" +
        "2c22726567696f6e223a2275732d656173742d32227d0a7b226576656e74223a22706167655f76696577222c227573657222" +
        "3a22753139222c2270617468223a222f646f63732f73656374696f6e322f6974656d3136222c226c6174656e63795f6d7322" +
        "3a33352c22726567696f6e223a2275732d656173742d30227d0a7b226576656e74223a22706167655f76696577222c227573" +
        "6572223a22753230222c2270617468223a222f646f63732f73656374696f6e352f6974656d30222c226c6174656e63795f6d" +
        "73223a34322c22726567696f6e223a2275732d656173742d31227d0a7b226576656e74223a22706167655f76696577222c22" +
        "75736572223a22753231222c2270617468223a222f646f63732f73656374696f6e382f6974656d31222c226c6174656e6379" +
        "5f6d73223a34392c22726567696f6e223a2275732d656173742d32227d0a7b226576656e74223a22706167655f7669657722" +
        "2c227573657222222c2275736572223a227532222c2270617468223a222f646f63732f73656374696f6e352f6974656d3134" +
        "222c226c6174656e63795f6d73223a3334392c22726567696f6e223a2275732d656173742d30227d0a7b226576656e74223a" +
        "22706167655f76696577222c2275736572223a227533222c2270617468223a222f646f63732f73656374696f6e382f697465" +
        "6d3135222c226c6174656e63795f6d73223a3335362c22726567696f6e223a2275732d656173742d31227d0a7b226576656e" +
        "74223a22706167655f76696577222c2275736572223a227534222c2270617468223a222f646f63732f73656374696f6e302f" +
        "6974656d3136222c226c6174656e63795f6d73223a3336332c22726567696f6e223a2275732d656173742d32227d0a7b2265" +
        "76656e74223a22706167655f76696577222c2275736572223a227537222c2270617468223a222f646f63732f73656374696f" +
        "6e342f6974656d32222c226c6174656e63795f6d73223a3131302c22726567696f6e223a2275732d656173742d30227d0a7b" +
        "226576656e74223a22706167655f76696577222c2275736572223a227538222c2270617468223a222f646f63732f73656374" +
        "696f6e372f6974656d33222c226c6174656e63795f6d73223a3131372c22726567696f6e223a2275732d656173742d31227d" +
        "0a7b226576656e74223a22706167655f76696577222c2275736572223a227539222c2270617468223a222f646f63732f7365" +
        "6374696f6e31302f6974656d34222c226c6174656e63795f6d73223a3132342c22726567696f6e223a2275732d656173742d" +
        "32227d0a7b226576656e74223a22706167655f76696577222c2275736572223a22753130222c2270617468223a222f646f63" +
        "732f73656374696f6e322f6974656d35222c226c6174656e63795f6d73223a3133312c22726567696f6e223a2275732d6561" +
        "73742d30227d0a7b226576656e74223a22706167655f76696577222c2275736572223a22753131222c2270617468223a222f" +
        "646f63732f73656374696f6e352f6974656d36222c226c6174656e63795f6d73223a3133382c22726567696f6e223a227573" +
        "2d656173742d31227d0a7b226576656e74223a22706167655f76696577222c2275736572223a22753132222c227061746822" +
        "3a222f646f63732f73656374696f6e382f6974656d37222c226c6174656e63795f6d73223a3134352c22726567696f6e223a" +
        "2275732d656173742d32227d0a7b226576656e74223a22706167655f76696577222c2275736572223a22753133222c227061" +
        "7468223a222f646f63732f73656374696f6e302f6974656d38222c226c6174656e63795f6d73223a3135322c22726567696f" +
        "6e223a2275732d656173742d30227d0a7b226576656e74223a22706167655f76696577222c2275736572223a22753134222c" +
        "2270617468223a222f646f63732f73656374696f6e332f6974656d39222c226c6174656e63795f6d73223a3135392c227265" +
        "67696f6e223a2275732d656173742d31227d0a7b226576656e74223a22706167655f76696577222c2275736572223a227531" +
        "35222c2270617468223a222f646f63732f73656374696f6e362f6974656d3130222c226c6174656e63795f6d73223a313636" +
        "2c22726567696f6e223a2275732d656173742d32227d0a7b226576656e74223a22706167655f76696577222c227573657222" +
        "3a22753136222c2270617468223a222f646f63732f73656374696f6e392f6974656d3131222c226c6174656e63795f6d7322" +
        "3a3137332c22726567696f6e223a2275732d656173742d30227d0a7b226576656e74223a22706167655f76696577222c2275" +
        "736572223a22753137222c2270617468223a222f646f63732f73656374696f6e312f6974656d3132222c226c6174656e"
      val RealFrameHex: String =
        "28b52ffd675b206949060f8d0a00c38a13c8474273b14f6d5ef647c5d521f347dbbe9656c9f8d6672d55e3c7572ad9cb716e" +
        "e5beee626229798a6d2a2d35a976adea8654d4f25c5fb68f3be7958566b25dc6b65acdb24a89a6772e17db130380b6fc078c" +
        "76fa630754eb8a669739b5b1c4276b1205aa576d2ad413a1929c9be1dacaf00ec58403ed9b318b0f49609f04f4197028cf1f" +
        "c6540adb02a45443c39e4cc001420810e034748e57dc6b939e7609980a7d4b549e204a08b8a188bf5a101e9e8f42412f9556" +
        "407f0c79c3819432768c4684a054127f00e408055720d557edc5a24b2b0904c21555a85caee5a498750738d51e9534744d5a" +
        "25e588fcf14c9b95fcf4c9f3ba8493f12fd38f558b23a5765fdf755b944572e609de41a216758c294a7332b4ea1b8851fe17" +
        "6d30f3b4034830013e60180ea1c4421e333a77c47d8cf64d46a3bca3248992c83714f1ff7f531cc7cd092d2296b57fa56795" +
        "94721968e1"
      val realDict = ZstdSeq.parseDictionary(hx(RealDictHex)).get
      val realFrame = hx(RealFrameHex)
      // real zstd -3 block: Huffman literals (80 literals), 159-byte content
      val hufBlock = hx("0205111690a76d888822ddd064bb91849656be7177777172871c09d750b3385d3ef67628f9294db2b6695db3b070ed8643991fe1a31bec5371babcb0e34a58443c00c816fc0807060087184211beffcadb96ec9e5230b86619")
      // real zstd -19 block: FSE_Compressed LL/OF/ML, 800-byte content
      val fseBlock = hx("d4071e252c333a41484f575e656c737a20272f363d444b525960686f767d232a313840474e555c636a71791f262d343b424951585f666d747b212930373e454c535a626970777e242b32565d646b2e353c43676e757c3f464d54781e252c50575e65282f363d61686f763940474e72791f264a51585f222930375b6269701e80a4a8a12bb9ff6fe0751a0311e0ef7f070b93000000000082e6af9999993933518a1ccfae02")
      // treeless follower: the Huffman block's own stream, re-headed
      // as Literals_Type 3 + nbSeq 0 (decodes to its 80 literals via
      // the frame-carried table)
      val treeless = {
        val v = ((hufBlock(0) & 0xff) | ((hufBlock(1) & 0xff) << 8) |
          ((hufBlock(2) & 0xff) << 16)) >>> 4
        val comp = (v >> 10) & 0x3FF
        val (_, treeBytes) = ZstdSeq.readHufTable(hufBlock, 3, 3 + comp).get
        val stream = hufBlock.slice(3 + treeBytes, 3 + comp)
        val h = 3 | (((v & 0x3FF)) << 4) | (stream.length << 14)
        Array[Byte]((h & 0xff).toByte, ((h >> 8) & 0xff).toByte,
          ((h >> 16) & 0xff).toByte) ++ stream ++ Array[Byte](0)
      }
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        if (k % 7 == 0 && k % 2 == 1)
          // the REAL `zstd -D` frame with its dictionary SUPPLIED:
          // full decode, graded by the frame's own XXH64 checksum
          realFrame
        else {
          val blocks = Seq(
            (0, Array.tabulate(10 + k)(i => ((i * 11 + k) % 251).toByte)),
            (2, if (k % 2 == 0) hufBlock else fseBlock)) ++
            (if (k % 6 == 0) Seq((2, treeless)) else Nil)
          // every 14th doc: an UNSUPPLIED dictionary id — the
          // entropy blocks are declined whole (dict_gated), only
          // the raw block counts
          ZstdOps.encodeFrameWithBlocks(blocks,
            dictId = if (k % 7 == 0) 9 else 0)
        }
      }
      ZstdSeq.zstdSeqFeatures(synth, "doc_id", "payload",
          dicts = Map(realDict.dictId -> realDict))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      f AS (SELECT doc_id, k,
              CASE WHEN k % 6 = 0 THEN 1 ELSE 0 END AS tl,
              CASE WHEN k % 7 = 0 AND k % 2 = 0 THEN 1 ELSE 0 END AS dgate,
              CASE WHEN k % 7 = 0 AND k % 2 = 1 THEN 1 ELSE 0 END AS dapp,
              CASE WHEN k % 2 = 0 THEN 159 ELSE 800 END AS blk
            FROM d)
      SELECT doc_id,
             CAST(1 AS BIGINT) AS valid,
             CAST(CASE WHEN dapp = 1 THEN 1 ELSE 2 + tl END AS BIGINT) AS n_blocks,
             CAST(CASE WHEN dapp = 1 THEN 0 ELSE 1 END AS BIGINT) AS n_raw,
             CAST(0 AS BIGINT) AS n_rle,
             CAST(1 + tl - dapp * tl AS BIGINT) AS n_compressed,
             CAST(CASE WHEN dgate = 1 THEN 0
                       WHEN dapp = 1 THEN 1
                       ELSE 1 + tl END AS BIGINT) AS n_decoded,
             CAST(CASE WHEN dgate = 1 THEN 1 + tl ELSE 0 END AS BIGINT)
               AS n_unsupported,
             CAST(0 AS BIGINT) AS n_failed,
             CAST(CASE WHEN dgate = 1 THEN 10 + k
                       WHEN dapp = 1 THEN 4102
                       ELSE 10 + k + blk + tl * 80 END AS BIGINT)
               AS decoded_bytes,
             CAST(CASE WHEN dapp = 1 THEN 1 ELSE -1 END AS BIGINT) AS content_ok,
             CAST(dgate AS BIGINT) AS dict_gated,
             CAST(dapp AS BIGINT) AS dict_used
      FROM f ORDER BY doc_id"""))


  // --------------------------------------------------------------- q415

  /** q415 — parquet DATA-PAGE decode
    * ([[graft.operators.ParquetPages.pageDecodeAudit]]): the layer
    * BELOW q413/q414's page index — the actual value bytes. Page
    * headers walk through the same thrift-compact reader as the
    * footer; definition levels and dictionary indices decode through
    * the RLE/bit-packed hybrid; values through PLAIN int64 or the
    * dictionary page; snappy chunks through [[graft.operators.SnappyRaw]].
    * The schedule plants every class: dict vs PLAIN encoding, snappy
    * vs uncompressed, multi-page and multi-row-group chunks, nulls
    * (def-level mix), a gzip-stamped chunk (valid file, DECLINED
    * codec — gated, counts zeroed) and a truncated file (malformed —
    * ok 0, nothing guessed). Pinned against REAL parquet-mr output —
    * snappy + dictionary + nulls + the mid-chunk dictionary→PLAIN
    * fallback — in ParquetPagesSpec; fuzz target in WalkerFuzzSpec.
    * Oracle recomputes the decoded aggregates closed-form from the
    * planted values. Map-only, zero shuffles; the audit keeps only
    * per-file aggregates, never a chunk's values.
    */
  val q415 = Q("q415_parquet_page_decode",
    (s, dir) => {
      import graft.operators.ParquetPages
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val nRg = if (k % 7 == 0) 2 else 1
        val n = 40 + k
        def vals(r: Int): Seq[Option[Long]] =
          (0 until n).map(i => if ((i + r) % 11 == 3) None
            else Some((id + r * 5 + i * 3) % 23))
        val pagesOf = (0 until nRg).map { r =>
          val v = vals(r)
          if (k % 3 == 0) Seq(v.take(n / 2), v.drop(n / 2)) else Seq(v)
        }
        if (k % 17 == 0)
          ParquetPages.encodeInt64File(pagesOf, useDict = false,
            codec = 0, truncate = 8)
        else if (k % 13 == 0)
          ParquetPages.encodeInt64File(pagesOf, useDict = false, codec = 2)
        else
          // every 19th doc writes DATA PAGE V2 (levels up front,
          // values compressed alone) — same logical content, so
          // the closed-form oracle is invariant across the page
          // format, which is itself the pinned property
          ParquetPages.encodeInt64File(pagesOf, useDict = k % 2 == 0,
            codec = if (k % 5 == 0) 1 else 0, pageV2 = k % 19 == 0)
      }
      ParquetPages.pageDecodeAudit(synth, "doc_id", "payload", colIdx = 0)
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      cls AS (SELECT doc_id, k,
          CASE WHEN k % 17 = 0 THEN 'trunc'
               WHEN k % 13 = 0 THEN 'gz' ELSE 'ok' END AS cls,
          CAST(CASE WHEN k % 7 = 0 THEN 2 ELSE 1 END AS BIGINT) AS nrg,
          CAST(40 + k AS BIGINT) AS n,
          CAST(CASE WHEN k % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ppr,
          CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END AS usedict
        FROM d),
      rg AS (SELECT doc_id, cls, n, usedict, unnest(range(nrg)) AS r FROM cls),
      rows_ AS (SELECT doc_id, cls, usedict, r, unnest(range(n)) AS i FROM rg),
      vals AS (SELECT doc_id, r,
          CASE WHEN (i + r) % 11 = 3 THEN NULL
               ELSE (doc_id + r * 5 + i * 3) % 23 END AS v
        FROM rows_),
      agg AS (SELECT doc_id,
          COUNT(v) AS nv, COUNT(*) - COUNT(v) AS nn,
          MIN(v) AS mn, MAX(v) AS mx, SUM(v) AS sm
        FROM vals GROUP BY doc_id),
      dct AS (SELECT doc_id, SUM(nd) AS nd FROM
          (SELECT doc_id, r, COUNT(DISTINCT v) AS nd FROM vals
           WHERE v IS NOT NULL GROUP BY doc_id, r) GROUP BY doc_id)
      SELECT c.doc_id,
        CAST(CASE WHEN cls = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS ok,
        CAST(CASE WHEN cls = 'gz' THEN 1 ELSE 0 END AS BIGINT) AS gated,
        CAST(CASE WHEN cls = 'trunc' THEN 0 ELSE nrg END AS BIGINT) AS n_rgs,
        CAST(CASE WHEN cls = 'ok' THEN nrg * ppr ELSE 0 END AS BIGINT) AS n_pages,
        CAST(CASE WHEN cls = 'ok' AND usedict = 1 THEN dct.nd ELSE 0 END AS BIGINT)
          AS n_dict_vals,
        CAST(CASE WHEN cls = 'ok' THEN agg.nv ELSE 0 END AS BIGINT) AS n_values,
        CAST(CASE WHEN cls = 'ok' THEN agg.nn ELSE 0 END AS BIGINT) AS n_nulls,
        CAST(CASE WHEN cls = 'ok' THEN agg.mn ELSE 0 END AS BIGINT) AS min_v,
        CAST(CASE WHEN cls = 'ok' THEN agg.mx ELSE 0 END AS BIGINT) AS max_v,
        CAST(CASE WHEN cls = 'ok' THEN agg.sm ELSE 0 END AS BIGINT) AS sum_v
      FROM cls c
      JOIN agg ON agg.doc_id = c.doc_id
      JOIN dct ON dct.doc_id = c.doc_id
      ORDER BY c.doc_id"""))


  // --------------------------------------------------------------- q419

  /** q419 — AV1 OBU walk + sequence-header decode
    * ([[graft.operators.Av1Obu.av1Features]]): the q403 (H.264 SPS)
    * pattern on the other dominant web codec — IVF container walk,
    * per-frame OBU streams (forbidden/reserved bits fail the frame
    * closed, earlier frames stay evidence), and the entropy-free
    * sequence-header OBU decoded bit-level: profile, level/tier, max
    * dimensions, bit depth, monochrome, superblock size. The header
    * carries ACROSS frames (planted every 11th doc: the header sits
    * in frame 2 and still resolves). Planted classes: truncated
    * header payload (seq_ok 0, dims never guessed), corrupt
    * second-frame OBU (frame declined, file counted), non-AV01
    * fourcc (declined whole). Oracle closed-form. Map-only, zero
    * shuffles.
    */
  val q419 = Q("q419_av1_seq_header",
    (s, dir) => {
      import graft.operators.Av1Obu
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val p = k % 3
        val bd = if (p == 2 && k % 2 == 0) 12 else if (k % 4 == 0) 10 else 8
        val reduced = k % 6 == 0
        val level = 5 + k % 10
        val tier = if (level > 7 && !reduced) k % 2 else 0
        val seqPayload = Av1Obu.encodeSeqHdr(p, level, tier,
          64L + 4 * k, 36L + 2 * k, bd, mono = p != 1 && k % 5 == 0,
          sb128 = k % 2 == 1, still = k % 7 == 0, reduced = reduced)
        val seqObu = Av1Obu.encodeObu(1,
          if (k % 13 == 0) seqPayload.take(2) else seqPayload)
        val td = Av1Obu.encodeObu(2, Array.emptyByteArray)
        val frame = Av1Obu.encodeObu(6,
          Array.tabulate(10 + k)(i => ((i * 7 + k) % 251).toByte))
        val frames =
          if (k % 19 == 0)
            Seq(td ++ seqObu ++ frame,
              Array(0x80.toByte) ++ Array.fill(4)(0.toByte))
          else if (k % 11 == 0) Seq(td ++ frame, td ++ seqObu ++ frame)
          else Seq(td ++ seqObu ++ frame, td ++ frame)
        val ivf = Av1Obu.encodeIvf(64 + 4 * k, 36 + 2 * k, frames)
        if (k % 17 == 0) ivf(8) = 'X'.toByte
        ivf
      }
      Av1Obu.av1Features(synth, "doc_id", "payload").orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      f AS (SELECT doc_id, k, k % 3 AS p,
              CASE WHEN k % 17 = 0 THEN 1 ELSE 0 END AS bad,
              CASE WHEN k % 17 <> 0 AND k % 19 = 0 THEN 1 ELSE 0 END AS mal,
              CASE WHEN k % 13 = 0 THEN 1 ELSE 0 END AS cut,
              CASE WHEN k % 6 = 0 THEN 1 ELSE 0 END AS red,
              CAST(5 + k % 10 AS BIGINT) AS lvl
            FROM d),
      g AS (SELECT doc_id, k, p, bad, mal, cut, red, lvl,
              CASE WHEN bad = 1 OR cut = 1 THEN 0 ELSE 1 END AS sok
            FROM f)
      SELECT doc_id,
        CAST(1 - bad AS BIGINT) AS ivf_ok,
        CAST(CASE WHEN bad = 1 THEN 0 ELSE 2 END AS BIGINT) AS n_frames_hdr,
        CAST(CASE WHEN bad = 1 THEN 0 WHEN mal = 1 THEN 1 ELSE 2 END AS BIGINT)
          AS n_frames_walked,
        CAST(CASE WHEN bad = 1 THEN 0 WHEN mal = 1 THEN 3 ELSE 5 END AS BIGINT)
          AS n_obus,
        CAST(CASE WHEN bad = 1 THEN 0 ELSE 1 END AS BIGINT) AS n_seq_hdrs,
        CAST(CASE WHEN bad = 1 THEN 0 WHEN mal = 1 THEN 1 ELSE 2 END AS BIGINT)
          AS n_frame_obus,
        CAST(mal AS BIGINT) AS malformed_frame,
        CAST(sok AS BIGINT) AS seq_ok,
        CAST(CASE WHEN sok = 1 THEN p ELSE 0 END AS BIGINT) AS profile,
        CAST(CASE WHEN sok = 1 THEN lvl ELSE 0 END AS BIGINT) AS level,
        CAST(CASE WHEN sok = 1 AND lvl > 7 AND red = 0 THEN k % 2 ELSE 0 END
          AS BIGINT) AS tier,
        CAST(CASE WHEN sok = 1 THEN 64 + 4 * k ELSE 0 END AS BIGINT) AS width,
        CAST(CASE WHEN sok = 1 THEN 36 + 2 * k ELSE 0 END AS BIGINT) AS height,
        CAST(CASE WHEN sok = 0 THEN 0
                  WHEN p = 2 AND k % 2 = 0 THEN 12
                  WHEN k % 4 = 0 THEN 10 ELSE 8 END AS BIGINT) AS bit_depth,
        CAST(CASE WHEN sok = 1 AND p <> 1 AND k % 5 = 0 THEN 1 ELSE 0 END
          AS BIGINT) AS mono,
        CAST(CASE WHEN sok = 1 THEN k % 2 ELSE 0 END AS BIGINT)
          AS superblock128,
        CAST(CASE WHEN sok = 1 AND k % 7 = 0 THEN 1 ELSE 0 END AS BIGINT)
          AS still_picture,
        CAST(CASE WHEN sok = 1 THEN red ELSE 0 END AS BIGINT) AS reduced
      FROM g ORDER BY doc_id"""))


  // --------------------------------------------------------------- q420

  /** q420 — parquet BYTE_ARRAY (string) page decode
    * ([[graft.operators.ParquetPages.binaryDecodeAudit]]): q415's
    * vertical for the OTHER physical type the corpus actually
    * carries. Covers all four string encodings a real writer emits —
    * PLAIN (`u32le length · bytes`), RLE_DICTIONARY, the V2 writers'
    * DELTA_LENGTH_BYTE_ARRAY (delta-packed lengths · concatenated
    * bytes) and DELTA_BYTE_ARRAY (front coding: delta-packed prefix
    * lengths + suffixes) — over raw and snappy chunks, with nulls
    * through the def-level path. Gated (gzip stamp) and truncated
    * classes planted as in q415. Pinned against REAL pyarrow
    * (documents.lang byte-exact) and REAL parquet-mr V1-dict and
    * PARQUET_2_0 DELTA_BYTE_ARRAY writes in ParquetPagesSpec. Oracle
    * closed-form over the planted strings. Map-only, zero shuffles.
    */
  val q420 = Q("q420_parquet_string_decode",
    (s, dir) => {
      import graft.operators.ParquetPages
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val n = 30 + k
        val enc = (k % 4) match {
          case 0 => 0; case 1 => 8; case 2 => 6; case _ => 7
        }
        val vals: Seq[Option[Array[Byte]]] = (0 until n).map { i =>
          if (i % 9 == 4) None
          else Some(s"doc-${(id + 3 * i) % 23}".getBytes("UTF-8"))
        }
        val pages = if (k % 3 == 0) Seq(vals.take(n / 2), vals.drop(n / 2))
          else Seq(vals)
        if (k % 17 == 0)
          ParquetPages.encodeBinaryFile(Seq(pages), 0, 0, truncate = 8)
        else if (k % 13 == 0)
          ParquetPages.encodeBinaryFile(Seq(pages), 0, codec = 2)
        else ParquetPages.encodeBinaryFile(Seq(pages), enc,
          codec = if (k % 5 == 0) 1 else 0)
      }
      ParquetPages.binaryDecodeAudit(synth, "doc_id", "payload", colIdx = 0)
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      cls AS (SELECT doc_id, k,
          CASE WHEN k % 17 = 0 THEN 'trunc'
               WHEN k % 13 = 0 THEN 'gz' ELSE 'ok' END AS cls,
          CAST(30 + k AS BIGINT) AS n,
          CAST(CASE WHEN k % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ppr,
          CASE WHEN k % 4 = 1 THEN 1 ELSE 0 END AS usedict
        FROM d),
      rows_ AS (SELECT doc_id, cls, usedict, unnest(range(n)) AS i FROM cls),
      vals AS (SELECT doc_id, cls, usedict, i,
          CASE WHEN i % 9 = 4 THEN NULL
               ELSE (doc_id + 3 * i) % 23 END AS x
        FROM rows_),
      lens AS (SELECT doc_id, cls, usedict, x,
          CASE WHEN x IS NULL THEN NULL
               ELSE LENGTH(CONCAT('doc-', CAST(x AS VARCHAR))) END AS len
        FROM vals),
      agg AS (SELECT doc_id,
          COUNT(len) AS nv, COUNT(*) - COUNT(len) AS nn,
          SUM(len) AS sl, MIN(len) AS mn, MAX(len) AS mx,
          COUNT(DISTINCT x) AS nd
        FROM lens GROUP BY doc_id)
      SELECT c.doc_id,
        CAST(CASE WHEN cls = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS ok,
        CAST(CASE WHEN cls = 'gz' THEN 1 ELSE 0 END AS BIGINT) AS gated,
        CAST(CASE WHEN cls = 'trunc' THEN 0 ELSE 1 END AS BIGINT) AS n_rgs,
        CAST(CASE WHEN cls = 'ok' THEN ppr ELSE 0 END AS BIGINT) AS n_pages,
        CAST(CASE WHEN cls = 'ok' AND usedict = 1 THEN agg.nd ELSE 0 END
          AS BIGINT) AS n_dict_vals,
        CAST(CASE WHEN cls = 'ok' THEN agg.nv ELSE 0 END AS BIGINT) AS n_values,
        CAST(CASE WHEN cls = 'ok' THEN agg.nn ELSE 0 END AS BIGINT) AS n_nulls,
        CAST(CASE WHEN cls = 'ok' THEN agg.sl ELSE 0 END AS BIGINT) AS sum_len,
        CAST(CASE WHEN cls = 'ok' THEN agg.mn ELSE 0 END AS BIGINT) AS min_len,
        CAST(CASE WHEN cls = 'ok' THEN agg.mx ELSE 0 END AS BIGINT) AS max_len
      FROM cls c JOIN agg ON agg.doc_id = c.doc_id
      ORDER BY c.doc_id"""))


  // --------------------------------------------------------------- q421

  /** q421 — ORC integer-column DATA decode
    * ([[graft.operators.OrcData.orcDecodeAudit]]): the layer below
    * q381/q385's tail and stripe-stats walk — the q415 move made for
    * the second storage format. Stripe footers (protobuf stream
    * directory + column encodings), PRESENT boolean-RLE bits, and the
    * integer RLEv2 DATA stream in all four sub-encodings (short
    * repeat, direct, patched base with its aligned-width patch list,
    * delta), over the codec chunk framing (none/zlib/snappy/zstd —
    * snappy and zstd through the engine's own raw decoders). Planted
    * classes: monotonic (delta runs) vs signed-mixed (direct) shapes,
    * nulls through PRESENT, an lz4-stamped file (valid, DECLINED
    * whole) and a truncated tail (malformed). Pinned against REAL
    * Spark-written ORC across four codecs and shapes exercising every
    * sub-encoding in OrcDataSpec. Oracle closed-form. Map-only, zero
    * shuffles.
    */
  val q421 = Q("q421_orc_data_decode",
    (s, dir) => {
      import graft.operators.OrcData
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val n = 40 + k
        val vals: Seq[Option[Long]] = (0 until n).map { i =>
          if (k % 2 == 0 && i % 8 == 5) None
          else if (k % 4 == 0) Some(id % 7 + 3L * i)
          else Some((id + 5L * i) % 101 - 50)
        }
        if (k % 17 == 0) OrcData.encodeSyntheticOrc(vals, truncate = 8)
        else if (k % 13 == 0)
          OrcData.encodeSyntheticOrc(vals, codecStamp = 4L)
        else OrcData.encodeSyntheticOrc(vals)
      }
      OrcData.orcDecodeAudit(synth, "doc_id", "payload", colIdx = 0)
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      cls AS (SELECT doc_id, k,
          CASE WHEN k % 17 = 0 THEN 'trunc'
               WHEN k % 13 = 0 THEN 'gz' ELSE 'ok' END AS cls,
          CAST(40 + k AS BIGINT) AS n
        FROM d),
      rows_ AS (SELECT doc_id, k, cls, unnest(range(n)) AS i FROM cls),
      vals AS (SELECT doc_id, cls,
          CASE WHEN k % 2 = 0 AND i % 8 = 5 THEN NULL
               WHEN k % 4 = 0 THEN doc_id % 7 + 3 * i
               ELSE (doc_id + 5 * i) % 101 - 50 END AS v
        FROM rows_),
      agg AS (SELECT doc_id,
          COUNT(v) AS nv, COUNT(*) - COUNT(v) AS nn,
          MIN(v) AS mn, MAX(v) AS mx, SUM(v) AS sm
        FROM vals GROUP BY doc_id)
      SELECT c.doc_id,
        CAST(CASE WHEN cls = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS ok,
        CAST(CASE WHEN cls = 'gz' THEN 1 ELSE 0 END AS BIGINT) AS gated,
        CAST(CASE WHEN cls = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS n_stripes,
        CAST(CASE WHEN cls = 'ok' THEN agg.nv ELSE 0 END AS BIGINT) AS n_values,
        CAST(CASE WHEN cls = 'ok' THEN agg.nn ELSE 0 END AS BIGINT) AS n_nulls,
        CAST(CASE WHEN cls = 'ok' THEN agg.mn ELSE 0 END AS BIGINT) AS min_v,
        CAST(CASE WHEN cls = 'ok' THEN agg.mx ELSE 0 END AS BIGINT) AS max_v,
        CAST(CASE WHEN cls = 'ok' THEN agg.sm ELSE 0 END AS BIGINT) AS sum_v
      FROM cls c JOIN agg ON agg.doc_id = c.doc_id
      ORDER BY c.doc_id"""))


  // --------------------------------------------------------------- q422

  /** q422 — ORC STRING-column decode
    * ([[graft.operators.OrcData.orcStringDecodeAudit]]): the q420
    * move for the second format — DIRECT_V2 (unsigned-RLEv2 LENGTH
    * stream slicing the concatenated DATA blob) and DICTIONARY_V2
    * (dictionary blob + entry lengths + unsigned-RLEv2 indices),
    * nulls through the PRESENT bit stream. Planted classes mirror
    * q421 (lz4-stamped gated, truncated malformed). Pinned against
    * REAL Spark ORC — dictionary and direct strings across three
    * codecs, byte-exact — in OrcDataSpec. Oracle closed-form.
    * Map-only, zero shuffles.
    */
  val q422 = Q("q422_orc_string_decode",
    (s, dir) => {
      import graft.operators.OrcData
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val n = 30 + k
        val vals: Seq[Option[Array[Byte]]] = (0 until n).map { i =>
          if (i % 9 == 4) None
          else Some(s"orc-${(id + 3 * i) % 23}".getBytes("UTF-8"))
        }
        if (k % 17 == 0)
          OrcData.encodeSyntheticOrcStrings(vals, useDict = false,
            truncate = 8)
        else if (k % 13 == 0)
          OrcData.encodeSyntheticOrcStrings(vals, useDict = false,
            codecStamp = 4L)
        else OrcData.encodeSyntheticOrcStrings(vals,
          useDict = k % 2 == 1)
      }
      OrcData.orcStringDecodeAudit(synth, "doc_id", "payload", colIdx = 0)
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      cls AS (SELECT doc_id, k,
          CASE WHEN k % 17 = 0 THEN 'trunc'
               WHEN k % 13 = 0 THEN 'gz' ELSE 'ok' END AS cls,
          CAST(30 + k AS BIGINT) AS n,
          CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END AS usedict
        FROM d),
      rows_ AS (SELECT doc_id, cls, usedict, unnest(range(n)) AS i FROM cls),
      lens AS (SELECT doc_id, cls, usedict,
          CASE WHEN i % 9 = 4 THEN NULL
               ELSE (doc_id + 3 * i) % 23 END AS x,
          CASE WHEN i % 9 = 4 THEN NULL
               ELSE LENGTH(CONCAT('orc-',
                 CAST((doc_id + 3 * i) % 23 AS VARCHAR))) END AS len
        FROM rows_),
      agg AS (SELECT doc_id,
          COUNT(len) AS nv, COUNT(*) - COUNT(len) AS nn,
          SUM(len) AS sl, MIN(len) AS mn, MAX(len) AS mx,
          COUNT(DISTINCT x) AS nd
        FROM lens GROUP BY doc_id)
      SELECT c.doc_id,
        CAST(CASE WHEN cls = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS ok,
        CAST(CASE WHEN cls = 'gz' THEN 1 ELSE 0 END AS BIGINT) AS gated,
        CAST(CASE WHEN cls = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS n_stripes,
        CAST(CASE WHEN cls = 'ok' AND usedict = 1 THEN agg.nd ELSE 0 END
          AS BIGINT) AS n_dict_vals,
        CAST(CASE WHEN cls = 'ok' THEN agg.nv ELSE 0 END AS BIGINT) AS n_values,
        CAST(CASE WHEN cls = 'ok' THEN agg.nn ELSE 0 END AS BIGINT) AS n_nulls,
        CAST(CASE WHEN cls = 'ok' THEN agg.sl ELSE 0 END AS BIGINT) AS sum_len,
        CAST(CASE WHEN cls = 'ok' THEN agg.mn ELSE 0 END AS BIGINT) AS min_len,
        CAST(CASE WHEN cls = 'ok' THEN agg.mx ELSE 0 END AS BIGINT) AS max_len
      FROM cls c JOIN agg ON agg.doc_id = c.doc_id
      ORDER BY c.doc_id"""))
}
