package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import graft.operators.Relational.dedupKeepFirst

/** Output surface (reference §2.2). The reference writes single CSV
  * files and bulk-loads Postgres with `ON CONFLICT (pk) DO NOTHING`;
  * here the same semantics are explicit DataFrame operations so they
  * scale: partitioned writes by default, single-file only on request
  * (a coalesce(1) is a deliberate scale bottleneck for small outputs).
  */
object Sinks {

  /** Header CSV (reference K1/K2: dags/flu_data_airflow_v2.py:193,
    * 239,302,447-451). `singleFile = true` matches the reference's
    * one-file-per-table layout — only sane for dimension-sized data.
    */
  def csv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").option("header", "true").csv(path)
  }

  /** Idempotent PK load: `ON CONFLICT (pk) DO NOTHING` ≡ keep the first
    * row per key under an explicit arrival order (reference K4:
    * dags/flu_data_airflow_v2.py:579-733; keep-first discussion SURVEY
    * §7.4). Returns the deduped frame for the caller to write/register.
    */
  def upsertKeepFirst(df: DataFrame, pk: Seq[String], arrivalOrder: Column): DataFrame =
    dedupKeepFirst(df, pk, Seq(arrivalOrder))

  /** JSONL training shards — the interchange format every LLM data
    * pipeline exports: one `shard=K/` directory per value of
    * `shardCol`, one `.json` lines file inside each (q63's
    * deterministic md5 shard assignment is the intended key). The
    * repartition on the shard column routes every shard to a single
    * task, so each directory holds exactly one part file; with
    * `orderCol` set, rows within a shard are written in that order
    * (q63's `pos` makes the byte layout reproducible run-to-run).
    * Shard count scales with corpus size — this is the "write the
    * epoch" job, one shuffle total.
    */
  def jsonlShards(df: DataFrame, path: String, shardCol: String,
                  numShards: Int, orderCol: Option[String] = None): Unit = {
    val routed = df.repartition(numShards, col(shardCol))
    val laid = orderCol.fold(routed)(o =>
      routed.sortWithinPartitions(col(shardCol), col(o)))
    laid.write.mode("overwrite").partitionBy(shardCol).json(path)
  }

  /** 2^61 − 1, the fold modulus for [[shardManifest]]'s content hash. */
  val ManifestP: Long = (1L << 61) - 1

  /** Integrity manifest for a sharded export: one row per shard with
    * `n_rows`, `n_chars`, and `content_hash` — the sum of per-row
    * md5-derived 60-bit hashes, folded mod 2^61−1. The hash is
    * ORDER-INDEPENDENT (addition commutes), so it is stable across
    * re-partitioning, task retries, and engine re-runs — any engine can
    * recompute it with one scan and verify an export byte-for-byte at
    * the row level without agreeing on an order first. Accumulation is
    * exact DECIMAL(38,0) (row hashes < 2^60, so ~10^18 rows fit with
    * headroom); the fold happens once per shard after the sum. One
    * partial-aggregated groupBy on the shard key — the manifest job is
    * a rounding error next to the export it certifies.
    */
  def shardManifest(df: DataFrame, shardCol: String, payloadCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    df.groupBy(col(shardCol))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(length(col(payloadCol))).as("n_chars"),
        pmod(sum(graft.functions.Hashing.hash64(col(payloadCol)).cast("decimal(38,0)")),
          lit(ManifestP)).cast("long").as("content_hash"))
  }
}
