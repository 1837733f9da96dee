package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end training-data EXPORT: the composition a user of this
  * library actually runs — curate (quality → language → exact dedup →
  * near-dup removal → decontamination) → deterministic sharding →
  * JSONL shard write → integrity manifest → small-file compaction of
  * the feature table — wired purely from the shipped operators, with
  * per-stage rows and wall times printed as the job's evidence.
  *
  * Usage: runMain graft.ExportDemo [sfDir] [outDir]
  * (defaults: /root/testdata/sf0.001, /tmp/graft_export)
  *
  * Every stage is the scale path: the curation chain fuses its per-row
  * stages into one scan; sharding is one hash shuffle on the md5 shard
  * key (engine-portable epoch order); the manifest is one map-side-
  * combined rollup whose order-independent content hash any engine can
  * re-verify; compaction plans its output count from file metadata
  * alone. ExportDemoSpec pins the invariants end-to-end.
  */
object ExportDemo {

  final case class Result(
      input: Long, curated: Long, shards: Long,
      manifestRows: Long, compactedFiles: Int)

  def run(spark: SparkSession, sfDir: String, outDir: String,
          numShards: Int = 8): Result = {
    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[export] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val docs = Tables.load(spark, sfDir, "documents")
    val input = docs.count()

    // 1) curation, with the id%97 slice standing in for the eval set
    val evalDocs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val curated = timed("curate")(
      graft.curation.CurationPipeline.curate(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0), "doc_id", "text",
        evalDocs = Some(evalDocs))
        .localCheckpoint(false))
    val nCurated = curated.count()

    // 2) deterministic shard route (md5 key — reproducible on any engine)
    val payloaded = curated.select(
      pmod(graft.functions.Hashing.hash64(
        concat(lit("shard|"), col("doc_id").cast("string"))), lit(numShards))
        .cast("int").as("shard"),
      col("doc_id"),
      concat_ws("|", col("doc_id"), col("text")).as("payload"))

    // 3) JSONL shards + 4) integrity manifest over the SAME payloads
    timed("write shards")(
      graft.sources.Sinks.jsonlShards(
        payloaded.select("shard", "doc_id", "payload"),
        s"$outDir/shards", "shard", numShards, orderCol = Some("doc_id")))
    val manifest = timed("manifest")(
      graft.sources.Sinks.shardManifest(payloaded, "shard", "payload")
        .orderBy("shard"))
    manifest.write.mode("overwrite").parquet(s"$outDir/manifest")
    val manifestRows = spark.read.parquet(s"$outDir/manifest").count()

    // 5) feature table write (fragmented) + compaction to ~64 KiB files
    curated.select("doc_id", "text").repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/features_raw")
    val (_, nOut) = timed("compact")(
      graft.operators.ScaleOps.compact(
        spark, s"$outDir/features_raw", s"$outDir/features", 64 * 1024))

    Result(input, nCurated, numShards.toLong, manifestRows, nOut)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_export"
    val spark = GraftSession.create()
    val r = run(spark, sfDir, outDir)
    println(s"[export] done: $r")
    spark.stop()
  }
}
