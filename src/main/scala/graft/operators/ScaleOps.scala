package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale mechanics that only matter beyond a single box: scan fan-out,
  * key pins, skew-salted joins and size-targeted compaction.
  * Correctness-neutral (results
  * equal the plain operation — specs assert it); the point is the
  * shuffle shape.
  */
object ScaleOps {

  /** Fan a frame out to the session's default parallelism when its
    * source cannot split — single-row-group parquet (this repo's
    * testdata), gzip, one tiny file — so a CPU-heavy kernel fused into
    * the scan stage (shingle hashing, similarity verification) does
    * not run single-threaded on a many-core host. A NO-OP when the
    * frame is only SINGLE-partition-narrow; a 2+-partition source
    * already parallelizes (and any real multi-file corpus provides
    * full parallelism), so at scale no extra shuffle is paid. When it
    * does fire, the exchange moves exactly the scanned rows once,
    * keyed deterministically.
    *
    * The partition-count probe runs only when the optimized plan holds
    * known-narrow nodes alone, where `toRdd` materializes nothing; any
    * other node (a shuffle already decided the parallelism) leaves the
    * frame as it is. On an ADAPTIVE plan `toRdd` EXECUTES every
    * upstream query stage at plan-build time (q176 paid its whole
    * batch-curation subtree twice for a partition-count probe). The
    * decision needs the scan's physical partition count, which a
    * logical optimizer rule cannot see, so this stays hand-placed.
    */
  def fanIfNarrow(df: DataFrame, key: Column): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val spark = df.sparkSession
    val want = spark.sparkContext.defaultParallelism
    val shuffledOrUnknown = df.queryExecution.optimizedPlan.exists {
      case _: Project | _: Filter | _: Generate | _: SubqueryAlias | _: LogicalRDD |
           _: LogicalRelation | _: LocalRelation | _: Range => false
      case _ => true
    }
    if (shuffledOrUnknown) df
    else {
      val have = df.queryExecution.toRdd.getNumPartitions
      // fan whenever the frame is materially below the core count —
      // a 2-3-partition checkpoint feeding a compiled CPU kernel is
      // as starved as a single-partition scan (ADVICE r15); at scale
      // any real multi-file source already clears want/2 and this is
      // a no-op
      if (have * 2 >= want) df
      else df.repartition(want, key)
    }
  }

  /** Pin a CPU-dense aggregate/window whose OWN exchange is the one AQE
    * starves (AQE sizes reduce stages by shuffle bytes): an explicit-N
    * repartition on the operator's exact key SATISFIES its clustering
    * requirement, so no second exchange is added — the existing shuffle
    * becomes AQE-EXEMPT with `max(defaultParallelism,
    * spark.sql.shuffle.partitions)` reduce tasks. Trade-off stated
    * loudly: partial (map-side) aggregation no longer combines below
    * the exchange — use ONLY where the key is near-unique (pair
    * distincts, array-keyed group collapse). That precondition is key
    * uniqueness, which a planner rule cannot see, so this stays a
    * hand-placed hint; expansion kernels are pinned by
    * [[graft.plans.ExpansionFanout]].
    */
  def pinKeyed(df: DataFrame, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    val n = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    df.repartition(n, keys: _*)
  }


  /** Equi-join where `big`'s key distribution is skewed: append a
    * deterministic salt (hash of the whole row, mod `salts`) to the big
    * side and explode the small side across all salt values. Hot keys
    * spread over `salts` reducers instead of one straggler. AQE's
    * skew-join split handles moderate skew automatically; salting is
    * the explicit fix when one key dwarfs a partition.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 salts: Int, joinType: String = "inner"): DataFrame = {
    // right/full outer would emit each unmatched small row once per
    // salt value (the small side is exploded across all salts), so only
    // the join types where salting is correctness-neutral are allowed
    require(Set("inner", "left", "leftouter", "leftsemi", "semi", "leftanti", "anti")
        .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports inner/left/left_semi/left_anti, not $joinType")
    val bigS = big.withColumn("_salt",
      pmod(xxhash64(big.columns.toIndexedSeq.map(col): _*), lit(salts)).cast("int"))
    val smallS = small.withColumn("_salt",
      explode(array((0 until salts).map(lit): _*)))
    bigS.join(smallS, keys :+ "_salt", joinType).drop("_salt")
  }

  /** Compact a parquet dataset into ~`targetBytes` output files — the
    * small-files hygiene job every long-lived 100 TB table needs after
    * streaming/incremental writes fragment it (each tiny file costs a
    * task, a footer read, and a NameNode/listing entry per query).
    *
    * The output file count is planned from FILE METADATA ONLY (sum of
    * on-disk lengths — no data scan, no sampling job), then one
    * round-robin shuffle rewrites the data into uniformly sized files.
    * Round-robin deliberately ignores content: compaction is already a
    * full rewrite, and uniform output size is the goal.
    *
    * Returns (input file count, output file count) as the evidence pair
    * a table-maintenance job logs.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
              outPath: String, targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val hPath = new org.apache.hadoop.fs.Path(inPath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(hPath).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val totalBytes = parts.map(_.getLen).sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inPath)
      .repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    (parts.length, n)
  }

  /** Metadata-only compaction PLAN — the grouping half of [[compact]]
    * without touching a data byte: given live files' (path, size) —
    * exactly what the table-format censuses reconstruct — assign
    * deterministic bin-packed rewrite groups of ~`targetBytes`
    * (path-ordered running size; a file opens a new group when the
    * bytes BEFORE it already fill one). The output is the job list a
    * maintenance scheduler dispatches; the arithmetic is pure window
    * algebra over file METADATA (bounded by file count per table —
    * for degenerate million-file tables route the running sum through
    * Relational.orderedPrefixSum instead).
    */
  def compactionPlan(files: DataFrame, tblCol: String, pathCol: String,
                     sizeCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("tbl").orderBy("path")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    files.select(col(tblCol).cast("long").as("tbl"),
        col(pathCol).as("path"), col(sizeCol).cast("long").as("size"))
      .withColumn("_cum", coalesce(sum(col("size")).over(w), lit(0L)))
      .withColumn("group_id", expr(s"_cum div ${targetBytes}L"))
      .groupBy("tbl", "group_id")
      .agg(count(lit(1)).as("n_files"), sum(col("size")).as("group_bytes"))
  }
}
