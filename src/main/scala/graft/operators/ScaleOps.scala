package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale mechanics that only matter beyond a single box: skew-salted
  * joins and bucketed co-located joins. Correctness-neutral (results
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

  /** Write a table bucketed (and sorted) by join keys. Subsequent joins
    * between tables bucketed the same way need no shuffle — the
    * pre-partitioning replaces the exchange (asserted in ScaleOpsSpec).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** Write `df` as `files` parquet files clustered by the Morton
    * (Z-order) code over `dims` — the layout whose effect the q103
    * report measures: each file spans a NARROW range on every listed
    * dimension at once, so a reader's min/max file skipping works for
    * predicates on any of them, which single-column sorting gives only
    * to its one column. Same construction as q103: each dim quantized
    * to 8 bits against its actual min/max (one tiny broadcast
    * aggregate — interleaving unquantized values of unequal width
    * would localize only the widest dim), bits interleaved round-robin
    * (dim i holds positions b·|dims|+i), then `repartitionByRange` on
    * the code (range-sampled, so files get near-equal row counts, no
    * global sort) + a within-partition sort and the code column
    * dropped on write. Cost: one extra linear shuffle at write time —
    * bought back on every dimension-filtered read thereafter.
    */
  def writeZOrdered(df: DataFrame, dims: Seq[String], path: String, files: Int): Unit = {
    require(dims.size >= 2, "z-ordering needs at least two dimensions")
    val nd = dims.size
    val aggs = dims.flatMap(d => Seq(
      min(col(d).cast("long")).as(s"_lo_$d"), max(col(d).cast("long")).as(s"_hi_$d")))
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val z = (0 until 8).flatMap { b =>
      dims.zipWithIndex.map { case (d, i) =>
        // widen BEFORE the ×256: a long multiply first would overflow on
        // dims with ranges beyond ~2^55 (epoch-nanos); below 2^52 the
        // double path is bit-identical
        val q = floor((col(d).cast("long") - col(s"_lo_$d")).cast("double") * 256 /
          (col(s"_hi_$d") - col(s"_lo_$d") + 1)).cast("long")
        shiftleft(shiftright(q, b).bitwiseAND(lit(1L)), b * nd + i)
      }
    }.reduce(_ + _)
    df.crossJoin(broadcast(stats))
      .withColumn("_z", z)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .select(df.columns.toIndexedSeq.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
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
    * full rewrite, and uniform output size is the goal; when the table
    * also wants a query-aware layout, compact THROUGH
    * [[writeZOrdered]]/[[writeBucketed]] instead — same cost, layout
    * included.
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

  /** Deterministic scale-up of an sf directory: `factor` disjoint
    * copies of every fact table, each copy's entity keys shifted by
    * `copy * offset` so referential integrity holds WITHIN a copy and
    * no key collides ACROSS copies — per-entity structure (degree
    * distributions, join fan-outs, text shapes) is exactly the
    * source's, at `factor`x the volume. The honest local stand-in for
    * a bigger driver SF: it probes the ENGINE's cost growth (shuffle
    * volume, window widths, fixpoint rounds) on 10x rows, not a new
    * data distribution.
    *
    * `documents` text is token-suffixed per copy (`tok` -> `tok_c`)
    * so copies are textually DISJOINT: without it every doc gains
    * factor-1 exact twins and the dedup-family queries would measure
    * hot-bucket caps instead of scale. `nation`/`region` are
    * dimensions and stay unscaled (foreign keys into them are never
    * shifted).
    */
  def replicateScaled(spark: org.apache.spark.sql.SparkSession,
                      srcDir: String, outDir: String, factor: Int,
                      offset: Long = 10000000L): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val shiftCols: Map[String, Seq[String]] = Map(
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      "nation" -> Seq.empty, "region" -> Seq.empty)
    // disjointness guard: the requested offset is only a MINIMUM — the
    // effective shift is derived from the source's actual max key, so a
    // bigger source SF can never silently collide replicas (the sf-scale
    // growth probe depends on copies being key-disjoint). One tiny
    // max-aggregate per shifted table; the same effective offset applies
    // to EVERY table so referential integrity holds within each copy.
    // one job: union of 1-row per-table maxes (each a column-pruned
    // key-only scan), max-of-max on top; an EMPTY table folds to -1
    // via the coalesce instead of NPE-ing the driver on a null max
    val maxKey = shiftCols.toSeq.collect { case (t, cols) if cols.nonEmpty =>
      graft.Tables.load(spark, srcDir, t)
        .agg(coalesce(
          cols.map(c => max(col(c).cast("long"))).reduce(greatest(_, _)),
          lit(-1L)).as("m"))
    }.reduce(_ unionByName _)
      .agg(max(col("m")).as("m"))
      .collect()(0).getLong(0)
    val effOffset = math.max(offset, maxKey + 1)
    require(effOffset <= Long.MaxValue / factor,
      s"effective offset $effOffset x factor $factor overflows long keys")
    graft.Tables.names.foreach { t =>
      val base = graft.Tables.load(spark, srcDir, t)
      val out =
        if (shiftCols(t).isEmpty) base
        else {
          val crossed = base.crossJoin(
            spark.range(0, factor).select(col("id").as("_copy")))
          val shifted = shiftCols(t).foldLeft(crossed)((df, c) =>
            df.withColumn(c, col(c) + col("_copy") * effOffset))
          val varied =
            if (t == "documents")
              shifted.withColumn("text",
                when(col("_copy") === 0, col("text"))
                  .otherwise(array_join(transform(split(col("text"), " "),
                    tok => concat(tok, lit("_"), col("_copy"))), " ")))
            else shifted
          varied.drop("_copy")
        }
      out.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
    }
  }
}
