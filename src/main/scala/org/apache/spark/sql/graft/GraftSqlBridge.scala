package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Narrow bridge into Spark's `private[sql]`/`private[spark]`
  * internals, needed by custom logical plans (the standard technique
  * every Spark extension library uses — a one-file package shim, no
  * behavior):
  *
  *  - `ofRows`: wrap a hand-built LogicalPlan in a DataFrame;
  *  - `expr`: recover the Catalyst expression behind a public Column
  *    (Spark 4 moved `Column.expr` behind the classic module);
  *  - `releaseCheckpoint`: free a local checkpoint's blocks quietly.
  */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def expr(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Drop the cached blocks of a local checkpoint (every `LogicalRDD`
    * leaf of `df`'s plan) once nothing will read it again. Unlike
    * `RDD.unpersist`, this does not log the "locally checkpointed …
    * cannot be recomputed after unpersisting" WARN, which is noise for
    * a frame its owner has finished with.
    */
  def releaseCheckpoint(df: DataFrame): Unit = {
    val sc = df.sparkSession.sparkContext
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => sc.unpersistRDD(r.rdd.id, blocking = false)
      case _ =>
    }
  }

  /** Local checkpoint that KEEPS a hash partitioning (and optionally a
    * per-partition sort) visible to the planner.
    *
    * `Dataset.localCheckpoint` is supposed to carry the physical plan's
    * partitioning into the resulting LogicalRDD, but with AQE enabled
    * the executed plan is an AdaptiveSparkPlanExec whose
    * outputPartitioning reads UnknownPartitioning — so EVERY
    * checkpointed frame in this engine forgets its layout and any
    * downstream join/groupBy re-shuffles it (PartitionPreserveSpec pins
    * the behavior). For iterative loops whose big stationary side is
    * re-joined every round, that is one avoidable full exchange (and
    * SMJ sort) of the edge list per round.
    *
    * This helper repartitions by `keys` with an EXPLICIT partition
    * count (a user-pinned count is exempt from AQE coalescing, so the
    * produced layout is exactly HashPartitioning(keys, n)), optionally
    * sorts within partitions by the same keys, materializes a local
    * checkpoint, and wraps the RDD in a LogicalRDD that DECLARES that
    * partitioning/ordering. Declaring the layout the shuffle provably
    * produced is sound at any scale; it is the same claim
    * LogicalRDD.fromDataset makes when AQE is off.
    */
  /** Conf key: target rows per partition for size-derived checkpoint
    * layouts. ~4M skinny rows ≈ 64-128 MB — the guide's partition-size
    * band; the partition count then scales with the DATA, not with a
    * local core count or a cluster constant.
    */
  val RowsPerPartitionKey = "spark.graft.checkpoint.rowsPerPartition"

  /** Conf key: the parallelism FLOOR's minimum rows per partition. The
    * r15 rows/4M derivation alone produced ONE partition for every
    * sub-4M-row edge list, serializing each loop round's probe-side
    * work on a many-core host (the driver measured q199 3.96 → 6.47 s
    * and ANTI-scaling, 8 cores beating 32). The floor keeps cores busy
    * — up to defaultParallelism partitions — but never slices below
    * `minRowsPerPartition` rows each, so tiny loop states still avoid
    * the 32×32 shuffle-file churn the size derivation exists to kill.
    * At scale the rows/4M term dominates and the floor is inert.
    */
  val MinRowsPerPartitionKey = "spark.graft.checkpoint.minRowsPerPartition"

  def localCheckpointByKey(df: DataFrame, keys: Seq[String],
                           sortWithin: Boolean = true,
                           numPartitions: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // materialize the (possibly expensive) input subtree ONCE, then
    // derive the partition count from its measured row count. A count
    // pinned to the core count instead (the first r15 attempt) ran
    // every tiny loop round as a 32x32 shuffle — ~1k shuffle-block
    // FILES per exchange per round; thread dumps showed the executors
    // in FileChannel map/unmap and file opens, not compute.
    val pre = df.localCheckpoint(false)
    val n = numPartitions.getOrElse {
      val rows = pre.count()
      val perPart = spark.conf.get(RowsPerPartitionKey, "4000000").toLong
      val minRows = spark.conf.get(MinRowsPerPartitionKey, "16384").toLong
      val cap = spark.sessionState.conf.numShufflePartitions.toLong * 64
      val bySize = (rows + perPart - 1) / perPart
      val floor = math.min(spark.sparkContext.defaultParallelism.toLong,
        math.max(1L, (rows + minRows - 1) / minRows))
      math.max(floor, math.min(bySize, cap)).toInt
    }
    val re = pre.repartition(n, keys.map(col): _*)
    val prepared =
      if (sortWithin) re.sortWithinPartitions(keys.map(col): _*) else re
    val ds = prepared.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val rdd = ds.queryExecution.toRdd.map(_.copy()).localCheckpoint()
    val output = ds.queryExecution.analyzed.output
    val resolver = spark.sessionState.conf.resolver
    val keyAttrs = keys.map(k => output.find(a => resolver(a.name, k)).getOrElse(
      throw new IllegalArgumentException(s"localCheckpointByKey: unknown column $k")))
    val part = HashPartitioning(keyAttrs, n)
    val ordering =
      if (sortWithin) keyAttrs.map(a => SortOrder(a, Ascending)) else Seq.empty
    ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(
      output, rdd, part, ordering, isStreaming = false)(spark))
  }
}
