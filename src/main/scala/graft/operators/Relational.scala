package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational building blocks that the reference uses but Spark does
  * not ship verbatim. Everything here is composed from built-in, codegen'd
  * expressions — no UDFs — so plans stay inside WholeStageCodegen and
  * Catalyst can push/prune through them.
  */
object Relational {

  /** Keep-first deduplication with deterministic order.
    *
    * The reference dedups positionally (pandas `drop_duplicates(subset)`
    * keeps the first row in file order — reference:
    * dags/flu_data_airflow_v2.py:376 — and Postgres
    * `ON CONFLICT DO NOTHING` keeps the first arriving row,
    * dags/flu_data_airflow_v2.py:598-602). Spark's `dropDuplicates` keeps
    * an *arbitrary* row, so we make the choice explicit: the caller names
    * the order columns that define "first". Implemented as a ranked window
    * — one shuffle on the key columns, no global sort, scales linearly
    * with partition count.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Aggregate form of [[dedupKeepFirst]] for ASCENDING order columns:
    * one hash aggregate (map-side partial, no per-partition sort)
    * keeping the whole row that sorts first by `orderCols` within each
    * key group — `graft_min_any` over `struct(orderCols…, payload…)`.
    * Where `orderCols` ties, the remaining columns break the tie
    * (deterministically), while the window form keeps an arbitrary
    * tied row; the two coincide exactly when `orderCols` is a total
    * order per group OR the caller only reads keys+order columns —
    * the determinism contract keep-first callers owe either way.
    */
  def dedupKeepFirstAgg(df: DataFrame, keys: Seq[String],
                        orderCols: Seq[String]): DataFrame = {
    val payload = df.columns.toSeq.filterNot(c =>
      keys.contains(c) || orderCols.contains(c))
    val packed = struct((orderCols ++ payload).map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(call_function("graft_min_any", packed).as("_row"))
      .select(keys.map(col) ++
        (orderCols ++ payload).map(c => col(s"_row.$c").as(c)): _*)
  }

  /** Sorted-distinct comma-join string aggregate (reference G1:
    * dags/flu_data_airflow_v2.py:335-336 — `", ".join(sorted(set(x)))`
    * with blank → sentinel). Map-side partial aggregation applies
    * (collect_set is a declarative agg), so only distinct values shuffle.
    */
  def stringSetAgg(child: Column): Column =
    concat_ws(", ", array_sort(collect_set(child)))

  /** Blank-to-sentinel normalization used after string aggregation
    * (reference X9: dags/flu_data_airflow_v2.py:336, regex `^\s*$`). */
  def blankTo(c: Column, sentinel: String): Column =
    when(trim(c) === "", lit(sentinel)).otherwise(c)

  /** First non-null value per group under an explicit order — the
    * deterministic form of pandas `groupby().agg('first')` (reference G6:
    * dags/flu_data_airflow_v2.py:409). `min_by` over a struct keyed by the
    * order column, restricted to non-null values.
    */
  def firstNonNullBy(value: Column, order: Column): Column =
    min_by(value, when(value.isNotNull, order))

  /** Top-k by a sort key: compiles to TakeOrderedAndProject — each
    * partition keeps k rows, only k·numPartitions rows reach the driver
    * side of the sort (reference O3/O4: dags/flu_data_airflow_v2.py:175-176,234).
    */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Dense sequential ID after a global sort (reference W1:
    * dags/flu_data_airflow_v2.py:329,339 — alphabetical surrogate key).
    * A single-partition window is fine for dimension tables (≤ thousands
    * of rows). For fact-scale ID assignment use `zipWithIndexOrdered`.
    */
  def denseIdBy(df: DataFrame, idCol: String, order: Column*): DataFrame =
    df.withColumn(idCol, row_number().over(Window.orderBy(order: _*)))

  /** Fact-scale stable ID: sort, then assign contiguous IDs per partition
    * via zipWithIndex — no single-partition bottleneck. Used when a
    * surrogate key must be assigned to billions of rows.
    */
  def zipWithIndexOrdered(df: DataFrame, idCol: String, order: Column*): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(order: _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(idCol, org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Fact-scale ordered PREFIX SUM: `cumCol` = running total of
    * `valueCol` (a LONG column) in the given total order — the
    * primitive behind budget-constrained selection ("take documents
    * best-first until the token budget is spent"). The classic
    * formulation is `sum(v) OVER (ORDER BY …)` — a partition-less
    * window that funnels EVERY row through one task. This one sorts,
    * then runs the two-phase carry: per-partition partial sums (one
    * Long per partition to the driver — bounded state), exclusive
    * offsets broadcast back, one streaming pass per partition. Same
    * answer on 32 threads and 1000 executors; no single-partition
    * stage anywhere. The order must be TOTAL (include a tiebreak) or
    * the prefix sums are not well-defined.
    */
  def orderedPrefixSum(df: DataFrame, valueCol: String, cumCol: String,
                       order: Column*): DataFrame = {
    val spark = df.sparkSession
    // fail at PLAN BUILD time, not as an opaque ClassCastException/NPE
    // deep in an executor: the carry below reads the column with
    // Row.getLong, which requires a non-null LONG
    val vField = df.schema.find(_.name == valueCol).getOrElse(
      throw new IllegalArgumentException(
        s"orderedPrefixSum: column '$valueCol' not found in ${df.schema.fieldNames.mkString(",")}"))
    require(vField.dataType == org.apache.spark.sql.types.LongType,
      s"orderedPrefixSum: '$valueCol' must be LONG (got ${vField.dataType.simpleString}) - cast explicitly")
    // materialize the sorted layout once: both passes below read the
    // SAME partitioning (re-running a sort lazily twice would also be
    // correct under a total order, but pays the shuffle twice)
    val sorted = df.orderBy(order: _*).localCheckpoint(false)
    val vIdx = sorted.schema.fieldIndex(valueCol)
    val rdd = sorted.rdd
    // a NULL value has no defined running sum — fail with a NAMED error
    // in the first pass (before any output is produced), not an opaque
    // NPE from Row.getLong mid-stream in the second
    def read(r: org.apache.spark.sql.Row): Long = {
      if (r.isNullAt(vIdx)) throw new IllegalArgumentException(
        s"orderedPrefixSum: NULL in '$valueCol' - coalesce explicitly before the prefix sum")
      r.getLong(vIdx)
    }
    val partials = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L
      it.foreach(r => s += read(r))
      Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partials.scanLeft(0L)(_ + _) // exclusive prefix per partition
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(cumCol,
          org.apache.spark.sql.types.LongType, nullable = false))
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = bc.value(i)
      it.map { r => s += read(r); org.apache.spark.sql.Row.fromSeq(r.toSeq :+ s) }
    }
    spark.createDataFrame(out, schema)
  }

  /** Extend a categorical dictionary with a new batch WITHOUT moving
    * any existing code — the property that keeps embedding-table rows,
    * serialized features, and downstream checkpoints valid across
    * retraining runs (q186 builds the initial dictionary; this is its
    * incremental twin). Categories already in `dict` keep their codes
    * verbatim; unseen categories get contiguous codes after the current
    * max, ordered by (batch frequency desc, value asc) — the same total
    * order as the initial build, so "extend from empty" ≡ "build".
    *
    * Scale shape: one left-anti join to find unseen values (shuffle =
    * batch cardinality), one rollup, id assignment via the
    * zipWithIndexOrdered scale path, and the current max code rides a
    * 1-row broadcast. The existing dictionary streams through
    * untouched.
    */
  def extendDictionary(dict: DataFrame, data: DataFrame,
                       valueCol: String, codeCol: String): DataFrame = {
    val newCounts = data
      .groupBy(col(valueCol)).agg(count(lit(1)).as("_n"))
      .join(dict.select(col(valueCol)), Seq(valueCol), "left_anti")
    val maxCode = dict.agg(coalesce(max(col(codeCol)), lit(0L)).as("_max"))
    val assigned = zipWithIndexOrdered(
        newCounts, "_idx", col("_n").desc, col(valueCol).asc)
      .crossJoin(broadcast(maxCode))
      .select(col(valueCol), (col("_max") + col("_idx")).as(codeCol))
    dict.select(col(valueCol), col(codeCol).cast("long").as(codeCol))
      .unionByName(assigned)
  }

  /** One incremental dictionary-maintenance step against a parquet
    * store: read the dictionary at `dictPath` (empty on first batch),
    * [[extendDictionary]] with this batch, and swap the full result
    * back with the `_SUCCESS`-gated delete→rename protocol
    * (StreamingOps.upsertBatch's crash discipline: a marker-less
    * partial tmp is deleted, never promoted). The batch/streaming
    * unification for vocabularies: the stream IS a sequence of
    * incremental batches sharing one dictionary, and every code ever
    * issued stays frozen across micro-batches, runs, and crashes.
    */
  def extendDictionaryBatchStep(batch: DataFrame, dictPath: String,
                                valueCol: String, codeCol: String): Unit = {
    val spark = batch.sparkSession
    val cur = new org.apache.hadoop.fs.Path(dictPath)
    val tmp = new org.apache.hadoop.fs.Path(dictPath + ".tmp")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cur) && fs.exists(tmp)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) fs.rename(tmp, cur)
      else fs.delete(tmp, true)
    }
    val dictSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(valueCol,
        batch.schema(valueCol).dataType),
      org.apache.spark.sql.types.StructField(codeCol,
        org.apache.spark.sql.types.LongType)))
    val dict =
      if (fs.exists(cur)) spark.read.schema(dictSchema).parquet(dictPath)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dictSchema)
    // materialize BEFORE the swap: the extended plan reads the current
    // dictionary files, which the swap is about to delete
    val extended = extendDictionary(dict, batch, valueCol, codeCol)
      .localCheckpoint(true)
    extended.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(cur, true)
    fs.rename(tmp, cur)
    ()
  }

  /** One-shot column profiling — the `df.describe()` shape (reference
    * G9: dags/flu_data_airflow_v2.py:230) as ONE aggregation pass:
    * every statistic for every column computes in the same partial+final
    * hash aggregate (one scan, one 1-row shuffle), then the single row
    * pivots to one output row per column.
    *
    * Stats per column: total rows, non-null count, distinct count,
    * min/max (cast double — numeric columns), decimal-summed mean
    * (partition-order independent, see ScalarFunctions.davg).
    *
    * @param exact true → exact COUNT(DISTINCT) per column; with several
    *   columns Spark plans one Expand (rows × columns) before the
    *   partial agg — exact but a wider scan. false (default) →
    *   approx_count_distinct (HLL++, ~2% standard error), the 100 TB
    *   path: no Expand, still one pass.
    */
  def profile(df: DataFrame, cols: Seq[String],
              exact: Boolean = false): DataFrame = {
    import graft.functions.ScalarFunctions.davg
    val nullD = lit(null).cast("double")
    val aggs = cols.flatMap { c =>
      // min/max/mean only make sense (and only cast safely under ANSI)
      // for numeric columns; others profile as counts + NDV
      val numeric = df.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]
      Seq(
        count(col(c)).as(s"${c}__n"),
        (if (exact) count_distinct(col(c)) else approx_count_distinct(col(c)))
          .as(s"${c}__ndv"),
        (if (numeric) min(col(c)).cast("double") else first(nullD)).as(s"${c}__min"),
        (if (numeric) max(col(c)).cast("double") else first(nullD)).as(s"${c}__max"),
        (if (numeric) davg(col(c)) else first(nullD)).as(s"${c}__mean"))
    }
    val one = df.agg(count(lit(1)).as("__total"), aggs: _*)
    val perCol = cols.map { c =>
      struct(lit(c).as("col_name"), col("__total").as("n_rows"),
        col(s"${c}__n").as("n_nonnull"), col(s"${c}__ndv").as("n_distinct"),
        col(s"${c}__min").as("min_val"), col(s"${c}__max").as("max_val"),
        col(s"${c}__mean").as("mean_val"))
    }
    one.select(explode(array(perCol: _*)).as("_p")).select(col("_p.*"))
  }

  /** Exact top-k rows per key through the engine's custom physical
    * operator (graft.plans.TopKPerKey): partial bounded-heap per map
    * task → key-hash shuffle of ≤ k·|keys| candidates → final heap —
    * the map-side-combine shape Spark's Window + rank≤k lacks (which
    * shuffles EVERY row). `orderBy` must be a total order for
    * deterministic results.
    */
  def topKPerKey(df: DataFrame, keys: Seq[String],
                 orderBy: Seq[org.apache.spark.sql.Column], k: Int): DataFrame =
    graft.plans.TopKPerKey(df, keys, orderBy, k)
}
