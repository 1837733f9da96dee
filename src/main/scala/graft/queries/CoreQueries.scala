package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.Relational._
import graft.functions.ScalarFunctions._

/** A named query with its DuckDB oracle (None → driver does a weaker
  * rows-only check).
  */
final case class Q(name: String,
                   fn: (SparkSession, String) => DataFrame,
                   oracle: Option[String])

object Q {

  /** DuckDB twin of the md5-derived 60-bit hash (Hashing.hash64 /
    * MinhashKernel), for oracle SQL. */
  def duckHash64(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** Left-fold double dot product of two list columns — bit-identical
    * to Similarity.dot (both fold products in index order). */
  def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  def duckCos(a: String, b: String): String =
    s"round(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})), 6)"
}

/** The relational operator surface from SURVEY.md §2, expressed on the
  * synthetic star schema (TESTDATA.md). Each query names the §2 operator
  * ids it exercises; oracle SQL is written in DuckDB dialect with the
  * same column aliases and a total ORDER BY so row order and column
  * names match exactly.
  *
  * Determinism policy: per-row double arithmetic is bit-exact across
  * engines (IEEE 754, same operation order), so it is left raw.
  * Multi-row double aggregation is order-dependent, so every
  * sum/avg-of-double goes through DECIMAL(28,6) (see
  * ScalarFunctions.dsum/davg) making results independent of partition
  * count and reduction order — the property that also makes results
  * stable between a laptop and a 1000-executor cluster.
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** q01 — full-scan aggregate (S1-S5, G-basic; pricing-summary shape).
    * Plan: parquet scan (pruned to 5 cols) → partial hash agg → shuffle
    * on 2 low-cardinality keys → final hash agg. No join, one shuffle.
    */
  val q01 = Q("q01_scan_agg",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price,
             CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / count(l_discount) AS avg_disc,
             count(*) AS cnt
      FROM lineitem GROUP BY 1,2 ORDER BY 1,2"""))

  /** q02 — projection + literal + per-row arithmetic (P1, P2, X8). */
  val q02 = Q("q02_project_arith",
    (s, dir) => t(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"),
        lit("SYNTH_SF").as("source"))
      .orderBy("l_orderkey", "l_linenumber", "net_price"),
    Some("""
      SELECT l_orderkey, l_linenumber,
             l_extendedprice * (1.0 - l_discount) AS net_price,
             'SYNTH_SF' AS source
      FROM lineitem ORDER BY l_orderkey, l_linenumber, net_price"""))

  /** q03 — NOT-IN filter (F1). */
  val q03 = Q("q03_filter_notin",
    (s, dir) => t(s, dir, "lineitem")
      .filter(!col("l_returnflag").isin("A", "R"))
      .select("l_orderkey", "l_linenumber", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag"),
    Some("""
      SELECT l_orderkey, l_linenumber, l_returnflag
      FROM lineitem WHERE l_returnflag NOT IN ('A','R')
      ORDER BY l_orderkey, l_linenumber, l_returnflag"""))

  /** q04 — conjunctive equality filter (F2). */
  val q04 = Q("q04_filter_conj",
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R" && col("l_linestatus") === "F" &&
        col("l_quantity") > 40.0)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity"),
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity
      FROM lineitem
      WHERE l_returnflag = 'R' AND l_linestatus = 'F' AND l_quantity > 40.0
      ORDER BY l_orderkey, l_linenumber, l_quantity"""))

  /** q05 — disjunctive range predicate (F4). */
  val q05 = Q("q05_filter_disj",
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_discount") > 0.08 || col("l_tax") > 0.06)
      .select("l_orderkey", "l_linenumber", "l_discount", "l_tax")
      .orderBy("l_orderkey", "l_linenumber", "l_discount", "l_tax"),
    Some("""
      SELECT l_orderkey, l_linenumber, l_discount, l_tax
      FROM lineitem WHERE l_discount > 0.08 OR l_tax > 0.06
      ORDER BY l_orderkey, l_linenumber, l_discount, l_tax"""))

  /** q06 — LEFT JOIN + null-rejecting WHERE (F3, J5): Catalyst's
    * EliminateOuterJoins rewrites to inner (verified in CoreQueriesSpec).
    */
  val q06 = Q("q06_join_null_filter",
    (s, dir) => {
      // pre-aggregate the fact side per join key: the join then moves
      // one row per order instead of one per lineitem, and the decimal
      // partial sums re-combine exactly (associative) — bit-identical
      // to aggregating after the join
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("_cnt"),
          sum(col("l_quantity").cast(DecimalType(28, 6))).as("_sq"))
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left")
        .filter(col("l_orderkey").isNotNull)
        .groupBy("o_orderstatus")
        .agg(sum(col("_cnt")).as("n_rows"),
          sum(col("_sq")).cast("double").as("sum_qty"))
        .orderBy("o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, count(*) AS n_rows,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
      FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_orderkey IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** q07 — broadcast dimension lookup join (J2): part is small; the
    * fact side never shuffles (BroadcastHashJoin).
    */
  val q07 = Q("q07_join_broadcast_dim",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"), "left")
        .groupBy("p_brand")
        .agg(dsum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    },
    Some("""
      SELECT p_brand,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price,
             count(*) AS n_items
      FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
      GROUP BY 1 ORDER BY 1"""))

  /** q08 — join against a pre-deduplicated right side (J4/J1 shape:
    * the reference dedups the probe input so downstream means run over
    * distinct tuples, dags/flu_data_airflow_v2.py:392).
    */
  val q08 = Q("q08_join_dedup_right",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val cseg = t(s, dir, "customer").select("c_custkey", "c_mktsegment").distinct()
      o.join(broadcast(cseg), o("o_custkey") === cseg("c_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          davg(col("o_totalprice")).as("avg_price"))
        .orderBy("c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) / count(o_totalprice) AS avg_price
      FROM orders LEFT JOIN (SELECT DISTINCT c_custkey, c_mktsegment FROM customer) c
        ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY 1"""))

  /** q09 — multi-join chain with filters (J-chain; local-supply revenue
    * shape). Fact tables join on their keys; dims broadcast. Flagship
    * `entry` query.
    */
  val q09 = Q("q09_join_chain",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(col("r_name") =!= "AFRICA" && col("o_orderstatus") =!= "X")
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
    Some("""
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name <> 'AFRICA' AND o_orderstatus <> 'X'
      GROUP BY 1 ORDER BY 1"""))

  /** q10 — sorted-distinct string-set aggregate (G1 + X9:
    * `", ".join(sorted(set(x)))`, dags/flu_data_airflow_v2.py:335-336).
    */
  val q10 = Q("q10_stringset_agg",
    (s, dir) => t(s, dir, "nation")
      .groupBy("n_regionkey")
      .agg(stringSetAgg(col("n_name")).as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy("n_regionkey"),
    Some("""
      SELECT n_regionkey,
             string_agg(DISTINCT n_name, ', ' ORDER BY n_name) AS nations,
             count(*) AS n_nations
      FROM nation GROUP BY 1 ORDER BY 1"""))

  /** q11 — per-group mean broadcast back onto rows (G2: pandas
    * `transform('mean')`, dags/flu_data_airflow_v2.py:395) — an
    * unbounded window aggregate.
    */
  val q11 = Q("q11_window_avg",
    (s, dir) => {
      val w = Window.partitionBy("l_returnflag", "l_linestatus")
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          (sum(col("l_quantity").cast(DecimalType(28, 6))).over(w).cast("double") /
            count(col("l_quantity")).over(w)).as("group_avg_qty"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "group_avg_qty")
    },
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,6)))
                    OVER (PARTITION BY l_returnflag, l_linestatus) AS DOUBLE)
               / count(l_quantity) OVER (PARTITION BY l_returnflag, l_linestatus)
               AS group_avg_qty
      FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity, group_avg_qty"""))

  /** q12 — windowed max / argmax / mean per year (G3, G4, G5 — the
    * historics shape, dags/flu_data_airflow_v2.py:420-437). Argmax tie
    * is broken deterministically by ascending key (the reference's
    * positional idxmax made deterministic).
    */
  val q12 = Q("q12_peak_per_year",
    (s, dir) => {
      val o = t(s, dir, "orders").withColumn("o_year", year(col("o_orderdate")))
      val w = Window.partitionBy("o_year")
      val wr = w.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.select(
          col("o_year"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(wr).as("_rn"),
          (sum(col("o_totalprice").cast(DecimalType(28, 6))).over(w).cast("double") /
            count(col("o_totalprice")).over(w)).as("avg_price"))
        .filter(col("_rn") === 1)
        .select(
          col("o_year"),
          col("o_orderkey").as("peak_orderkey"),
          col("o_totalprice").as("peak_price"),
          col("avg_price"),
          (col("o_totalprice") - col("avg_price")).as("peak_vs_avg"))
        .orderBy("o_year")
    },
    Some("""
      WITH w AS (
        SELECT year(o_orderdate) AS o_year, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY year(o_orderdate)
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
               CAST(sum(CAST(o_totalprice AS DECIMAL(28,6)))
                      OVER (PARTITION BY year(o_orderdate)) AS DOUBLE)
                 / count(o_totalprice) OVER (PARTITION BY year(o_orderdate)) AS avg_price
        FROM orders)
      SELECT o_year, o_orderkey AS peak_orderkey, o_totalprice AS peak_price,
             avg_price, o_totalprice - avg_price AS peak_vs_avg
      FROM w WHERE rn = 1 ORDER BY o_year"""))

  /** q13 — deterministic first-non-null per group (G6: pandas
    * `agg('first')` skips nulls, dags/flu_data_airflow_v2.py:409).
    */
  val q13 = Q("q13_first_nonnull",
    (s, dir) => t(s, dir, "customer")
      .withColumn("seg_or_null",
        when(col("c_mktsegment") === "BUILDING", lit(null)).otherwise(col("c_mktsegment")))
      .groupBy("c_nationkey")
      .agg(firstNonNullBy(col("seg_or_null"), col("c_custkey")).as("first_seg"),
        count(lit(1)).as("n_cust"))
      .orderBy("c_nationkey"),
    Some("""
      WITH c AS (
        SELECT c_nationkey, c_custkey,
               CASE WHEN c_mktsegment = 'BUILDING' THEN NULL
                    ELSE c_mktsegment END AS seg_or_null
        FROM customer)
      SELECT c_nationkey,
             (array_agg(seg_or_null ORDER BY c_custkey)
                FILTER (WHERE seg_or_null IS NOT NULL))[1] AS first_seg,
             count(*) AS n_cust
      FROM c GROUP BY 1 ORDER BY 1"""))

  /** q14 — pivot / conditional aggregation (G6 alt: the reference's
    * manual care-type pivot, dags/flu_data_airflow_v2.py:398-409).
    */
  val q14 = Q("q14_pivot_conditional",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        (dsum(when(col("l_linestatus") === "F", col("l_quantity")))
          / count(when(col("l_linestatus") === "F", col("l_quantity")))).as("avg_qty_f"),
        (dsum(when(col("l_linestatus") === "O", col("l_quantity")))
          / count(when(col("l_linestatus") === "O", col("l_quantity")))).as("avg_qty_o"))
      .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) FILTER (WHERE l_linestatus='F') AS DOUBLE)
               / count(l_quantity) FILTER (WHERE l_linestatus='F') AS avg_qty_f,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) FILTER (WHERE l_linestatus='O') AS DOUBLE)
               / count(l_quantity) FILTER (WHERE l_linestatus='O') AS avg_qty_o
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** q15 — AVG + COUNT(DISTINCT) + GROUP BY + HAVING (G7 — the
    * weekly-trends report shape, api/app.py:219-233), with top-20 limit
    * (O5).
    */
  val q15 = Q("q15_having_trends",
    (s, dir) => {
      // pre-aggregated fact side: per-order decimal sums re-combine
      // exactly; COUNT(DISTINCT l_orderkey) over joined rows equals
      // COUNT(l_orderkey) over one-row-per-order — no expand node
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(28, 6))).as("_sq"),
          count(col("l_quantity")).as("_cq"))
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg((sum(col("_sq")).cast("double") / sum(col("_cq"))).as("avg_qty"),
          count(col("l_orderkey")).as("n_orders"))
        .filter(col("avg_qty").isNotNull)
        .orderBy(col("o_orderpriority").desc, col("o_orderstatus").asc)
        .limit(20)
    },
    Some("""
      SELECT o_orderpriority, o_orderstatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(l_quantity) AS avg_qty,
             count(DISTINCT l_orderkey) AS n_orders
      FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1,2
      HAVING CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(l_quantity) IS NOT NULL
      ORDER BY o_orderpriority DESC, o_orderstatus ASC LIMIT 20"""))

  /** q16 — multi-AVG by region (G8 — healthcare-impact shape,
    * api/app.py:261-274) with DESC NULLS LAST ordering (O6).
    */
  val q16 = Q("q16_region_impact",
    (s, dir) => {
      val cu = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      cu.join(broadcast(n), cu("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(
          davg(col("c_acctbal")).as("avg_acctbal"),
          dsum(col("c_acctbal")).as("sum_acctbal"),
          countDistinct(col("c_custkey")).as("n_customers"))
        .orderBy(col("avg_acctbal").desc_nulls_last, col("r_name").asc)
    },
    Some("""
      SELECT r_name,
             CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / count(c_acctbal) AS avg_acctbal,
             CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS sum_acctbal,
             count(DISTINCT c_custkey) AS n_customers
      FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1
      ORDER BY avg_acctbal DESC NULLS LAST, r_name ASC"""))

  /** q17 — column statistics (G9: min/max/mean/nunique diagnostics). */
  val q17 = Q("q17_stats",
    (s, dir) => t(s, dir, "lineitem")
      .agg(
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        davg(col("l_quantity")).as("avg_qty"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"),
        count(when(col("l_shipdate").isNotNull, lit(1))).as("n_shipped")),
    Some("""
      SELECT min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(l_quantity) AS avg_qty,
             count(DISTINCT l_partkey) AS n_parts,
             count(*) AS n_rows,
             count(CASE WHEN l_shipdate IS NOT NULL THEN 1 END) AS n_shipped
      FROM lineitem"""))

  /** q18 — dense surrogate id by sort order (W1 + O1:
    * dags/flu_data_airflow_v2.py:329,339).
    */
  val q18 = Q("q18_dense_id",
    (s, dir) => denseIdBy(t(s, dir, "nation"), "nation_id", col("n_name").asc)
      .select("nation_id", "n_name", "n_regionkey")
      .orderBy("nation_id"),
    Some("""
      SELECT row_number() OVER (ORDER BY n_name) AS nation_id, n_name, n_regionkey
      FROM nation ORDER BY nation_id"""))

  /** q19 — top-k by measure (O3/O4: TakeOrderedAndProject). */
  val q19 = Q("q19_topk",
    (s, dir) => topK(t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice"),
      10, col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc),
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice
      FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
      LIMIT 10"""))

  /** q20 — ORDER BY with explicit null placement (O6) over an injected
    * nullable column.
    */
  val q20 = Q("q20_sort_nulls_last",
    (s, dir) => t(s, dir, "customer")
      .withColumn("bal_or_null",
        when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")))
      .select("c_custkey", "bal_or_null")
      .orderBy(col("bal_or_null").desc_nulls_last, col("c_custkey").asc)
      .limit(100),
    Some("""
      SELECT c_custkey,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_or_null
      FROM customer
      ORDER BY bal_or_null DESC NULLS LAST, c_custkey ASC LIMIT 100"""))

  /** q21 — full-row distinct (D1). */
  val q21 = Q("q21_distinct",
    (s, dir) => t(s, dir, "lineitem")
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus"),
    Some("""
      SELECT DISTINCT l_returnflag, l_linestatus
      FROM lineitem ORDER BY 1,2"""))

  /** q22 — keyed keep-first dedup with explicit stable order (D2/D3:
    * pandas positional drop_duplicates / ON CONFLICT DO NOTHING made
    * deterministic — SURVEY §7.4 hard-part #1).
    */
  val q22 = Q("q22_dedup_keepfirst",
    // aggregate keep-first (r15 opt): the output projects only
    // key+order columns, so the hash-aggregate form (no window sort)
    // is value-identical even where the order columns tie
    (s, dir) => graft.operators.Relational.dedupKeepFirstAgg(
        t(s, dir, "lineitem"),
        Seq("l_orderkey"),
        Seq("l_linenumber", "l_partkey", "l_quantity"))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .orderBy("l_orderkey"),
    Some("""
      SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
                                         ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
            FROM lineitem)
      WHERE rn = 1 ORDER BY l_orderkey"""))

  /** q23 — explode / unnest + word count (X2 + G: the reference's one
    * array op, dags/flu_data_airflow_v2.py:112).
    */
  val q23 = Q("q23_explode_wordcount",
    (s, dir) => t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(20),
    Some("""
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY 1 ORDER BY cnt DESC, word ASC LIMIT 20"""))

  /** q24 — string functions: substring, lpad, concat, regexp_replace
    * (X4, X5, X6, X9).
    */
  val q24 = Q("q24_string_funcs",
    (s, dir) => t(s, dir, "part")
      .select(
        col("p_partkey"),
        substring(col("p_name"), 1, 4).as("name_prefix"),
        lpad(col("p_size").cast("string"), 2, "0").as("size_padded"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), "a", "@").as("name_subst"))
      .orderBy("p_partkey"),
    Some("""
      SELECT p_partkey,
             substring(p_name, 1, 4) AS name_prefix,
             lpad(CAST(p_size AS VARCHAR), 2, '0') AS size_padded,
             p_brand || '#' || p_type AS brand_type,
             regexp_replace(p_name, 'a', '@', 'g') AS name_subst
      FROM part ORDER BY p_partkey"""))

  /** q25 — date/time functions + epiweek construction (X4-X7: the
    * reference's YYYYWW epiweek id built from the date string,
    * dags/flu_data_airflow_v2.py:350, year-boundary quirk preserved).
    */
  val q25 = Q("q25_dates_epiweek",
    (s, dir) => t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        col("o_orderdate").cast("date").as("order_date"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        epiweekId(col("o_orderdate").cast("date")).as("epiweek_id"))
      .orderBy("o_orderkey"),
    Some("""
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS order_date,
             year(o_orderdate) AS o_year,
             month(o_orderdate) AS o_month,
             CAST(substring(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 1, 4)
                  || lpad(CAST(weekofyear(o_orderdate) AS VARCHAR), 2, '0') AS INTEGER)
               AS epiweek_id
      FROM orders ORDER BY o_orderkey"""))

  /** q26 — arithmetic with zero-denominator null + fill (X8 + X10:
    * ratio then fillna(0), dags/flu_data_airflow_v2.py:412,415) and
    * floor-decade.
    */
  val q26 = Q("q26_arith_nullfill",
    (s, dir) => t(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        coalesce(col("l_tax") / nullif(col("l_discount"), lit(0.0)), lit(0.0))
          .as("tax_disc_ratio"),
        floorDecade(year(col("l_shipdate"))).as("ship_decade"))
      .orderBy("l_orderkey", "l_linenumber", "tax_disc_ratio", "ship_decade"),
    Some("""
      SELECT l_orderkey, l_linenumber,
             coalesce(l_tax / nullif(l_discount, 0.0), 0.0) AS tax_disc_ratio,
             CAST(floor(year(l_shipdate) / 10) * 10 AS INTEGER) AS ship_decade
      FROM lineitem ORDER BY l_orderkey, l_linenumber, tax_disc_ratio, ship_decade"""))

  /** q27 — conditional expression (X11: the reference's row-wise
    * care-type split lambda as when/otherwise).
    */
  val q27 = Q("q27_conditional",
    (s, dir) => t(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_returnflag") === "R", col("l_extendedprice"))
          .otherwise(lit(0.0)).as("returned_value"),
        when(col("l_quantity") >= 25, lit("bulk"))
          .when(col("l_quantity") >= 10, lit("mid"))
          .otherwise(lit("small")).as("qty_band"))
      .orderBy("l_orderkey", "l_linenumber", "returned_value", "qty_band"),
    Some("""
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END AS returned_value,
             CASE WHEN l_quantity >= 25 THEN 'bulk'
                  WHEN l_quantity >= 10 THEN 'mid'
                  ELSE 'small' END AS qty_band
      FROM lineitem ORDER BY l_orderkey, l_linenumber, returned_value, qty_band"""))

  /** q28 — JSON field extraction (X12: `data['epidata']`-style access,
    * dags/flu_data_airflow_v2.py:274-278) over the events.props JSON
    * strings.
    */
  val q28 = Q("q28_json_extract",
    (s, dir) => t(s, dir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id"),
    Some("""
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events ORDER BY event_id"""))

  /** q29 — capped table export (O8/K5: `SELECT * ... LIMIT 1000`,
    * api/app.py:358).
    */
  val q29 = Q("q29_export_limit",
    (s, dir) => t(s, dir, "customer")
      .orderBy("c_custkey")
      .limit(1000),
    Some("""
      SELECT * FROM customer ORDER BY c_custkey LIMIT 1000"""))

  /** q30 — event-time tumbling-window aggregation (batch form of the
    * streaming windowed agg; graft.streaming runs the same shape with
    * readStream + watermark).
    */
  val q30 = Q("q30_time_window",
    (s, dir) => t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy("hour", "event_type"),
    Some("""
      SELECT date_trunc('hour', ts) AS hour, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1,2 ORDER BY 1,2"""))

  /** q31 — lenient numeric cleaning (X3: clean_percentage — blank →
    * NULL, unparseable → NULL, else DOUBLE) over strings synthesized
    * from part.
    */
  val q31 = Q("q31_clean_percentage",
    (s, dir) => {
      val dirty = t(s, dir, "part").select(
        col("p_partkey"),
        when(col("p_size") < 10, lit(""))
          .when(col("p_size") < 20, concat(lit(" "), col("p_retailprice").cast("string")))
          .when(col("p_size") < 30, lit("N/A"))
          .otherwise(col("p_size").cast("string")).as("raw"))
      dirty.select(col("p_partkey"),
          graft.functions.ScalarFunctions.cleanPercentage(col("raw")).as("cleaned"))
        .orderBy("p_partkey")
    },
    Some("""
      WITH dirty AS (
        SELECT p_partkey,
               CASE WHEN p_size < 10 THEN ''
                    WHEN p_size < 20 THEN ' ' || CAST(p_retailprice AS VARCHAR)
                    WHEN p_size < 30 THEN 'N/A'
                    ELSE CAST(p_size AS VARCHAR) END AS raw
        FROM part)
      SELECT p_partkey,
             CASE WHEN trim(raw) = '' THEN NULL
                  ELSE TRY_CAST(raw AS DOUBLE) END AS cleaned
      FROM dirty ORDER BY p_partkey"""))

  /** q50 — exact interpolated percentiles per group (distribution
    * profiling; linear-interpolation definition shared across engines).
    */
  val q50 = Q("q50_percentiles",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_extendedprice, 0.5)").as("median_price"))
      .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.5) AS median_qty,
             quantile_cont(l_quantity, 0.9) AS p90_qty,
             quantile_cont(l_extendedprice, 0.5) AS median_price
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** q51 — rank-family window functions: ntile buckets and percent_rank
    * with fully-deterministic tie-broken ordering.
    */
  val q51 = Q("q51_rank_functions",
    (s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          dense_rank().over(w).as("drank"))
        .orderBy("o_orderstatus", "o_totalprice", "o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             ntile(4) OVER w AS quartile,
             round(percent_rank() OVER w, 6) AS pct_rank,
             dense_rank() OVER w AS drank
      FROM orders
      WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC)
      ORDER BY o_orderstatus, o_totalprice, o_orderkey"""))

  /** q52 — approx_percentile, the 100 TB companion to q50's exact
    * percentile (which buffers every group value): bounded-memory
    * sketch (Greenwald-Khanna, accuracy 100000 ⇒ rank error ≤ 1e-5).
    *
    * Sketched values differ across engines by construction, so the
    * oracle check is rank-based: the query itself verifies each
    * approximate percentile against the exact rank it lands on
    * (|P(x ≤ v) − p| ≤ 0.01) and emits the boolean — the oracle expects
    * TRUE for every (group, p). A broken sketch fails the hash compare.
    */
  val q52 = Q("q52_approx_percentile",
    (s, dir) => {
      val ps = Seq(0.5, 0.9, 0.99)
      val pArr = array(ps.map(lit): _*)
      val li = t(s, dir, "lineitem").select("l_returnflag", "l_extendedprice")
      val appr = li.groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"), pArr, lit(100000)).as("_vs"))
        .select(col("l_returnflag"), posexplode(col("_vs")).as(Seq("_i", "_v")))
        .withColumn("p", element_at(pArr, col("_i") + 1))
        .select("l_returnflag", "p", "_v")
      appr.join(li, Seq("l_returnflag")) // 9-row side broadcasts; fanout ≤ |ps|
        .groupBy("l_returnflag", "p", "_v")
        .agg((sum(when(col("l_extendedprice") <= col("_v"), 1L).otherwise(0L))
          / count(lit(1))).as("_rank_frac"))
        .select(col("l_returnflag"), col("p"),
          (abs(col("_rank_frac") - col("p")) <= 0.01).as("within_tol"))
        .orderBy("l_returnflag", "p")
    },
    Some("""
      SELECT l_returnflag, p, TRUE AS within_tol
      FROM (SELECT DISTINCT l_returnflag FROM lineitem)
      CROSS JOIN (SELECT unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS p) ps
      ORDER BY l_returnflag, p"""))

  /** q53 — one-pass column profiling (G9's `describe`, completed):
    * every stat for every column in a single partial+final aggregate.
    * Exact NDV here for the oracle; the default helper path uses
    * HLL++ (no Expand) at scale.
    */
  val q53 = Q("q53_profile",
    (s, dir) => profile(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"), exact = true)
      .orderBy("col_name"),
    Some("""
      SELECT col_name, n_rows, n_nonnull, n_distinct, min_val, max_val, mean_val
      FROM (
        SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
               count(l_quantity) AS n_nonnull,
               count(DISTINCT l_quantity) AS n_distinct,
               CAST(min(l_quantity) AS DOUBLE) AS min_val,
               CAST(max(l_quantity) AS DOUBLE) AS max_val,
               CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(l_quantity) AS mean_val
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', count(*), count(l_extendedprice),
               count(DISTINCT l_extendedprice),
               CAST(min(l_extendedprice) AS DOUBLE),
               CAST(max(l_extendedprice) AS DOUBLE),
               CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / count(l_extendedprice)
        FROM lineitem
        UNION ALL
        SELECT 'l_discount', count(*), count(l_discount),
               count(DISTINCT l_discount),
               CAST(min(l_discount) AS DOUBLE),
               CAST(max(l_discount) AS DOUBLE),
               CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / count(l_discount)
        FROM lineitem)
      ORDER BY col_name"""))

  /** q67 — ROLLUP hierarchy totals (region → nation → grand total) in
    * one pass: Spark expands grouping sets map-side (the Expand node),
    * so the three aggregation levels share one shuffle instead of three
    * jobs. Dimension joins broadcast; rolled-up name slots surface as
    * 'ALL' (coalesce) so row identity never depends on engine-specific
    * NULL ordering.
    */
  val q67 = Q("q67_rollup",
    (s, dir) => t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_cust"),
        dsum(col("c_acctbal")).as("sum_bal"))
      .select(col("gid"), coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_cust"), col("sum_bal"))
      .orderBy("gid", "region", "nation"),
    Some("""
      SELECT CAST(grouping_id(r_name, n_name) AS BIGINT) AS gid,
             coalesce(r_name, 'ALL') AS region,
             coalesce(n_name, 'ALL') AS nation,
             count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY gid, region, nation"""))

  /** q68 — set operations with SQL DISTINCT semantics: users who both
    * click and purchase (INTERSECT) vs click-only users (EXCEPT),
    * tagged and unioned. Each set op is one hash shuffle on user_id
    * over pre-projected single-column inputs.
    */
  val q68 = Q("q68_set_ops",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click").select("user_id")
      val purch = ev.filter(col("event_type") === "purchase").select("user_id")
      clicks.intersect(purch).withColumn("tag", lit("both"))
        .unionByName(clicks.except(purch).withColumn("tag", lit("click_only")))
        .select("tag", "user_id")
        .orderBy("tag", "user_id")
    },
    Some("""
      SELECT 'both' AS tag, user_id FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase')
      UNION ALL
      SELECT 'click_only', user_id FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'purchase')
      ORDER BY tag, user_id"""))

  /** q69 — distributed Pearson correlation from decomposable partial
    * sums: built-in corr() accumulates doubles in partition order (a
    * different answer per partition count), so the moments are
    * accumulated as exact integers instead — quantity is integral,
    * discount becomes cents — and corr is assembled from the six
    * totals in one final double expression. Map-side partials combine
    * exactly; one single-row shuffle. Long totals are exact here
    * (≤9e14 at sf0.1); at row counts where n·Σx² nears 2^63, the same
    * sums go through DECIMAL(38,0) unchanged.
    */
  val q69 = Q("q69_corr_moments",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_quantity").cast("long").as("x"),
        round(col("l_discount") * 100).cast("long").as("y"))
      li.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
             sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
            .as("corr_qty_disc"))
    },
    Some("""
      WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                        CAST(round(l_discount * 100) AS BIGINT) AS y
                 FROM lineitem),
      m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
            FROM b)
      SELECT n, round(CAST(n*sxy - sx*sy AS DOUBLE) /
                      (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
                       sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) AS corr_qty_disc
      FROM m"""))

  /** q70 — pivot with an explicit value list: wide sum-by-category in
    * ONE aggregation pass (each pivot cell is a conditional partial
    * that combines map-side). The explicit values matter at scale: the
    * values-discovery job Spark otherwise runs is a full extra scan,
    * and an unbounded pivot width is a schema hazard on 100 TB inputs.
    */
  val q70 = Q("q70_pivot",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(dsum(col("l_quantity")))
      .orderBy("l_linestatus"),
    Some("""
      SELECT l_linestatus,
             CAST(sum(CASE WHEN l_returnflag = 'A'
                           THEN CAST(l_quantity AS DECIMAL(28,6)) END) AS DOUBLE) AS "A",
             CAST(sum(CASE WHEN l_returnflag = 'N'
                           THEN CAST(l_quantity AS DECIMAL(28,6)) END) AS DOUBLE) AS "N",
             CAST(sum(CASE WHEN l_returnflag = 'R'
                           THEN CAST(l_quantity AS DECIMAL(28,6)) END) AS DOUBLE) AS "R"
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""))

  /** q71 — unpivot/melt (wide → long): the inverse of q70, emitting one
    * (id, metric, value) row per measure column. Map-only Expand node —
    * no shuffle, output rows = input rows × measures.
    */
  val q71 = Q("q71_unpivot",
    (s, dir) => t(s, dir, "part")
      .select(col("p_partkey"),
        col("p_retailprice").cast("double").as("retailprice"),
        col("p_size").cast("double").as("size"))
      .unpivot(Array(col("p_partkey")), Array(col("retailprice"), col("size")),
        "metric", "value")
      .orderBy("p_partkey", "metric"),
    Some("""
      SELECT p_partkey, 'retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS value
      FROM part
      UNION ALL
      SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
      ORDER BY p_partkey, metric"""))

  /** q73 — skew-salted fact⋈fact join, oracle-gated: the salt spreads
    * each hot key over 8 reducers (big side hashes to a salt, small
    * side explodes across all 8) and MUST be invisible in the result —
    * the oracle is the plain join, so any salt leakage or fanout bug
    * fails the row hash. This is the explicit fix for the skew AQE's
    * split can't handle (one key ≫ one partition).
    */
  val q73 = Q("q73_salted_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val or = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.operators.ScaleOps.saltedJoin(li, or, Seq("l_orderkey"), salts = 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1"""))

  /** q75 — HLL++ approximate distinct count, the bounded-memory NDV for
    * 100 TB scans (exact COUNT DISTINCT shuffles every distinct key;
    * the sketch is fixed-size per partition and merges map-side).
    * Sketch estimates differ across engines by construction, so the
    * oracle check is q52's pattern: the query verifies its own estimate
    * against the exact count (rsd 1% ⇒ 5% tolerance is 5σ) and emits
    * the boolean; the oracle expects TRUE. A broken sketch fails the
    * hash compare.
    */
  val q75 = Q("q75_approx_ndv",
    (s, dir) => t(s, dir, "lineitem")
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("_approx"),
        countDistinct(col("l_orderkey")).as("exact_cnt"))
      .select(col("exact_cnt"),
        (abs(col("_approx").cast("double") / col("exact_cnt") - 1.0) <= 0.05)
          .as("within_5pct")),
    Some("""
      SELECT count(DISTINCT l_orderkey) AS exact_cnt, TRUE AS within_5pct
      FROM lineitem"""))

  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24,
    q25, q26, q27, q28, q29, q30, q31, q50, q51, q52, q53, q67, q68, q69,
    q70, q71, q73, q75)
}
