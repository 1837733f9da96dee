package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Hashing, ScalarFunctions}
import graft.operators.{Similarity, TextAnalysis => TA}
import graft.queries.Q.{duckCos, duckHash64}

/** Round-3 batch 2 — cluster-engineering operators: the join/agg
  * machinery a 100 TB deployment leans on beyond the analytic surface.
  * Bloom-filtered semi-joins (prune the fact scan before its shuffle),
  * BM25 retrieval scoring, deterministic corpus splits, SCD2 interval
  * building, CUBE rollups, join-key skew diagnosis, contrastive
  * hard-negative mining, winsorized robust means, and moment-based
  * outlier detection.
  *
  * Determinism policy follows the module family: integer/fixed-point
  * accumulation wherever a multi-row double sum would be reduction-order
  * dependent, ln() through the round(x*1e6)::long recipe the gate
  * already proves for q57/q77, and a total ORDER BY on every output.
  */
object ScaleQueries {

  private val duckTokens = "string_split_regex(trim(text), '\\s+')"

  // ---------------------------------------------------------------- q92

  /** Bloom bits per key: k=2 positions in an m-bit filter. xxhash64 is
    * fine here (no oracle ever recomputes it — false positives are
    * removed by the exact join, so the RESULT is engine-portable even
    * though the filter is not).
    */
  private def bloomBits(key: Column, m: Long): Column = array(
    pmod(xxhash64(lit("bf0"), key), lit(m)),
    pmod(xxhash64(lit("bf1"), key), lit(m)))

  /** The bloom-pruned fact side of q92, exposed so the spec can measure
    * the pruning ratio (probed rows ≪ fact rows, FP handful).
    */
  def bloomProbedOrders(s: SparkSession, dir: String): DataFrame = {
    val m = 131072L // 2^17 bits = 2 KiB of filter — trivially broadcastable
    val dim = Tables.load(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING" && col("c_nationkey") < 5)
      .select(col("c_custkey"))
    // Filter build: one tiny shuffle on word index, then ONE row holding
    // the whole bitmap as a map — never a driver-side collect.
    val words = dim.select(explode(bloomBits(col("c_custkey"), m)).as("_bit"))
      .distinct()
      .groupBy((col("_bit") / 64).cast("long").as("_w"))
      .agg(bit_or(call_function("shiftleft", lit(1L),
        pmod(col("_bit"), lit(64L)).cast("int"))).as("_bits"))
    val bf = words.agg(
      map_from_entries(collect_list(struct(col("_w"), col("_bits")))).as("_bf"))
    def hit(bit: Column): Column =
      coalesce(element_at(col("_bf"), (bit / 64).cast("long")), lit(0L))
        .bitwiseAND(call_function("shiftleft", lit(1L),
          pmod(bit, lit(64L)).cast("int"))) =!= 0L
    Tables.load(s, dir, "orders")
      .crossJoin(broadcast(bf))
      .withColumn("_b", bloomBits(col("o_custkey"), m))
      .filter(hit(element_at(col("_b"), 1)) && hit(element_at(col("_b"), 2)))
      .drop("_bf", "_b")
  }

  /** q92 — bloom-filtered semi-join: a selective dimension's key set is
    * folded into a 2 KiB bloom bitmap (k=2, m=2^17) that rides to every
    * fact task as a one-row broadcast; the fact stream is pruned to
    * ~the matching 4% BEFORE its shuffle, and an exact semi-join then
    * removes the (≈1e-6 rate) false positives. This is the engine-level
    * version of runtime row-group filtering: at 100 TB the win is that
    * the eliminated 96% of the fact never enters the join exchange —
    * only filter words move. The oracle is the plain semi-join, proving
    * bloom + exact-verify changes nothing.
    */
  val q92 = Q("q92_bloom_semijoin",
    (s, dir) => {
      val dim = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING" && col("c_nationkey") < 5)
        .select(col("c_custkey"))
      bloomProbedOrders(s, dir)
        .join(dim, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          round(ScalarFunctions.dsum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_orders,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer
                          WHERE c_mktsegment = 'BUILDING' AND c_nationkey < 5)
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q93

  /** q93 — BM25 retrieval scoring (k1=1.2, b=0.75) of every document
    * against a fixed term set — the lexical ranking that pairs with the
    * ANN path (q39/q41/q48) in a hybrid retrieval stack. All linear:
    * token explode → per-(doc,term) tf, per-doc length; N/avgdl ride in
    * as a one-row broadcast, per-term df as a |terms|-row broadcast.
    * idf goes through the fixed-point ln recipe and per-term
    * contributions sum as exact longs, so the score is identical under
    * any partitioning (the constants are written as literals in BOTH
    * engines — 2.2 is NOT 1.2+1.0 in IEEE arithmetic).
    */
  val q93 = Q("q93_bm25",
    (s, dir) => {
      val terms = Seq("hash", "join", "merge")
      val docs = Tables.load(s, dir, "documents")
      val dl = docs.select(col("doc_id"), TA.tokenCount(col("text")).cast("long").as("dl"))
      val tf = docs.select(col("doc_id"), explode(TA.tokens(col("text"))).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val stats = dl.agg(count(lit(1)).as("_n"), sum("dl").as("_sdl"))
      val dfT = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      tf.join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .join(broadcast(dfT), Seq("tok"))
        .withColumn("_avgdl", col("_sdl").cast("double") / col("_n"))
        .withColumn("_idf",
          round(log((col("_n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
            * 1e6).cast("long").cast("double") / 1e6)
        .withColumn("_tfp",
          col("tf").cast("double") * lit(2.2)
            / (col("tf").cast("double")
              + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("_avgdl"))))
        .withColumn("_c", round(col("_idf") * col("_tfp") * 1e6).cast("long"))
        .groupBy("doc_id")
        .agg(round(sum(col("_c")).cast("double") / 1e6, 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(20)
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM t),
      tok AS (SELECT doc_id, unnest(w) AS tok FROM t),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
             WHERE tok IN ('hash', 'join', 'merge') GROUP BY 1, 2),
      st AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl),
      dfT AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      c AS (SELECT tf.doc_id,
              CAST(round(
                (CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0) * 1000000.0) AS BIGINT)
                   / 1000000.0)
                * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sdl AS DOUBLE) / n))))
                * 1000000.0) AS BIGINT) AS c
            FROM tf JOIN dl USING (doc_id) CROSS JOIN st JOIN dfT USING (tok))
      SELECT doc_id, round(CAST(sum(c) AS DOUBLE) / 1000000.0, 6) AS bm25
      FROM c GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id ASC LIMIT 20"""))

  // ---------------------------------------------------------------- q94

  /** q94 — deterministic train/valid/test split (90/5/5) by salted
    * content-independent hash bucketing of doc_id: the split a training
    * pipeline must be able to recompute identically forever (any node,
    * any partitioning, any rerun). Map-only assignment + a tiny
    * (split × source) aggregate.
    */
  val q94 = Q("q94_train_split",
    (s, dir) => {
      val bucket = pmod(Hashing.hash64(concat(lit("split|"),
        col("doc_id").cast("string"))), lit(100L))
      Tables.load(s, dir, "documents")
        .withColumn("split",
          when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
        .orderBy("split", "source")
    },
    Some(s"""
      WITH b AS (SELECT *,
                   ${duckHash64("concat('split|', CAST(doc_id AS VARCHAR))")} % 100
                     AS bucket
                 FROM documents)
      SELECT CASE WHEN bucket < 90 THEN 'train'
                  WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split,
             source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM b GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- q95

  /** q95 — SCD type-2 interval build: each user's funnel-state history
    * (view/click/purchase) collapsed into [valid_from, valid_to)
    * versioned rows with an is_current flag — the dimension-versioning
    * merge every warehouse runs. Shape: ties on (user, ts) resolved
    * deterministically (max event_id), run-length collapse via lag,
    * interval close via lead — three windows all partitioned by
    * user_id, so one shuffle key end-to-end and no unpartitioned
    * window anywhere.
    */
  val q95 = Q("q95_scd2",
    (s, dir) => {
      val wTie = Window.partitionBy("user_id", "us").orderBy(col("event_id").desc)
      val wSeq = Window.partitionBy("user_id").orderBy("us")
      val base = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("view", "click", "purchase") && col("user_id") < 30)
        .select(col("user_id"), col("event_id"), col("event_type").as("status"),
          unix_micros(col("ts")).as("us"))
        .withColumn("_rn", row_number().over(wTie)).filter(col("_rn") === 1)
      val changes = base
        .withColumn("_prev", lag(col("status"), 1).over(wSeq))
        .filter(col("_prev").isNull || col("_prev") =!= col("status"))
      changes
        .withColumn("valid_to_us", lead(col("us"), 1).over(wSeq))
        .select(col("user_id"), col("status"), col("us").as("valid_from_us"),
          col("valid_to_us"), col("valid_to_us").isNull.as("is_current"))
        .orderBy("user_id", "valid_from_us")
    },
    Some("""
      WITH b AS (SELECT user_id, event_type AS status, epoch_us(ts) AS us
                 FROM events
                 WHERE event_type IN ('view', 'click', 'purchase') AND user_id < 30
                 QUALIFY row_number() OVER (
                   PARTITION BY user_id, epoch_us(ts) ORDER BY event_id DESC) = 1),
      c AS (SELECT *, lag(status) OVER (PARTITION BY user_id ORDER BY us) AS prev
            FROM b),
      f AS (SELECT user_id, status, us FROM c
            WHERE prev IS NULL OR prev <> status)
      SELECT user_id, status, us AS valid_from_us,
             lead(us) OVER (PARTITION BY user_id ORDER BY us) AS valid_to_us,
             (lead(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL) AS is_current
      FROM f ORDER BY user_id, valid_from_us"""))

  // ---------------------------------------------------------------- q96

  /** q96 — CUBE with grouping indicators: all four (returnflag ×
    * linestatus) grouping sets in ONE aggregation pass — each set's
    * partials combine map-side, so the cube costs one shuffle like the
    * plain groupBy (vs four separate jobs re-scanning 100 TB). The
    * grouping() bits disambiguate data NULLs from subtotal rows.
    */
  val q96 = Q("q96_cube",
    (s, dir) => Tables.load(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        count(lit(1)).as("n"),
        round(ScalarFunctions.dsum(col("l_quantity")), 2).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("g_flag"), col("g_status"), col("n"), col("sum_qty"))
      .orderBy("returnflag", "linestatus"),
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
             CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
             count(*) AS n,
             round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_qty
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus"""))

  // ---------------------------------------------------------------- q97

  /** q97 — join-key skew diagnosis: the per-key row-count distribution
    * of the fact side of a join (max/mean ratio, exact p50/p99) — the
    * report that decides whether a key needs salting (q73) before a
    * 1000-executor join. One shuffle on the key, then a single-row
    * moment rollup; the exact percentile buffers only the per-KEY
    * count table (|keys| rows), not the fact.
    */
  val q97 = Q("q97_skew_report",
    (s, dir) => {
      val counts = Tables.load(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
      counts.agg(count(lit(1)).as("n_keys"), max("cnt").as("max_cnt"),
          expr("percentile(cnt, 0.5)").as("p50_cnt"),
          expr("percentile(cnt, 0.99)").as("p99_cnt"),
          sum("cnt").as("_tot"))
        .select(col("n_keys"), col("max_cnt"), col("p50_cnt"), col("p99_cnt"),
          round(col("max_cnt").cast("double")
            / (col("_tot").cast("double") / col("n_keys")), 6).as("skew_ratio"))
    },
    Some("""
      WITH c AS (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1)
      SELECT count(*) AS n_keys, max(cnt) AS max_cnt,
             quantile_cont(cnt, 0.5) AS p50_cnt,
             quantile_cont(cnt, 0.99) AS p99_cnt,
             round(CAST(max(cnt) AS DOUBLE)
               / (CAST(sum(cnt) AS DOUBLE) / count(*)), 6) AS skew_ratio
      FROM c"""))

  // ---------------------------------------------------------------- q98

  /** q98 — contrastive hard-negative mining: for each anchor in a small
    * query set, the 3 most-similar vectors with a DIFFERENT label —
    * the negatives that make embedding training hard. The anchor side
    * broadcasts (it is the per-batch anchor set, bounded by training
    * batch size, not the corpus); the corpus is scored map-only with
    * the codegen'd native dot kernel; per-anchor top-3 via a window
    * whose partition count = |anchors|. For anchor sets beyond
    * broadcast size this becomes the q48 IVF probe per anchor instead.
    */
  val q98 = Q("q98_hard_negatives",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val anchors = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("anchor_id"), col("label").as("_al"),
          col("embedding").as("_av"))
      val w = Window.partitionBy("anchor_id")
        .orderBy(col("cos").desc, col("vec_id").asc)
      emb.crossJoin(broadcast(anchors))
        .filter(col("label") =!= col("_al"))
        .select(col("anchor_id"), col("vec_id"),
          Similarity.cosine(col("embedding"), col("_av")).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("anchor_id", "rank", "vec_id", "cos")
        .orderBy("anchor_id", "rank")
    },
    Some(s"""
      WITH a AS (SELECT vec_id AS anchor_id, label AS al, embedding AS av
                 FROM embeddings WHERE vec_id < 8),
      sc AS (SELECT anchor_id, e.vec_id,
               ${duckCos("e.embedding", "a.av")} AS cos
             FROM embeddings e CROSS JOIN a
             WHERE e.label <> a.al),
      r AS (SELECT *, row_number() OVER (
              PARTITION BY anchor_id ORDER BY cos DESC, vec_id ASC) AS rank
            FROM sc)
      SELECT anchor_id, rank, vec_id, cos FROM r
      WHERE rank <= 3 ORDER BY anchor_id, rank"""))

  // ---------------------------------------------------------------- q99

  /** q99 — winsorized robust mean per source: clip n_chars to its
    * group's exact [p05, p95] and compare raw vs clipped means — the
    * outlier-robust document-length signal. The percentile table is one
    * row per source (broadcast back); clipped values go through the
    * fixed-point sum (clip boundaries are interpolated doubles — a
    * decimal cast of those diverges between engines by 1 ulp, the
    * round()::long path does not).
    */
  val q99 = Q("q99_winsorize",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents").select(col("source"), col("n_chars"))
      val pct = d.groupBy("source").agg(
        expr("percentile(n_chars, 0.05)").as("p05"),
        expr("percentile(n_chars, 0.95)").as("p95"))
      d.join(broadcast(pct), Seq("source"))
        .withColumn("_w",
          least(greatest(col("n_chars").cast("double"), col("p05")), col("p95")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), min("p05").as("p05"), min("p95").as("p95"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("mean_raw"),
          round(sum(round(col("_w") * 1e4).cast("long")).cast("double")
            / count(lit(1)) / 1e4, 6).as("mean_winsorized"))
        .orderBy("source")
    },
    Some("""
      WITH p AS (SELECT source, quantile_cont(n_chars, 0.05) AS p05,
                        quantile_cont(n_chars, 0.95) AS p95
                 FROM documents GROUP BY 1)
      SELECT d.source, count(*) AS n_docs, min(p05) AS p05, min(p95) AS p95,
             round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_raw,
             round(CAST(sum(CAST(round(
                 least(greatest(CAST(n_chars AS DOUBLE), p05), p95) * 10000.0)
               AS BIGINT)) AS DOUBLE) / count(*) / 10000.0, 6) AS mean_winsorized
      FROM documents d JOIN p USING (source)
      GROUP BY d.source ORDER BY d.source"""))

  // --------------------------------------------------------------- q100

  /** q100 — moment-based outlier detection (3σ rule) per event type:
    * mean/std assembled from exact fixed-point partial sums (the q69
    * recipe — a double stddev would differ per partition count), then a
    * second linear pass flags |z| > 3. Longs hold Σv² up to ~1e18 at
    * bench scale; the same totals route through DECIMAL(38,0) when
    * n·v² approaches 2^63.
    */
  val q100 = Q("q100_zscore_outliers",
    (s, dir) => {
      val b = Tables.load(s, dir, "events")
        .select(col("event_type"), round(col("value") * 1e4).cast("long").as("_v"))
      val m = b.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("_v").as("sv"), sum(col("_v") * col("_v")).as("svv"))
        .withColumn("_mean", col("sv").cast("double") / col("n") / 1e4)
        .withColumn("_std",
          sqrt((col("svv").cast("double")
            - col("sv").cast("double") * col("sv").cast("double") / col("n"))
            / (col("n") - 1) / 1e8))
      b.join(broadcast(m), Seq("event_type"))
        .groupBy("event_type")
        .agg(min("n").as("n_events"),
          round(min("_mean"), 6).as("mean_value"),
          round(min("_std"), 6).as("std_value"),
          sum(when(abs(col("_v").cast("double") / 1e4 - col("_mean"))
            > lit(3.0) * col("_std"), 1L).otherwise(0L)).as("n_outliers"))
        .orderBy("event_type")
    },
    Some("""
      WITH b AS (SELECT event_type, CAST(round(value * 10000.0) AS BIGINT) AS v
                 FROM events),
      m AS (SELECT event_type, count(*) AS n, sum(v) AS sv, sum(v*v) AS svv
            FROM b GROUP BY 1),
      s AS (SELECT event_type, n,
              CAST(sv AS DOUBLE) / n / 10000.0 AS mean,
              sqrt((CAST(svv AS DOUBLE)
                - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n) / (n - 1) / 1e8) AS std
            FROM m)
      SELECT b.event_type, min(s.n) AS n_events,
             round(min(mean), 6) AS mean_value,
             round(min(std), 6) AS std_value,
             CAST(sum(CASE WHEN abs(CAST(v AS DOUBLE) / 10000.0 - mean) > 3.0 * std
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM b JOIN s USING (event_type)
      GROUP BY b.event_type ORDER BY b.event_type"""))

  // --------------------------------------------------------------- q101

  /** q101 — heavy hitters from a deterministic hash sample: token
    * frequencies estimated from the 1/8 of documents whose salted
    * doc_id hash lands in the sample, scaled ×8, reported against the
    * exact top-20. At 100 TB only the sampled pass runs (an 8× scan
    * reduction that keeps the frequency ranking); this query is the
    * calibration report that validates the estimator. The sample is
    * HASH-based, not random(): any engine, any partitioning, any rerun
    * selects the identical documents, so even the estimates are
    * bit-reproducible (no tolerance band needed in the gate).
    */
  val q101 = Q("q101_sampled_heavy_hitters",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val sampled = docs.filter(pmod(Hashing.hash64(concat(lit("hh|"),
        col("doc_id").cast("string"))), lit(8L)) === 0)
      val exact = docs.select(explode(TA.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("exact_cnt"))
      val est = sampled.select(explode(TA.tokens(col("text"))).as("token"))
        .groupBy("token").agg((count(lit(1)) * 8).as("est_cnt"))
      exact.join(est, Seq("token"), "left")
        .select(col("token"), col("exact_cnt"),
          coalesce(col("est_cnt"), lit(0L)).as("est_cnt"))
        .withColumn("rel_err",
          round(abs(col("est_cnt") - col("exact_cnt")).cast("double")
            / col("exact_cnt"), 6))
        .orderBy(col("exact_cnt").desc, col("token").asc)
        .limit(20)
    },
    Some(s"""
      WITH tok AS (SELECT doc_id, unnest($duckTokens) AS token FROM documents),
      exact AS (SELECT token, count(*) AS exact_cnt FROM tok GROUP BY 1),
      est AS (SELECT token, count(*) * 8 AS est_cnt FROM tok
              WHERE ${duckHash64("concat('hh|', CAST(doc_id AS VARCHAR))")} % 8 = 0
              GROUP BY 1)
      SELECT exact.token, exact_cnt, coalesce(est_cnt, 0) AS est_cnt,
             round(CAST(abs(coalesce(est_cnt, 0) - exact_cnt) AS DOUBLE)
               / exact_cnt, 6) AS rel_err
      FROM exact LEFT JOIN est USING (token)
      ORDER BY exact_cnt DESC, token ASC LIMIT 20"""))

  // --------------------------------------------------------------- q102

  /** q102 — interval self-join via band rewriting: click→purchase
    * pairs within 24 h for the same user. The naive plan is a theta
    * join (`p.ts BETWEEN c.ts AND c.ts+24h`) that Spark executes as a
    * nested-loop — quadratic per user. Rewrite: quantize time into
    * window-sized bands; a click probes exactly its own and the next
    * band (a purchase ≤ one window later can land nowhere else), so the
    * plan is an EQUI-join on (user_id, band) with a fanout of exactly
    * 2, then the exact range predicate. Each qualifying pair is found
    * exactly once (the purchase's band is unique), so no dedup pass is
    * needed.
    */
  val q102 = Q("q102_interval_selfjoin",
    (s, dir) => {
      val bandUs = 86400000000L
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
        .withColumn("band",
          explode(array(floor(col("c_us") / bandUs).cast("long"),
            floor(col("c_us") / bandUs).cast("long") + 1)))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
        .withColumn("band", floor(col("p_us") / bandUs).cast("long"))
      clicks.join(purchases, Seq("user_id", "band"))
        .filter(col("p_us") >= col("c_us") && col("p_us") <= col("c_us") + bandUs)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"), min(col("p_us") - col("c_us")).as("min_gap_us"))
        .orderBy("user_id")
    },
    Some("""
      WITH c AS (SELECT user_id, epoch_us(ts) AS c_us FROM events
                 WHERE event_type = 'click'),
      p AS (SELECT user_id, epoch_us(ts) AS p_us FROM events
            WHERE event_type = 'purchase')
      SELECT c.user_id, count(*) AS n_pairs, min(p_us - c_us) AS min_gap_us
      FROM c JOIN p ON c.user_id = p.user_id
        AND p.p_us >= c.c_us AND p.p_us <= c.c_us + 86400000000
      GROUP BY c.user_id ORDER BY c.user_id"""))

  // --------------------------------------------------------------- q103

  /** q103 — Z-order layout report: quantize two join/filter dimensions
    * (customer key, order day) to a common 8-bit scale by their actual
    * ranges, interleave the bits into one Morton code, cluster rows by
    * its high bits, and report each cluster's min/max on BOTH
    * dimensions. Narrow ranges on both axes is the property that lets
    * a parquet reader skip files for predicates on EITHER column — the
    * multi-dimensional data-layout trick single-column sorting can't
    * give you. The range quantization matters: interleaving raw values
    * of unequal bit width puts only the wide dimension in the high
    * bits and localizes nothing else. One tiny min/max aggregate rides
    * in as a one-row broadcast; the code itself is map-side codegen'd
    * long arithmetic (16 shift-mask terms) plus one aggregate on the
    * cluster id; no global sort or unpartitioned window anywhere.
    */
  val q103 = Q("q103_zorder_layout",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("_x"),
          datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
            .cast("long").as("_y"))
      val stats = o.agg(min("_x").as("_x0"), max("_x").as("_x1"),
        min("_y").as("_y0"), max("_y").as("_y1"))
      def q8(v: Column, lo: Column, hi: Column): Column =
        floor(((v - lo) * 256).cast("double") / (hi - lo + 1)).cast("long")
      val withQ = o.crossJoin(broadcast(stats))
        .withColumn("_qx", q8(col("_x"), col("_x0"), col("_x1")))
        .withColumn("_qy", q8(col("_y"), col("_y0"), col("_y1")))
      val z = (0 until 8).map { b =>
        shiftleft(shiftright(col("_qx"), b).bitwiseAND(lit(1L)), 2 * b) +
          shiftleft(shiftright(col("_qy"), b).bitwiseAND(lit(1L)), 2 * b + 1)
      }.reduce(_ + _)
      withQ.withColumn("_z", z)
        .groupBy(shiftright(col("_z"), 8).as("zcluster"))
        .agg(count(lit(1)).as("n_rows"),
          min("_x").as("min_cust"), max("_x").as("max_cust"),
          min("_y").as("min_day"), max("_y").as("max_day"))
        .orderBy("zcluster")
    },
    Some("""
      WITH b AS (SELECT o_orderkey, o_custkey AS x,
                   CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS y
                 FROM orders),
      st AS (SELECT min(x) AS x0, max(x) AS x1, min(y) AS y0, max(y) AS y1 FROM b),
      qz AS (SELECT x, y,
               CAST(floor(CAST((x - x0) * 256 AS DOUBLE) / (x1 - x0 + 1)) AS BIGINT) AS qx,
               CAST(floor(CAST((y - y0) * 256 AS DOUBLE) / (y1 - y0 + 1)) AS BIGINT) AS qy
             FROM b CROSS JOIN st),
      z AS (SELECT x, y,
              CAST(list_sum(list_transform(range(0, 8), i ->
                (((qx >> i) & 1) << (2 * i)) + (((qy >> i) & 1) << (2 * i + 1))))
                AS BIGINT) AS zv
            FROM qz)
      SELECT zv >> 8 AS zcluster, count(*) AS n_rows,
             min(x) AS min_cust, max(x) AS max_cust,
             min(y) AS min_day, max(y) AS max_day
      FROM z GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q104

  /** q104 — incremental aggregate maintenance: yesterday's partial
    * aggregates (per-status count + DECIMAL sum over orders before the
    * cutoff) merged with today's delta slice — the decomposable-agg
    * merge that updates a 100 TB rollup by scanning only the new data.
    * The partials stay DECIMAL until the final projection, so
    * merged-vs-recomputed equality is exact (the oracle recomputes
    * from scratch — associativity is the thing being proved).
    */
  val q104 = Q("q104_incremental_agg",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val cutoff = "1996-01-01"
      val o = Tables.load(s, dir, "orders")
      def partial(df: DataFrame): DataFrame = df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("_n"),
          sum(col("o_totalprice").cast(DecimalType(28, 6))).as("_s"))
      val store = partial(o.filter(col("o_orderdate") < lit(cutoff)))
      val delta = partial(o.filter(col("o_orderdate") >= lit(cutoff)))
      store.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(sum("_n").as("n_orders"), sum("_s").as("_total"))
        .select(col("o_orderstatus"), col("n_orders"),
          round(col("_total").cast("double"), 2).as("total_price"),
          round(col("_total").cast("double") / col("n_orders"), 6).as("avg_price"))
        .orderBy("o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, count(*) AS n_orders,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 2)
               AS total_price,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               / count(*), 6) AS avg_price
      FROM orders GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q105

  /** q105 — asymmetric containment detection (doc-in-doc duplication):
    * for candidate pairs sharing a capped 8-gram bucket, the fraction
    * of EACH document's distinct trigram shingles present in the other.
    * Jaccard (q38) is symmetric and misses a short document embedded in
    * a long one; containment is the signal substring-level dedup needs
    * to pick the direction. Candidates come from exact 8-gram buckets
    * through the capped `Dedup.bucketPairs` (linear, hot-bucket-safe);
    * verification is the native intersect-count kernel over each pair's
    * trigram sets — never an all-pairs join.
    */
  val q105 = Q("q105_containment_pairs",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val g8 = docs.select(col("doc_id"),
        explode(call_function("graft_shingle_hashes", col("text"), lit(8))).as("gh"))
      val cand = graft.operators.Dedup.bucketPairs(g8, "doc_id", Seq("gh"))
      val t3 = docs.select(col("doc_id"),
          call_function("graft_shingle_hashes", col("text"), lit(3)).as("_t"))
        .withColumn("_n", size(col("_t")))
        .localCheckpoint(false) // joined against both pair sides below
      cand
        .join(t3.select(col("doc_id").as("id_a"), col("_t").as("_ta"),
          col("_n").as("n_a")), Seq("id_a"))
        .join(t3.select(col("doc_id").as("id_b"), col("_t").as("_tb"),
          col("_n").as("n_b")), Seq("id_b"))
        .withColumn("_i",
          call_function("graft_intersect_count", col("_ta"), col("_tb")))
        .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
          round(col("_i").cast("double") / col("n_a"), 6).as("cont_a_in_b"),
          round(col("_i").cast("double") / col("n_b"), 6).as("cont_b_in_a"))
        .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= 0.5)
        .orderBy("id_a", "id_b")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      g8 AS (SELECT doc_id, list_distinct(list_transform(list_distinct(
               CASE WHEN len(w) < 8
                    THEN [array_to_string(w, ' ')]
                    ELSE list_transform(range(1, len(w) - 6),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                                || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]
                                || ' ' || w[i+7])
               END), s -> ${duckHash64("s")} & ${graft.operators.Dedup.MinhashP})) AS g
             FROM t),
      b AS (SELECT doc_id, unnest(g) AS gh FROM g8),
      ok AS (SELECT gh FROM b GROUP BY gh
             HAVING count(*) > 1 AND count(*) <= ${graft.operators.Dedup.DefaultMaxBucket}),
      cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
               FROM b x JOIN ok USING (gh)
               JOIN b y ON x.gh = y.gh AND x.doc_id < y.doc_id),
      t3 AS (SELECT doc_id, list_distinct(list_transform(list_distinct(
               CASE WHEN len(w) < 3
                    THEN [array_to_string(w, ' ')]
                    ELSE list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
               END), s -> ${duckHash64("s")} & ${graft.operators.Dedup.MinhashP})) AS l
             FROM t),
      sc AS (SELECT id_a, id_b, len(ta.l) AS n_a, len(tb.l) AS n_b,
               len(list_intersect(ta.l, tb.l)) AS i
             FROM cand JOIN t3 ta ON cand.id_a = ta.doc_id
                       JOIN t3 tb ON cand.id_b = tb.doc_id)
      SELECT id_a, id_b, n_a, n_b,
             round(CAST(i AS DOUBLE) / n_a, 6) AS cont_a_in_b,
             round(CAST(i AS DOUBLE) / n_b, 6) AS cont_b_in_a
      FROM sc
      WHERE greatest(round(CAST(i AS DOUBLE) / n_a, 6),
                     round(CAST(i AS DOUBLE) / n_b, 6)) >= 0.5
      ORDER BY id_a, id_b"""))

  // --------------------------------------------------------------- q106

  /** q106 — balanced shard packing: distribute documents over 8
    * training shards so per-shard token totals are near-equal
    * (round-robin over the size-descending global rank — the greedy
    * bin-packing approximation). The global rank is the scale problem:
    * a naive unpartitioned window is one task. Decomposition: band
    * documents by quantized size (bands are value-ordered, so band
    * order + within-band order IS the global order), broadcast the
    * per-band running offsets (|bands| rows), and rank within bands
    * only — the q84 two-level prefix-sum shape applied to ranking.
    * The oracle computes the straightforward global window, proving
    * the decomposition exact.
    */
  val q106 = Q("q106_balanced_shards",
    (s, dir) => {
      val k = 8
      val toks = Tables.load(s, dir, "documents")
        .select(col("doc_id"), TA.tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("band", floor(col("n_tokens") / 16).cast("long"))
      val bandBase = toks.groupBy("band").agg(count(lit(1)).as("_bc"))
        .withColumn("base",
          coalesce(sum(col("_bc")).over(
            Window.orderBy(col("band").desc).rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select("band", "base")
      val wIn = Window.partitionBy("band")
        .orderBy(col("n_tokens").desc, col("doc_id").asc)
      toks.join(broadcast(bandBase), Seq("band"))
        .withColumn("_grank", col("base") + row_number().over(wIn))
        .withColumn("shard", pmod(col("_grank") - 1, lit(k.toLong)))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .orderBy("shard")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, CAST(len($duckTokens) AS BIGINT) AS n_tokens
                 FROM documents),
      r AS (SELECT doc_id, n_tokens,
              row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC) AS rn
            FROM t)
      SELECT (rn - 1) % 8 AS shard, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM r GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q119

  /** q119 — explicit GROUPING SETS: the two one-dimension marginals
    * plus the grand total in ONE aggregation pass — the subset a cube
    * (q96) can't express without computing the cross set too. Like the
    * cube, every set's partials combine map-side, so three reports
    * over 100 TB cost one shuffle instead of three scans.
    */
  val q119 = Q("q119_grouping_sets",
    (s, dir) => Tables.load(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        count(lit(1)).as("n"),
        round(ScalarFunctions.dsum(col("l_quantity")), 2).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("g_flag"), col("g_status"), col("n"), col("sum_qty"))
      .orderBy("returnflag", "linestatus"),
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
             CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
             count(*) AS n,
             round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY returnflag, linestatus"""))

  // --------------------------------------------------------------- q120

  /** q120 — snapshot reconciliation via FULL OUTER join: yesterday's
    * and today's order snapshots (deterministic modulo carve-outs of
    * the same table, with a price restatement on a slice) full-outer
    * join on the key and classify every key as added / removed /
    * changed / unchanged, with the restated amount. This is the CDC
    * derivation job — turning two warehouse snapshots into a change
    * feed — and the one join type the rest of the surface doesn't
    * exercise. One shuffle on the key; the classification is per-row
    * codegen over the null pattern; fixed-point cents make the delta
    * sum reduction-order independent.
    */
  val q120 = Q("q120_snapshot_diff",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val yesterday = o.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey").as("key"), col("o_totalprice").as("price_a"))
      val today = o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey").as("key"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")).as("price_b"))
      yesterday.join(today, Seq("key"), "full_outer")
        .select(
          when(col("price_a").isNull, "added")
            .when(col("price_b").isNull, "removed")
            .when(round(col("price_a") * 100).cast("long")
              =!= round(col("price_b") * 100).cast("long"), "changed")
            .otherwise("unchanged").as("change_type"),
          coalesce(round(col("price_b") * 100).cast("long"), lit(0L))
            .minus(coalesce(round(col("price_a") * 100).cast("long"), lit(0L)))
            .as("_delta_cents"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n_keys"),
          (sum("_delta_cents").cast("double") / 100.0).as("delta_total"))
        .orderBy("change_type")
    },
    Some("""
      WITH y AS (SELECT o_orderkey AS key, o_totalprice AS price_a
                 FROM orders WHERE o_orderkey % 3 <> 0),
      t AS (SELECT o_orderkey AS key,
              CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
                   ELSE o_totalprice END AS price_b
            FROM orders WHERE o_orderkey % 5 <> 0),
      d AS (SELECT CASE WHEN price_a IS NULL THEN 'added'
                        WHEN price_b IS NULL THEN 'removed'
                        WHEN CAST(round(price_a * 100) AS BIGINT)
                             <> CAST(round(price_b * 100) AS BIGINT) THEN 'changed'
                        ELSE 'unchanged' END AS change_type,
                   coalesce(CAST(round(price_b * 100) AS BIGINT), 0)
                     - coalesce(CAST(round(price_a * 100) AS BIGINT), 0) AS delta_cents
            FROM y FULL OUTER JOIN t USING (key))
      SELECT change_type, count(*) AS n_keys,
             CAST(sum(delta_cents) AS DOUBLE) / 100.0 AS delta_total
      FROM d GROUP BY change_type ORDER BY change_type"""))

  // --------------------------------------------------------------- q121

  /** q121 — null-safe equi-join: grouping keys where NULL is a real
    * category (suppressed/unknown region codes) join with <=> so NULL
    * meets NULL — the semantics a plain equi-join silently drops rows
    * under. Spark plans <=> as a hash join key like any other
    * (EqualNullSafe is a valid shuffle key), so the scale shape is
    * identical to the plain join.
    */
  val q121 = Q("q121_nullsafe_join",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("prio"),
          col("o_totalprice"))
      val rates = Tables.load(s, dir, "orders")
        .select(nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("prio"))
        .distinct()
        .withColumn("fee_rate",
          when(col("prio").isNull, 0.05).otherwise(0.02))
      o.join(broadcast(rates), o("prio") <=> rates("prio"))
        .groupBy(coalesce(o("prio"), lit("UNKNOWN")).as("priority"))
        .agg(count(lit(1)).as("n_orders"),
          round(min("fee_rate"), 2).as("fee_rate"),
          (sum(round(col("o_totalprice") * col("fee_rate") * 100).cast("long"))
            .cast("double") / 100.0).as("fee_total"))
        .orderBy("priority")
    },
    Some("""
      WITH o AS (SELECT nullif(o_orderpriority, '3-MEDIUM') AS prio, o_totalprice
                 FROM orders),
      r AS (SELECT prio,
              CAST(CASE WHEN prio IS NULL THEN 0.05 ELSE 0.02 END AS DOUBLE) AS fee_rate
            FROM (SELECT DISTINCT nullif(o_orderpriority, '3-MEDIUM') AS prio
                  FROM orders))
      SELECT coalesce(o.prio, 'UNKNOWN') AS priority,
             count(*) AS n_orders,
             round(min(fee_rate), 2) AS fee_rate,
             CAST(sum(CAST(round(o_totalprice * fee_rate * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS fee_total
      FROM o JOIN r ON o.prio IS NOT DISTINCT FROM r.prio
      GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q122

  /** q122 — declarative data-quality suite (the Deequ pattern): each
    * ingest gate is a rule — key uniqueness, referential integrity,
    * completeness, range — evaluated as an aggregate and emitted as
    * (rule, n_checked, n_violations, passed). A 100 TB deployment runs
    * this before publishing a partition; every rule here is one linear
    * scan or one shuffle:
    *  - uniqueness: one groupBy on the key (count − distinct);
    *  - referential: LEFT ANTI join, orphans only, same shape as the
    *    bloom-prunable semi-join (q92) when the parent side is huge;
    *  - completeness/range: map-side predicate counts that fuse into
    *    any same-table scan.
    */
  val q122 = Q("q122_dq_checks",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val l = Tables.load(s, dir, "lineitem")
      val uniq = o.agg(count(lit(1)).as("n_checked"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_violations"))
        .select(lit("orderkey_unique").as("rule"), col("n_checked"), col("n_violations"))
      val refI = l.join(o.select("o_orderkey"),
          l("l_orderkey") === o("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .crossJoin(broadcast(l.agg(count(lit(1)).as("n_checked"))))
        .select(lit("lineitem_fk_orders").as("rule"), col("n_checked"), col("n_violations"))
      val compl = o.agg(count(lit(1)).as("n_checked"),
          sum(when(col("o_orderpriority").isNull
            || col("o_orderpriority") === "", 1L).otherwise(0L)).as("n_violations"))
        .select(lit("priority_complete").as("rule"), col("n_checked"), col("n_violations"))
      val range = l.agg(count(lit(1)).as("n_checked"),
          sum(when(col("l_discount") < 0.0 || col("l_discount") > 1.0, 1L)
            .otherwise(0L)).as("n_violations"))
        .select(lit("discount_in_unit_range").as("rule"), col("n_checked"), col("n_violations"))
      uniq.unionByName(refI).unionByName(compl).unionByName(range)
        .withColumn("passed", col("n_violations") === 0L)
        .orderBy("rule")
    },
    Some("""
      WITH u AS (SELECT 'orderkey_unique' AS rule, count(*) AS n_checked,
                        count(*) - count(DISTINCT o_orderkey) AS n_violations
                 FROM orders),
      f AS (SELECT 'lineitem_fk_orders' AS rule,
                   (SELECT count(*) FROM lineitem) AS n_checked,
                   count(*) AS n_violations
            FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
      c AS (SELECT 'priority_complete' AS rule, count(*) AS n_checked,
                   sum(CASE WHEN o_orderpriority IS NULL OR o_orderpriority = ''
                            THEN 1 ELSE 0 END) AS n_violations
            FROM orders),
      r AS (SELECT 'discount_in_unit_range' AS rule, count(*) AS n_checked,
                   sum(CASE WHEN l_discount < 0.0 OR l_discount > 1.0
                            THEN 1 ELSE 0 END) AS n_violations
            FROM lineitem)
      SELECT rule, n_checked, CAST(n_violations AS BIGINT) AS n_violations,
             n_violations = 0 AS passed
      FROM (SELECT * FROM u UNION ALL SELECT * FROM f
            UNION ALL SELECT * FROM c UNION ALL SELECT * FROM r)
      ORDER BY rule"""))

  // --------------------------------------------------------------- q200

  /** q200 — rendezvous (highest-random-weight) shard assignment: doc d
    * lands on argmax_j hash('rdv|' || d || '|' || j). The property a
    * consistent-hash deployment buys: growing 8 → 9 shards moves a doc
    * IFF the new shard wins its hash race, so exactly the winners of
    * shard 8 move (≈1/9 of the corpus) and every mover goes TO the new
    * shard — no doc ever moves between two old shards, unlike
    * mod-N sharding where reshaping reshuffles everything. The query
    * computes both assignments and the per-doc movement flag; the spec
    * pins the all-movers-go-to-the-new-shard invariant.
    *
    * Scale: map-only — one hash per (doc, shard) evaluated in a
    * per-row transform, no shuffle, no coordination state; the
    * assignment is a pure function any executor (or any other engine)
    * recomputes identically, which is also what makes incremental
    * re-sharding auditable. Ties (60-bit hash equality) break to the
    * first max via array_position — mirrored exactly in the oracle.
    */
  val q200 = Q("q200_rendezvous",
    (s, dir) => {
      def weights(n: Int): Column = transform(sequence(lit(0), lit(n - 1)),
        j => Hashing.hash64(concat(lit("rdv|"), col("doc_id").cast("string"),
          lit("|"), j.cast("string"))))
      def shard(n: Int): Column = {
        val w = weights(n)
        (array_position(w, array_max(w)) - 1).cast("long")
      }
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          shard(8).as("shard8"),
          shard(9).as("shard9"))
        .withColumn("moved", col("shard8") =!= col("shard9"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH a AS (
        SELECT doc_id,
          list_transform(range(0, 8), j ->
            ${duckHash64("concat('rdv|', CAST(doc_id AS VARCHAR), '|', CAST(j AS VARCHAR))")}) AS w8,
          list_transform(range(0, 9), j ->
            ${duckHash64("concat('rdv|', CAST(doc_id AS VARCHAR), '|', CAST(j AS VARCHAR))")}) AS w9
        FROM documents),
      b AS (
        SELECT doc_id,
          CAST(list_position(w8, list_max(w8)) - 1 AS BIGINT) AS shard8,
          CAST(list_position(w9, list_max(w9)) - 1 AS BIGINT) AS shard9
        FROM a)
      SELECT doc_id, shard8, shard9, shard8 <> shard9 AS moved
      FROM b ORDER BY doc_id"""))

  // --------------------------------------------------------------- q225

  /** q225 — referential-integrity audit across the star schema: for
    * every foreign-key edge, the child row count, the orphan count
    * (children whose parent is missing), and the orphan rate — the
    * data-quality constraint check a lakehouse runs after every load,
    * since parquet enforces no FKs (the reference enforces PKs at
    * load, K4/D3; this is the cross-TABLE complement).
    *
    * Scale shape: each edge is one LEFT ANTI join on its key — the
    * parent side deduplicates to its key column first (column-pruned
    * scan), small parents broadcast, the big fact edges shuffle on
    * the join key exactly once. The per-edge results are 1-row
    * aggregates unioned into a ≤|edges| report. The orphan COUNT
    * being zero on clean data is itself the assertion: the spec
    * plants orphans to prove the detector fires.
    */
  val q225 = Q("q225_fk_audit",
    (s, dir) => {
      def edge(name: String, child: DataFrame, childKey: String,
               parent: DataFrame, parentKey: String): DataFrame = {
        val orphans = child.select(col(childKey).as("_k"))
          .join(parent.select(col(parentKey).as("_k")).distinct(), Seq("_k"), "left_anti")
        child.agg(count(lit(1)).as("n_child"))
          .crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_orphans"))))
          .select(lit(name).as("edge"), col("n_child"), col("n_orphans"),
            expr("(1000000 * n_orphans) div n_child").as("orphan_rate_micro"))
      }
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val su = Tables.load(s, dir, "supplier")
      val p = Tables.load(s, dir, "part")
      val na = Tables.load(s, dir, "nation")
      val re = Tables.load(s, dir, "region")
      Seq(
        edge("customer.nation->nation", c, "c_nationkey", na, "n_nationkey"),
        edge("lineitem.order->orders", li, "l_orderkey", o, "o_orderkey"),
        edge("lineitem.part->part", li, "l_partkey", p, "p_partkey"),
        edge("lineitem.supp->supplier", li, "l_suppkey", su, "s_suppkey"),
        edge("nation.region->region", na, "n_regionkey", re, "r_regionkey"),
        edge("orders.cust->customer", o, "o_custkey", c, "c_custkey"),
        edge("supplier.nation->nation", su, "s_nationkey", na, "n_nationkey"))
        .reduce(_ unionByName _)
        .orderBy("edge")
    },
    Some("""
      WITH e1 AS (SELECT 'customer.nation->nation' AS edge,
                    CAST(count(*) AS BIGINT) AS n_child,
                    CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
                  FROM customer LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
                    ON c_nationkey = n_nationkey),
      e2 AS (SELECT 'lineitem.order->orders' AS edge,
                    CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
               ON l_orderkey = o_orderkey),
      e3 AS (SELECT 'lineitem.part->part' AS edge,
                    CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             FROM lineitem LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
               ON l_partkey = p_partkey),
      e4 AS (SELECT 'lineitem.supp->supplier' AS edge,
                    CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             FROM lineitem LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
               ON l_suppkey = s_suppkey),
      e5 AS (SELECT 'nation.region->region' AS edge,
                    CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             FROM nation LEFT JOIN (SELECT DISTINCT r_regionkey FROM region) r
               ON n_regionkey = r_regionkey),
      e6 AS (SELECT 'orders.cust->customer' AS edge,
                    CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
               ON o_custkey = c_custkey),
      e7 AS (SELECT 'supplier.nation->nation' AS edge,
                    CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             FROM supplier LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
               ON s_nationkey = n_nationkey),
      u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3
            UNION ALL SELECT * FROM e4 UNION ALL SELECT * FROM e5
            UNION ALL SELECT * FROM e6 UNION ALL SELECT * FROM e7)
      SELECT edge, n_child, n_orphans,
             (1000000 * n_orphans) // n_child AS orphan_rate_micro
      FROM u ORDER BY edge"""))

  // --------------------------------------------------------------- q365

  /** q365 — self-join-size (F₂) estimation audit: the AMS/count-min
    * classic behind join cardinality estimation at planning time. The
    * exact self-join size on a key is the second frequency moment
    * F₂ = Σ_k c(k)² — at 100 TB even the per-key count relation is a
    * full shuffle, so planners estimate it from a MERGEABLE sketch:
    * a d×w count-min table per side, estimate = min over the d rows of
    * the row inner product Σ_w t[d][w]² (self-join ⇒ both sides share
    * one table). The estimator is ONE-SIDED (collision cross-terms
    * only ADD, never subtract), so estimate ≥ exact always — the
    * invariant the spec pins — and the audit reports the overestimate
    * the planner would carry at this (d=4, w=4096) configuration.
    *
    * Scale shape: the sketch is ONE map-side-combined groupBy into
    * ≤ d·w cells (mergeable across any partitioning — the property
    * that lets 1000 executors each sketch locally); the exact side is
    * the one per-key count shuffle the sketch exists to avoid, run
    * here precisely to measure the estimator against truth. Hashes are
    * the engine's affine md5-coefficient family, replayed verbatim by
    * the oracle; inner products accumulate in DECIMAL(38,0)/HUGEINT
    * (counts² overflow int64 at corpus scale).
    */
  val q365 = Q("q365_join_size_sketch",
    (s, dir) => {
      val coeffs = graft.operators.Dedup.minhashCoeffs(4)
      val keys = Tables.load(s, dir, "lineitem").select(col("l_partkey").as("k"))
      val cms = keys
        .select(explode(array(coeffs.zipWithIndex.map { case ((a, b), i) =>
          struct(lit(i).as("row"),
            pmod(lit(a) * col("k") + lit(b), lit(graft.operators.Dedup.MinhashP))
              .mod(4096).as("bucket"))
        }: _*)).as("rb"))
        .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val est = cms
        .groupBy("row")
        .agg(sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).as("ip"))
        .agg(min("ip").cast("decimal(38,0)").as("f2_estimate"))
      val exact = keys.groupBy("k").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_keys"), sum("c").as("n_rows"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("f2_exact"))
      exact.crossJoin(broadcast(est))
        .select(col("n_rows"), col("n_keys"),
          col("f2_exact").cast("long").as("f2_exact"),
          col("f2_estimate").cast("long").as("f2_estimate"),
          expr("""CAST(((f2_estimate - f2_exact) * 1000000)
                 | div f2_exact AS BIGINT)""".stripMargin)
            .as("overestimate_micro"))
    },
    Some {
      val coeffs = graft.operators.Dedup.minhashCoeffs(4)
      val bucketExprs = coeffs.zipWithIndex.map { case ((a, b), i) =>
        s"SELECT $i AS row, (($a * k + $b) % ${graft.operators.Dedup.MinhashP}) % 4096 AS bucket FROM keys"
      }.mkString("\n            UNION ALL ")
      s"""
      WITH keys AS (SELECT l_partkey AS k FROM lineitem),
      rb AS ($bucketExprs),
      cms AS (SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
              FROM rb GROUP BY 1, 2),
      est AS (SELECT min(ip) AS f2_estimate FROM (
                SELECT row, sum(CAST(cnt AS HUGEINT) * cnt) AS ip
                FROM cms GROUP BY row)),
      ex AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                    CAST(sum(c) AS BIGINT) AS n_rows,
                    sum(CAST(c AS HUGEINT) * c) AS f2_exact FROM (
               SELECT k, CAST(count(*) AS BIGINT) AS c FROM keys GROUP BY k))
      SELECT n_rows, n_keys,
             CAST(f2_exact AS BIGINT) AS f2_exact,
             CAST(f2_estimate AS BIGINT) AS f2_estimate,
             CAST(((f2_estimate - f2_exact) * 1000000) // f2_exact AS BIGINT)
               AS overestimate_micro
      FROM ex CROSS JOIN est"""
    })

  // --------------------------------------------------------------- q375

  /** q375 — HyperLogLog cardinality audit at PRODUCTION precision:
    * the m=4096 companion to q214's m=64 sketch. q214 proves the
    * estimator's exact gateability at a register count chosen for
    * oracle readability; a real fleet runs m ≥ 2¹² (standard error
    * 1.04/√m ≈ 1.63% vs m=64's 13%), and this audit certifies THAT
    * configuration — with the accuracy bound spec-pinned at 5σ and
    * split-sketch max-merge equivalence proven, the two properties a
    * planner relies on when it trusts a merged sketch from 1000
    * executors. Same exact-integer discipline as q214/q365. Per group
    * (l_returnflag), every key hashes to a 60-bit value (the affine
    * md5 family the oracle replays verbatim); the low 12 bits pick one
    * of m=4096 registers, the remaining 48 bits' leading-zero count +1
    * is ρ, and each register keeps max ρ — ONE map-side-combined
    * groupBy into ≤ 3·4096 cells, mergeable across any partitioning
    * (1000 executors sketch locally and union by max). The harmonic
    * sum Σ 2^−M_j is accumulated EXACTLY: each term is scaled to the
    * integer 2^(49−M_j) (ρ ≤ 49 ⇒ no fraction), absent registers
    * contribute 2⁴⁹ each, so `s_scaled` is order-independent and
    * engine-portable; only the final α·m²/S division (and the
    * small-range linear-counting branch m·ln(m/V), the q57-proven ln
    * recipe) happens in doubles, the same expression both sides (the
    * Spark side's literals D-suffixed, so they stay DOUBLE). The exact side is the per-key distinct shuffle the sketch
    * exists to avoid — run here precisely to measure the estimator.
    */
  val q375 = Q("q375_hll_audit",
    (s, dir) => {
      val reg = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"), col("l_orderkey").as("k"))
        .selectExpr("flag",
          "CAST(conv(substr(md5(CAST(k AS STRING)), 1, 15), 16, 10) AS BIGINT) AS h")
        .selectExpr("flag", "h % 4096 AS j", "h div 4096 AS w")
        .selectExpr("flag", "j",
          "CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END AS rho")
        .groupBy("flag", "j").agg(max("rho").as("m_j"))
      val agg = reg.groupBy("flag").agg(
        count(lit(1)).as("n_present"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - m_j AS INT))"))
          .as("s_present"))
      val exact = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("flag"))
        .agg(countDistinct("l_orderkey").as("n_exact"))
      exact.join(broadcast(agg), "flag")
        .selectExpr("flag", "n_exact",
          "CAST(4096 - n_present AS BIGINT) AS v_zero",
          "s_present + (4096 - n_present) * 562949953421312 AS s_scaled")
        .selectExpr("flag", "n_exact", "v_zero", "s_scaled",
          // D-suffixed: DOUBLE arithmetic, as the oracle evaluates the same
          // text (bare literals are DECIMAL in Spark, and DECIMAL division
          // rounds 1.079 / 4096.0 to 9 places)
          """round(0.7213D / (1.0D + 1.079D / 4096.0D) * 4096.0D * 4096.0D
            | * 562949953421312.0D / CAST(s_scaled AS DOUBLE), 4) AS est_raw"""
            .stripMargin)
        .selectExpr("flag", "n_exact", "v_zero", "s_scaled", "est_raw",
          """round(CASE WHEN est_raw <= 10240.0 AND v_zero > 0
            | THEN 4096.0 * ln(4096.0 / CAST(v_zero AS DOUBLE))
            | ELSE est_raw END, 4) AS est_hll""".stripMargin)
        .orderBy("flag")
    },
    Some("""
      WITH keys AS (SELECT l_returnflag AS flag, l_orderkey AS k FROM lineitem),
      h AS (SELECT flag,
              CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM keys),
      r AS (SELECT flag, h % 4096 AS j, h // 4096 AS w FROM h),
      reg AS (SELECT flag, j,
                max(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS m_j
              FROM r GROUP BY 1, 2),
      agg AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_present,
                     sum(CAST(1 AS BIGINT) << CAST(49 - m_j AS INT)) AS s_present
              FROM reg GROUP BY 1),
      ex AS (SELECT flag, CAST(count(DISTINCT k) AS BIGINT) AS n_exact
             FROM keys GROUP BY 1),
      j1 AS (SELECT ex.flag, n_exact,
                    CAST(4096 - n_present AS BIGINT) AS v_zero,
                    CAST(s_present + (4096 - n_present) * 562949953421312 AS BIGINT)
                      AS s_scaled
             FROM ex JOIN agg ON ex.flag = agg.flag),
      j2 AS (SELECT *,
                    round(0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
                      * 562949953421312.0 / CAST(s_scaled AS DOUBLE), 4) AS est_raw
             FROM j1)
      SELECT flag, n_exact, v_zero, s_scaled, est_raw,
             round(CASE WHEN est_raw <= 10240.0 AND v_zero > 0
                   THEN 4096.0 * ln(4096.0 / CAST(v_zero AS DOUBLE))
                   ELSE est_raw END, 4) AS est_hll
      FROM j2 ORDER BY flag"""))

  val all: Seq[Q] = Seq(q92, q93, q94, q95, q96, q97, q98, q99, q100,
    q101, q102, q103, q104, q105, q106, q119, q120, q121, q122, q200, q225,
    q365, q375)
}
