package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.queries.Q.duckHash64

/** Round-8 batch 2 — applied analytics over the star schema: graph
  * locality (per-node clustering, partition modularity), customer
  * value (RFM, cohort LTV), ordinal dynamics (permutation entropy),
  * storage-layout simulation (zone-map pruning), distribution
  * matching (quota resampling), and ranking evaluation (MRR/NDCG).
  *
  * Scale discipline is inherited from the earlier batches: graphs go
  * through the q163 degree-oriented compact-forward shape (O(√m)
  * neighborhoods under any hub skew), quantile boundaries are
  * broadcast — rows are never globally ranked — and every multi-row
  * reduction is integer/DECIMAL-exact with one final double formula.
  */
object AnalyticsQueries {

  private val duckTokens = "string_split_regex(trim(text), '\\s+')"

  // --------------------------------------------------------------- q245

  /** q245 — per-node local clustering coefficient on the co-purchase
    * graph (q163's edge set: parts sharing ≥2 orders):
    * cc(v) = 2·t(v)/(d(v)·(d(v)−1)) — the node-level "how clique-like
    * is my neighborhood" signal behind community seeding and spam/bot
    * detection, where q163 only reports the global ratio.
    *
    * Triangles are enumerated once at their minimum-(degree, id) apex
    * via the same compact-forward orientation (per-task work stays
    * O(√m) under hub skew); each closed wedge then credits ALL THREE
    * corners through a 3-way explode, so t(v) needs no per-node
    * re-enumeration.
    */
  val q245 = Q("q245_local_clustering",
    (s, dir) => {
      val items = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val pairs = items.groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_partkey"))).as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(explode(call_function("graft_pairs_long", col("ids"))).as("p"))
        .groupBy(col("p.a").as("pa"), col("p.b").as("pb"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
        .select("pa", "pb")
        .localCheckpoint(false) // consumers: degrees, orientation, wedge closing
      val deg = pairs.select(explode(array(col("pa"), col("pb"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .localCheckpoint(false)
      val oriented = pairs
        .join(deg.select(col("v").as("pa"), col("d").as("da")), "pa")
        .join(deg.select(col("v").as("pb"), col("d").as("db")), "pb")
        .select(
          when(struct(col("da"), col("pa")) < struct(col("db"), col("pb")), col("pa"))
            .otherwise(col("pb")).as("u"),
          when(struct(col("da"), col("pa")) < struct(col("db"), col("pb")), col("pb"))
            .otherwise(col("pa")).as("w"))
      val wedges = oriented.groupBy("u")
        .agg(sort_array(collect_list(col("w"))).as("ids"))
        .filter(size(col("ids")) >= 2)
        // compiled pair kernel; explode keeps the u carry column
        .select(col("u"),
          explode(call_function("graft_pairs_long", col("ids"))).as("p"))
        .select(col("u"), col("p.a").as("pa"), col("p.b").as("pb"))
      val triNodes = wedges.join(pairs, Seq("pa", "pb"))
        .select(explode(array(col("u"), col("pa"), col("pb"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("t"))
      deg.filter(col("d") >= 2)
        .join(triNodes, Seq("v"), "left")
        .select(col("v"), col("d"),
          coalesce(col("t"), lit(0L)).as("n_tri"),
          round(lit(2.0) * coalesce(col("t"), lit(0L))
            / (col("d") * (col("d") - 1)), 6).as("local_cc"))
        .orderBy("v")
    },
    Some("""
      WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      p0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS cnt
             FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
                              AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2),
      e AS (SELECT pa, pb FROM p0 WHERE cnt >= 2),
      deg AS (SELECT v, count(*) AS d
              FROM (SELECT pa AS v FROM e UNION ALL SELECT pb AS v FROM e)
              GROUP BY v),
      tri AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
              FROM e e1 JOIN e e2 ON e1.pb = e2.pa
                        JOIN e e3 ON e1.pa = e3.pa AND e2.pb = e3.pb),
      tn AS (SELECT v, CAST(count(*) AS BIGINT) AS t
             FROM (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
                   UNION ALL SELECT c FROM tri)
             GROUP BY v)
      SELECT deg.v, CAST(deg.d AS BIGINT) AS d,
             coalesce(tn.t, 0) AS n_tri,
             round(2.0 * coalesce(tn.t, 0) / (deg.d * (deg.d - 1)), 6) AS local_cc
      FROM deg LEFT JOIN tn ON deg.v = tn.v
      WHERE deg.d >= 2 ORDER BY deg.v"""))

  // --------------------------------------------------------------- q246

  /** q246 — modularity of the brand partition on the co-purchase
    * graph: per community c, Q_c = e_c/m − (deg_c/2m)² — how much
    * denser each brand's internal wiring is than a degree-preserving
    * random rewiring. The objective Louvain greedily climbs, here
    * evaluated for a GIVEN labeling (the audit you run on any
    * clustering output); Σ Q_c is the graph's modularity.
    *
    * Everything reduces to three integers per community (intra-edge
    * count, degree mass, node count) via two broadcast lookups of the
    * 1-row part→brand dim — no pairwise work beyond q163's bounded
    * edge list.
    */
  val q246 = Q("q246_modularity",
    (s, dir) => {
      val items = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val pairs = items.groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_partkey"))).as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(explode(call_function("graft_pairs_long", col("ids"))).as("p"))
        .groupBy(col("p.a").as("pa"), col("p.b").as("pb"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
        .select("pa", "pb")
        .localCheckpoint(false) // consumers: intra-count, degree mass, m
      val brand = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))
      val lab = pairs
        .join(broadcast(brand.select(col("p_partkey").as("pa"), col("p_brand").as("ba"))), "pa")
        .join(broadcast(brand.select(col("p_partkey").as("pb"), col("p_brand").as("bb"))), "pb")
      val m = pairs.groupBy().agg(count(lit(1)).as("m"))
      val intra = lab.filter(col("ba") === col("bb"))
        .groupBy(col("ba").as("community")).agg(count(lit(1)).as("e_in"))
      val degMass = lab
        .select(explode(array(col("ba"), col("bb"))).as("community"))
        .groupBy("community").agg(count(lit(1)).as("deg_mass"))
      degMass.join(intra, Seq("community"), "left")
        .crossJoin(broadcast(m))
        .select(col("community"),
          coalesce(col("e_in"), lit(0L)).as("e_in"), col("deg_mass"),
          round(coalesce(col("e_in"), lit(0L)).cast("double") / col("m").cast("double")
            - (col("deg_mass").cast("double") / (lit(2.0) * col("m").cast("double")))
              * (col("deg_mass").cast("double") / (lit(2.0) * col("m").cast("double"))), 6)
            .as("q_contrib"))
        .orderBy("community")
    },
    Some("""
      WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      p0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS cnt
             FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
                              AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2),
      e AS (SELECT pa, pb FROM p0 WHERE cnt >= 2),
      lab AS (SELECT ba.p_brand AS ba, bb.p_brand AS bb
              FROM e JOIN part ba ON e.pa = ba.p_partkey
                     JOIN part bb ON e.pb = bb.p_partkey),
      m AS (SELECT count(*) AS m FROM e),
      intra AS (SELECT ba AS community, CAST(count(*) AS BIGINT) AS e_in
                FROM lab WHERE ba = bb GROUP BY 1),
      dm AS (SELECT community, CAST(count(*) AS BIGINT) AS deg_mass
             FROM (SELECT ba AS community FROM lab
                   UNION ALL SELECT bb FROM lab)
             GROUP BY 1)
      SELECT dm.community, coalesce(intra.e_in, 0) AS e_in, dm.deg_mass,
             round(CAST(coalesce(intra.e_in, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
               - (CAST(dm.deg_mass AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
                 * (CAST(dm.deg_mass AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))), 6)
               AS q_contrib
      FROM dm LEFT JOIN intra ON dm.community = intra.community, m
      ORDER BY dm.community"""))

  // --------------------------------------------------------------- q247

  /** q247 — RFM segmentation: every customer scored 1–5 on Recency
    * (days since last order), Frequency (order count) and Monetary
    * (lifetime cents), output as the 125-cell segment census — the
    * workhorse customer-value partitioning behind retention targeting.
    *
    * Scores come from quintile boundaries computed on the bounded
    * distinct-value grids (recency ≤ |days|, frequency ≤ |max count|,
    * monetary binned to $100) and broadcast as one 4-value row per
    * dimension — customers are never globally ranked (the ntile
    * anti-pattern q109 exists to avoid). Boundary convention: b_k =
    * min v with 5·cum ≥ k·n; score = 1 + #{boundaries strictly
    * below v} on both engines.
    */
  val q247 = Q("q247_rfm_segments",
    (s, dir) => {
      val mx = Tables.load(s, dir, "orders")
        .agg(max(col("o_orderdate").cast("long")).as("mxsec"))
      val cust = Tables.load(s, dir, "orders")
        .crossJoin(broadcast(mx))
        .groupBy("o_custkey")
        .agg(min(expr("(mxsec - CAST(o_orderdate AS LONG)) div 86400")).as("rec"),
          count(lit(1)).as("freq"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("mon"))
        .withColumn("monb", expr("mon div 10000"))
      def bounds(c: String): org.apache.spark.sql.DataFrame = {
        val w = Window.orderBy(c).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cust.groupBy(c).agg(count(lit(1)).as("_c"))
          .withColumn("_cum", sum("_c").over(w))
          .withColumn("_n", sum("_c").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .groupBy()
          .agg(min(when(col("_cum") * 5 >= col("_n"), col(c))).as(s"${c}_b1"),
            min(when(col("_cum") * 5 >= col("_n") * 2, col(c))).as(s"${c}_b2"),
            min(when(col("_cum") * 5 >= col("_n") * 3, col(c))).as(s"${c}_b3"),
            min(when(col("_cum") * 5 >= col("_n") * 4, col(c))).as(s"${c}_b4"))
      }
      def score(c: String) =
        lit(1) + when(col(c) > col(s"${c}_b1"), 1).otherwise(0) +
          when(col(c) > col(s"${c}_b2"), 1).otherwise(0) +
          when(col(c) > col(s"${c}_b3"), 1).otherwise(0) +
          when(col(c) > col(s"${c}_b4"), 1).otherwise(0)
      cust
        .crossJoin(broadcast(bounds("rec")))
        .crossJoin(broadcast(bounds("freq")))
        .crossJoin(broadcast(bounds("monb")))
        // recency: smaller = better, so invert the quintile to 6-s
        .select((lit(6) - score("rec")).as("r_score"),
          score("freq").as("f_score"), score("monb").as("m_score"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    },
    Some("""
      WITH mx AS (SELECT max(epoch_us(o_orderdate) // 1000000) AS mxsec FROM orders),
      cust AS (SELECT o_custkey,
                      min((mx.mxsec - epoch_us(o_orderdate) // 1000000) // 86400) AS rec,
                      CAST(count(*) AS BIGINT) AS freq,
                      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mon
               FROM orders, mx GROUP BY o_custkey, mx.mxsec),
      c2 AS (SELECT *, mon // 10000 AS monb FROM cust),
      rb AS (SELECT min(CASE WHEN cum * 5 >= n THEN v END) AS b1,
                    min(CASE WHEN cum * 5 >= n * 2 THEN v END) AS b2,
                    min(CASE WHEN cum * 5 >= n * 3 THEN v END) AS b3,
                    min(CASE WHEN cum * 5 >= n * 4 THEN v END) AS b4
             FROM (SELECT v, sum(c) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     sum(c) OVER () AS n
                   FROM (SELECT rec AS v, count(*) AS c FROM c2 GROUP BY 1))),
      fb AS (SELECT min(CASE WHEN cum * 5 >= n THEN v END) AS b1,
                    min(CASE WHEN cum * 5 >= n * 2 THEN v END) AS b2,
                    min(CASE WHEN cum * 5 >= n * 3 THEN v END) AS b3,
                    min(CASE WHEN cum * 5 >= n * 4 THEN v END) AS b4
             FROM (SELECT v, sum(c) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     sum(c) OVER () AS n
                   FROM (SELECT freq AS v, count(*) AS c FROM c2 GROUP BY 1))),
      mb AS (SELECT min(CASE WHEN cum * 5 >= n THEN v END) AS b1,
                    min(CASE WHEN cum * 5 >= n * 2 THEN v END) AS b2,
                    min(CASE WHEN cum * 5 >= n * 3 THEN v END) AS b3,
                    min(CASE WHEN cum * 5 >= n * 4 THEN v END) AS b4
             FROM (SELECT v, sum(c) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     sum(c) OVER () AS n
                   FROM (SELECT monb AS v, count(*) AS c FROM c2 GROUP BY 1)))
      SELECT 6 - (1 + (rec > rb.b1)::INT + (rec > rb.b2)::INT
                    + (rec > rb.b3)::INT + (rec > rb.b4)::INT) AS r_score,
             1 + (freq > fb.b1)::INT + (freq > fb.b2)::INT
               + (freq > fb.b3)::INT + (freq > fb.b4)::INT AS f_score,
             1 + (monb > mb.b1)::INT + (monb > mb.b2)::INT
               + (monb > mb.b3)::INT + (monb > mb.b4)::INT AS m_score,
             count(*) AS n_customers
      FROM c2, rb, fb, mb
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  // --------------------------------------------------------------- q248

  /** q248 — cohort LTV curves: customers grouped by first-order month,
    * cumulative revenue per cohort member as the cohort ages — the
    * payback-period readout (q90's retention counts, upgraded to
    * value). One grouped pass for cohorts, one for the
    * (cohort, age)-cell revenue grid, then a cumulative window
    * PARTITIONED BY COHORT over ≤|months| cells.
    */
  val q248 = Q("q248_cohort_ltv",
    (s, dir) => {
      val ords = Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1).as("m"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("ct"))
      val cohort = ords.groupBy("o_custkey").agg(min("m").as("cm"))
      val csize = cohort.groupBy("cm").agg(count(lit(1)).as("n_customers"))
      val grid = ords.join(cohort, "o_custkey")
        .groupBy(col("cm"), (col("m") - col("cm")).as("age"))
        .agg(sum("ct").as("rev"))
      val wc = Window.partitionBy("cm").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // per-customer LTV in integer MICROcents via floor division — a
      // round(x, 6) here lands on half-decimal coin flips (row 79 at
      // sf0.1 flipped between engines; DESIGN.md float catalog)
      grid
        .withColumn("cum", sum("rev").over(wc))
        .join(broadcast(csize), "cm")
        .select(col("cm").as("cohort_month"), col("age"), col("n_customers"),
          col("cum").as("cum_cents"),
          expr("(cum * 1000000) div n_customers").as("ltv_microcents_per_cust"))
        .orderBy("cohort_month", "age")
    },
    Some("""
      WITH o AS (SELECT o_custkey,
                        (CAST(year(o_orderdate) AS BIGINT) - 1995) * 12
                          + CAST(month(o_orderdate) AS BIGINT) - 1 AS m,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS ct
                 FROM orders),
      cohort AS (SELECT o_custkey, min(m) AS cm FROM o GROUP BY 1),
      csize AS (SELECT cm, count(*) AS n_customers FROM cohort GROUP BY 1),
      grid AS (SELECT c.cm, o.m - c.cm AS age, CAST(sum(o.ct) AS BIGINT) AS rev
               FROM o JOIN cohort c ON o.o_custkey = c.o_custkey
               GROUP BY 1, 2),
      cum AS (SELECT cm, age,
                     CAST(sum(rev) OVER (PARTITION BY cm ORDER BY age
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
              FROM grid)
      SELECT cum.cm AS cohort_month, cum.age, csize.n_customers,
             cum.cum AS cum_cents,
             CAST((cum.cum * 1000000) // csize.n_customers AS BIGINT)
               AS ltv_microcents_per_cust
      FROM cum JOIN csize ON cum.cm = csize.cm
      ORDER BY cohort_month, age"""))

  // --------------------------------------------------------------- q249

  /** q249 — permutation entropy of the per-user event-value series:
    * consecutive value triples reduce to one of 8 ordinal patterns
    * (the three pairwise comparisons), and the Shannon entropy of the
    * pattern distribution measures how far the dynamics are from
    * deterministic (low H: trending/periodic; high H: noise) —
    * Bandt-Pompe complexity, computable without ever materializing
    * the series on one machine.
    *
    * Triples come from two leads inside each user's partition
    * (windows never global); the entropy follows q107's exact
    * fixed-point ln recipe over the ≤8 pattern counts.
    */
  val q249 = Q("q249_permutation_entropy",
    (s, dir) => {
      val wu = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val pat = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("v2", lead("value", 1).over(wu))
        .withColumn("v3", lead("value", 2).over(wu))
        .filter(col("v2").isNotNull && col("v3").isNotNull)
        .select((when(col("value") < col("v2"), 4).otherwise(0)
          + when(col("v2") < col("v3"), 2).otherwise(0)
          + when(col("value") < col("v3"), 1).otherwise(0)).as("pattern"))
      val cnt = pat.groupBy("pattern").agg(count(lit(1)).as("c"))
      cnt.groupBy()
        .agg(sum("c").as("n_triples"), count(lit(1)).as("n_patterns"),
          sum(expr("CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) * c")).as("_s"))
        .select(col("n_triples"), col("n_patterns"),
          round(log(col("n_triples").cast("double"))
            - col("_s").cast("double") / col("n_triples") / 1e6, 6)
            .as("perm_entropy_nats"))
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, value,
                        epoch_us(ts) AS us FROM events),
      t AS (SELECT value AS v1,
                   lead(value, 1) OVER w AS v2,
                   lead(value, 2) OVER w AS v3
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)),
      p AS (SELECT (v1 < v2)::INT * 4 + (v2 < v3)::INT * 2 + (v1 < v3)::INT AS pattern
            FROM t WHERE v2 IS NOT NULL AND v3 IS NOT NULL),
      c AS (SELECT pattern, count(*) AS c FROM p GROUP BY 1)
      SELECT CAST(sum(c) AS BIGINT) AS n_triples,
             count(*) AS n_patterns,
             round(ln(CAST(sum(c) AS DOUBLE))
               - CAST(sum(CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) * c)
                      AS DOUBLE) / sum(c) / 1e6, 6) AS perm_entropy_nats
      FROM c"""))

  // --------------------------------------------------------------- q250

  /** q250 — zone-map pruning simulator: lineitem laid out as files of
    * contiguous order ranges, each carrying (min,max) zone maps on
    * ship-date and price; for a predicate workload, how many files
    * and rows would a min/max-pruning scan actually touch? The
    * decision tool for layout choices (this is exactly the statistic
    * the q103 z-order writer improves), computed from metadata-sized
    * aggregates: |files| zone rows × |predicates| literals.
    */
  val q250 = Q("q250_zonemap_prune",
    (s, dir) => {
      import s.implicits._
      // (pid, kind, lo, hi): epoch-seconds ranges for ship-date
      // predicates, cents ranges for price predicates
      val preds = Seq(
        (1, "date", 820454400L, 852076799L),   // 1996
        (2, "date", 852076800L, 883612799L),   // 1997
        (3, "date", 883612800L, 915148799L),   // 1998
        (4, "date", 946684800L, 978307199L),   // 2000
        (5, "price", 0L, 1000000L),            // ≤ $10k
        (6, "price", 5000000L, 7000000L),      // $50k–$70k
        (7, "price", 9000000L, 10500000L),     // $90k–$105k
        (8, "price", 10000000L, Long.MaxValue) // ≥ $100k
      ).toDF("pid", "kind", "lo", "hi")
      val files = Tables.load(s, dir, "lineitem")
        .groupBy(expr("l_orderkey div 1000").as("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_shipdate").cast("long")).as("dmin"),
          max(col("l_shipdate").cast("long")).as("dmax"),
          min(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("pmin"),
          max(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("pmax"))
      files.crossJoin(broadcast(preds))
        .withColumn("hit",
          when(col("kind") === "date",
            (col("dmax") >= col("lo")) && (col("dmin") <= col("hi")))
            .otherwise((col("pmax") >= col("lo")) && (col("pmin") <= col("hi"))))
        .groupBy("pid", "kind")
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_scanned"),
          sum(when(col("hit"), col("n_rows")).otherwise(0L)).as("rows_scanned"),
          round(lit(1.0) - sum(when(col("hit"), 1L).otherwise(0L)).cast("double")
            / count(lit(1)).cast("double"), 6).as("prune_frac"))
        .orderBy("pid")
    },
    Some("""
      WITH preds(pid, kind, lo, hi) AS (VALUES
        (1, 'date', 820454400, 852076799),
        (2, 'date', 852076800, 883612799),
        (3, 'date', 883612800, 915148799),
        (4, 'date', 946684800, 978307199),
        (5, 'price', 0, 1000000),
        (6, 'price', 5000000, 7000000),
        (7, 'price', 9000000, 10500000),
        (8, 'price', 10000000, 9223372036854775807)),
      files AS (SELECT l_orderkey // 1000 AS file_id,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       min(epoch_us(l_shipdate) // 1000000) AS dmin,
                       max(epoch_us(l_shipdate) // 1000000) AS dmax,
                       min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS pmin,
                       max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS pmax
                FROM lineitem GROUP BY 1),
      hits AS (SELECT pid, kind, n_rows,
                      CASE WHEN kind = 'date'
                           THEN dmax >= lo AND dmin <= hi
                           ELSE pmax >= lo AND pmin <= hi END AS hit
               FROM files, preds)
      SELECT pid, kind,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
             CAST(sum(CASE WHEN hit THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
             round(1.0 - CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6) AS prune_frac
      FROM hits GROUP BY pid, kind ORDER BY pid"""))

  // --------------------------------------------------------------- q251

  /** q251 — distribution-matched resampling: reshape src1's length
    * distribution to match src0's by per-bin quotas — the
    * deterministic core of importance resampling for domain mixing
    * (keep counts ∝ target mass, capped by availability, selection by
    * stable in-bin rank — no RNG, so the sample is reproducible
    * across engines and runs).
    *
    * quota_b = round-half-up(S·t_b/T) in pure integer arithmetic
    * ((2·S·t_b + T) div 2T), capped at s_b; kept docs are the first
    * quota_b by doc_id within the bin — selected in two phases so the
    * rank filter group-limit-pushes (the q64 discipline): a LITERAL
    * `max(quota)` cap directly over the window lets WindowGroupLimit
    * prune per map task BEFORE the bin shuffle, then the exact
    * per-bin quota applies against the broadcast map.
    */
  val q251 = Q("q251_dist_match_sample",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val tgt = docs.filter(col("source") === "src0")
        .groupBy(expr("n_chars div 50").as("bin")).agg(count(lit(1)).as("t"))
      val srcAll = docs.filter(col("source") === "src1")
        .select(col("doc_id"), expr("n_chars div 50").as("bin"))
      val src = srcAll.groupBy("bin").agg(count(lit(1)).as("s_count"))
      val tots = tgt.groupBy().agg(sum("t").as("tt"))
        .crossJoin(broadcast(src.groupBy().agg(sum("s_count").as("ss"))))
      val quota = src.join(tgt, Seq("bin"), "left")
        .crossJoin(broadcast(tots))
        .select(col("bin"), col("s_count"),
          coalesce(col("t"), lit(0L)).as("t_count"),
          least(col("s_count"),
            expr("(2 * ss * coalesce(t, 0) + tt) div (2 * tt)")).as("quota"))
        .localCheckpoint(false) // tiny (bounded by bin count); read thrice
      val capRow = quota.agg(coalesce(max("quota"), lit(0L)).as("m")).collect()(0)
      val cap = math.min(capRow.getLong(0), Int.MaxValue.toLong).toInt
      val wb = Window.partitionBy("bin").orderBy("doc_id")
      val kept = srcAll.withColumn("_rn", row_number().over(wb))
        .filter(col("_rn") <= lit(cap)) // literal -> WindowGroupLimit
        .join(broadcast(quota.select(col("bin"), col("quota"))), "bin")
        .filter(col("_rn") <= col("quota"))
        .groupBy("bin").agg(count(lit(1)).as("n_kept"))
      quota.join(kept, Seq("bin"), "left")
        .select(col("bin"), col("t_count"), col("s_count"), col("quota"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("bin")
    },
    Some("""
      WITH tgt AS (SELECT n_chars // 50 AS bin, CAST(count(*) AS BIGINT) AS t
                   FROM documents WHERE source = 'src0' GROUP BY 1),
      srcall AS (SELECT doc_id, n_chars // 50 AS bin
                 FROM documents WHERE source = 'src1'),
      src AS (SELECT bin, CAST(count(*) AS BIGINT) AS s_count
              FROM srcall GROUP BY 1),
      tots AS (SELECT (SELECT sum(t) FROM tgt) AS tt,
                      (SELECT sum(s_count) FROM src) AS ss),
      quota AS (SELECT src.bin, src.s_count,
                       coalesce(tgt.t, 0) AS t_count,
                       least(src.s_count,
                             (2 * tots.ss * coalesce(tgt.t, 0) + tots.tt)
                               // (2 * tots.tt)) AS quota
                FROM src LEFT JOIN tgt ON src.bin = tgt.bin, tots),
      kept AS (SELECT r.bin, CAST(count(*) AS BIGINT) AS n_kept
               FROM (SELECT bin, row_number() OVER
                       (PARTITION BY bin ORDER BY doc_id) AS rn
                     FROM srcall) r
               JOIN quota q ON r.bin = q.bin
               WHERE r.rn <= q.quota GROUP BY 1)
      SELECT q.bin, q.t_count, q.s_count, CAST(q.quota AS BIGINT) AS quota,
             coalesce(k.n_kept, 0) AS n_kept
      FROM quota q LEFT JOIN kept k ON q.bin = k.bin
      ORDER BY q.bin"""))

  // --------------------------------------------------------------- q252

  /** q252 — retrieval evaluation (MRR + DCG/NDCG@10): every 100th
    * document is a query; candidates are ranked by distinct-token
    * overlap (document-frequency-pruned — tokens in >20% of docs are
    * dropped BEFORE the join, bounding hot-token fan-out); a result
    * is relevant iff it shares the query's source. The eval loop
    * every retrieval/RAG stack runs, with the classic
    * position-discounted gain.
    *
    * The log2 discounts are spelled as ten integer-micro literals
    * shared by both engines (no runtime transcendentals), so
    * DCG/IDCG sums are exact longs; NDCG and MRR are one final double
    * each. Top-10 selection is a window PARTITIONED BY QUERY with a
    * total (overlap desc, doc) order.
    */
  val q252 = Q("q252_retrieval_metrics",
    (s, dir) => {
      import s.implicits._
      val disc = Seq((1, 1000000L), (2, 630930L), (3, 500000L), (4, 430677L),
        (5, 386853L), (6, 356207L), (7, 333333L), (8, 315465L),
        (9, 301030L), (10, 289065L)).toDF("rnk", "disc_u")
      val cumdisc = Seq((1, 1000000L), (2, 1630930L), (3, 2130930L),
        (4, 2561607L), (5, 2948460L), (6, 3304667L), (7, 3638000L),
        (8, 3953465L), (9, 4254495L), (10, 4543560L)).toDF("upto", "idcg_u")
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .localCheckpoint(false) // tokens + qrels + query set share it
      // corpus size enters as a broadcast 1-row relation, not an eager
      // driver count at plan construction
      val ndocs = docs.groupBy().agg(count(lit(1)).as("_nd"))
      val tok0 = docs.select(col("doc_id"), col("source"),
          explode(call_function("graft_shingle_hash_list", col("text"), lit(1))).as("h"))
        .distinct()
      val df = tok0.groupBy("h").agg(count(lit(1)).as("df"))
      val tok = tok0.join(broadcast(df.crossJoin(broadcast(ndocs))
          .filter(col("df") * 5 > col("_nd"))
          .select(col("h"), lit(1).as("_drop"))), Seq("h"), "left")
        .filter(col("_drop").isNull)
        .select(col("doc_id"), col("source"), col("h"))
      val qtok = tok.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"), col("source").as("qsrc"), col("h"))
      val overlap = qtok.join(tok.select(col("doc_id").as("did"),
          col("source").as("dsrc"), col("h")), "h")
        .filter(col("qid") =!= col("did"))
        .groupBy("qid", "qsrc", "did", "dsrc")
        .agg(count(lit(1)).as("ov"))
      val wq = Window.partitionBy("qid").orderBy(desc("ov"), col("did"))
      val top = overlap.withColumn("rnk", row_number().over(wq))
        .filter(col("rnk") <= 10)
        .withColumn("rel", when(col("qsrc") === col("dsrc"), 1L).otherwise(0L))
      val perq = top.join(broadcast(disc), "rnk")
        .groupBy("qid")
        .agg(sum(col("rel") * col("disc_u")).as("dcg_u"),
          min(when(col("rel") === 1, col("rnk"))).as("first_rel"))
      val nrel = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"), col("source").as("qsrc"))
        .join(docs.groupBy(col("source").as("qsrc")).agg(count(lit(1)).as("nsrc")), "qsrc")
        .select(col("qid"), (col("nsrc") - 1).as("n_rel"))
      nrel.join(perq, Seq("qid"), "left")
        .withColumn("upto", least(col("n_rel"), lit(10L)).cast("int"))
        .join(broadcast(cumdisc), Seq("upto"), "left")
        .select(col("qid"), col("n_rel"),
          round(coalesce(col("dcg_u"), lit(0L)).cast("double") / 1e6, 6).as("dcg10"),
          when(col("n_rel") === 0, lit(null))
            .otherwise(round(coalesce(col("dcg_u"), lit(0L)).cast("double")
              / col("idcg_u").cast("double"), 6)).as("ndcg10"),
          round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6).as("mrr"))
        .orderBy("qid")
    },
    Some(s"""
      WITH disc(rnk, disc_u) AS (VALUES
        (1, 1000000), (2, 630930), (3, 500000), (4, 430677), (5, 386853),
        (6, 356207), (7, 333333), (8, 315465), (9, 301030), (10, 289065)),
      cumdisc(upto, idcg_u) AS (VALUES
        (1, 1000000), (2, 1630930), (3, 2130930), (4, 2561607), (5, 2948460),
        (6, 3304667), (7, 3638000), (8, 3953465), (9, 4254495), (10, 4543560)),
      d0 AS (SELECT doc_id, source, $duckTokens AS w FROM documents),
      nd AS (SELECT count(*) AS n FROM d0),
      tok0 AS (SELECT DISTINCT doc_id, source,
                 unnest(list_transform(range(1, len(w)+1),
                   i -> ${duckHash64("w[i]")} & ${graft.operators.Dedup.MinhashP})) AS h
               FROM d0),
      dfreq AS (SELECT h, count(*) AS df FROM tok0 GROUP BY 1),
      tok AS (SELECT t.doc_id, t.source, t.h
              FROM tok0 t JOIN dfreq f ON t.h = f.h, nd
              WHERE f.df * 5 <= nd.n),
      qtok AS (SELECT doc_id AS qid, source AS qsrc, h FROM tok
               WHERE doc_id % 100 = 0),
      ov AS (SELECT q.qid, q.qsrc, t.doc_id AS did, t.source AS dsrc,
                    CAST(count(*) AS BIGINT) AS ov
             FROM qtok q JOIN tok t ON q.h = t.h AND q.qid <> t.doc_id
             GROUP BY 1, 2, 3, 4),
      top AS (SELECT *, row_number() OVER
                (PARTITION BY qid ORDER BY ov DESC, did ASC) AS rnk
              FROM ov),
      t10 AS (SELECT qid, rnk,
                     CASE WHEN qsrc = dsrc THEN 1 ELSE 0 END AS rel
              FROM top WHERE rnk <= 10),
      perq AS (SELECT qid,
                      CAST(sum(rel * disc_u) AS BIGINT) AS dcg_u,
                      min(CASE WHEN rel = 1 THEN t10.rnk END) AS first_rel
               FROM t10 JOIN disc ON t10.rnk = disc.rnk GROUP BY qid),
      nrel AS (SELECT q.doc_id AS qid, CAST(s.c - 1 AS BIGINT) AS n_rel
               FROM documents q
               JOIN (SELECT source, count(*) AS c FROM documents GROUP BY 1) s
                 ON q.source = s.source
               WHERE q.doc_id % 100 = 0)
      SELECT n.qid, n.n_rel,
             round(CAST(coalesce(p.dcg_u, 0) AS DOUBLE) / 1e6, 6) AS dcg10,
             CASE WHEN n.n_rel = 0 THEN NULL
                  ELSE round(CAST(coalesce(p.dcg_u, 0) AS DOUBLE)
                       / CAST(c.idcg_u AS DOUBLE), 6) END AS ndcg10,
             round(coalesce(1.0 / p.first_rel, 0.0), 6) AS mrr
      FROM nrel n
      LEFT JOIN perq p ON n.qid = p.qid
      LEFT JOIN cumdisc c ON c.upto = least(n.n_rel, 10)
      ORDER BY n.qid"""))

  // --------------------------------------------------------------- q253

  /** q253 — fuzzy title linkage: document "titles" (first 48 chars)
    * joined by Jaro-Winkler ≥ 0.9 within first-token blocks — the
    * record-linkage primitive (name/address matching) that
    * edit-distance (q116) and shingle similarity miss: JW weights
    * shared prefixes and tolerates transpositions, the typo shapes of
    * human-entered strings.
    *
    * The similarity runs as the native codegen'd
    * `graft_jaro_winkler` expression (UTF-8 byte semantics pinned
    * bit-exact to the oracle's implementation — see
    * expressions/JaroWinkler.scala); candidates are bounded by
    * first-token equality blocking BEFORE any pair materializes, the
    * same contract as every similarity join in the engine — never
    * all-pairs.
    */
  val q253 = Q("q253_jw_fuzzy_join",
    (s, dir) => {
      // pinned block-keyed repartition (r15 opt): the documents scan is
      // one split locally and AQE coalesces the blocked self-join to a
      // single task, serializing the O(pairs) Jaro-Winkler kernel; an
      // explicit count keeps the join co-partitioned AND parallel
      val p = Tables.load(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 48).as("t"),
          element_at(split(col("text"), " "), 1).as("blk"))
        .repartition(s.sparkContext.defaultParallelism, col("blk"))
      val a = p.select(col("doc_id").as("da"), col("t").as("ta"), col("blk"))
      val b = p.select(col("doc_id").as("db"), col("t").as("tb"), col("blk"))
      a.join(b, "blk")
        .filter(col("da") < col("db"))
        .withColumn("jw", call_function("graft_jaro_winkler", col("ta"), col("tb")))
        .filter(col("jw") >= 0.9)
        .select(col("da"), col("db"), round(col("jw"), 6).as("jw"))
        .orderBy("da", "db")
    },
    Some("""
      WITH p AS (SELECT doc_id, substr(text, 1, 48) AS t,
                        split_part(text, ' ', 1) AS blk
                 FROM documents)
      SELECT a.doc_id AS da, b.doc_id AS db,
             round(jaro_winkler_similarity(a.t, b.t), 6) AS jw
      FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE jaro_winkler_similarity(a.t, b.t) >= 0.9
      ORDER BY da, db"""))

  // --------------------------------------------------------------- q260

  /** q260 — average precision (area under the precision-recall curve,
    * hit-interpolated): the eval-set ranking from q259's centroid
    * scores, judged against the class-0 labels. AP is the metric of
    * record when positives are rare and q134's ROC-AUC flatters
    * (ROC's false-positive axis barely moves on an imbalanced set).
    *
    * AP = (1/R)·Σ_{hits} P@k, with each P@k = hits_so_far/k quantized
    * to a 1e9 long — the running sums are exact in any order. The
    * global rank runs over the bounded scored eval sample (q134's
    * whitelisted shape).
    */
  val q260 = Q("q260_average_precision",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val cent = emb.filter(col("label") === 0)
        .select(posexplode(col("embedding")).as(Seq("_pos", "_v")))
        .groupBy((col("_pos") + 1).as("dim"))
        .agg((sum(round(col("_v").cast("double") * 1e6).cast("long")).cast("double")
          / count(col("_v")) / 1e6).as("cv"))
        .groupBy()
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
          x => x.getField("cv")).as("cvec"))
      val scored = emb.crossJoin(broadcast(cent))
        .select(col("vec_id"),
          when(col("label") === 0, 1L).otherwise(0L).as("rel"),
          expr("""CAST(round(1e6 * aggregate(zip_with(embedding, cvec,
                  (p, q) -> CAST(p AS DOUBLE) * q), CAST(0.0 AS DOUBLE),
                  (acc, v) -> acc + v)) AS BIGINT)""").as("su"))
      val w = Window.orderBy(desc("su"), col("vec_id"))
      val ranked = scored
        .withColumn("rnk", row_number().over(w))
        .withColumn("cum_rel", sum("rel").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ranked.groupBy()
        .agg(count(lit(1)).as("n"), sum("rel").as("n_pos"),
          sum(when(col("rel") === 1,
            expr("CAST(round(1e9 * CAST(cum_rel AS DOUBLE) / CAST(rnk AS DOUBLE)) AS BIGINT)"))
            .otherwise(0L)).as("_ap_u"),
          max(when(col("rnk") === 100, col("cum_rel"))).as("_c100"))
        .select(col("n"), col("n_pos"),
          round(col("_ap_u").cast("double") / col("n_pos").cast("double") / 1e9, 6)
            .as("avg_precision"),
          round(col("_c100").cast("double") / 100.0, 6).as("p_at_100"))
    },
    Some("""
      WITH c AS (SELECT d AS dim,
               CAST(sum(CAST(round(CAST(embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / count(*) / 1000000.0 AS cv
             FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS d) ds
             WHERE label = 0 GROUP BY d),
      v AS (SELECT list(cv ORDER BY dim) AS cvec FROM c),
      scored AS (SELECT vec_id,
                        CASE WHEN label = 0 THEN 1 ELSE 0 END AS rel,
                        CAST(round(1e6 * list_reduce(list_transform(range(1, len(embedding)+1),
                          i -> CAST(embedding[i] AS DOUBLE) * cvec[i]), (x, y) -> x + y))
                          AS BIGINT) AS su
                 FROM embeddings, v),
      ranked AS (SELECT rel,
                        row_number() OVER (ORDER BY su DESC, vec_id ASC) AS rnk,
                        sum(rel) OVER (ORDER BY su DESC, vec_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rel
                 FROM scored)
      SELECT count(*) AS n, CAST(sum(rel) AS BIGINT) AS n_pos,
             round(CAST(sum(CASE WHEN rel = 1 THEN
                       CAST(round(1e9 * CAST(cum_rel AS DOUBLE) / CAST(rnk AS DOUBLE)) AS BIGINT)
                     ELSE 0 END) AS DOUBLE)
                   / CAST(sum(rel) AS DOUBLE) / 1e9, 6) AS avg_precision,
             round(CAST(max(CASE WHEN rnk = 100 THEN cum_rel END) AS DOUBLE) / 100.0, 6)
               AS p_at_100
      FROM ranked"""))

  // --------------------------------------------------------------- q261

  /** q261 — two-proportion z-test: do 'click'-acquired users convert
    * (purchase within 72 h of acquisition — time-bounded, so the
    * metric can't saturate the way lifetime-ever conversion does on a
    * dense stream) at a different rate than 'view'-acquired users?
    * The pooled-variance conversion test behind every A/B readout.
    *
    * Degenerate inputs (an empty cohort, all-convert or none-convert
    * — both make the pooled variance 0) yield a NULL z on both
    * engines rather than an ANSI divide-by-zero.
    */
  val q261 = Q("q261_two_proportion_z",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").cast("long").as("_sec"))
      val wu = Window.partitionBy("user_id").orderBy(col("_sec").asc, col("event_id").asc)
      val users = ev
        .withColumn("_rn", row_number().over(wu))
        .withColumn("_fsec", min("_sec").over(Window.partitionBy("user_id")))
        .groupBy("user_id")
        .agg(max(when(col("_rn") === 1, col("event_type"))).as("cohort"),
          max(when(col("event_type") === "purchase"
            && col("_sec") <= col("_fsec") + 259200L, 1L).otherwise(0L)).as("conv"))
        .filter(col("cohort").isin("click", "view"))
      val m = users.groupBy().agg(
        sum(when(col("cohort") === "click", 1L).otherwise(0L)).as("n1"),
        sum(when(col("cohort") === "click", col("conv")).otherwise(0L)).as("x1"),
        sum(when(col("cohort") === "view", 1L).otherwise(0L)).as("n2"),
        sum(when(col("cohort") === "view", col("conv")).otherwise(0L)).as("x2"))
      val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
      val p1 = col("x1").cast("double") / n1
      val p2 = col("x2").cast("double") / n2
      val pp = (col("x1") + col("x2")).cast("double") / (n1 + n2)
      val degenerate = col("n1") === 0 || col("n2") === 0 ||
        col("x1") + col("x2") === 0 || col("x1") + col("x2") === col("n1") + col("n2")
      m.select(col("n1"), col("x1"), col("n2"), col("x2"),
        when(col("n1") === 0, lit(null)).otherwise(round(p1, 6)).as("rate1"),
        when(col("n2") === 0, lit(null)).otherwise(round(p2, 6)).as("rate2"),
        when(degenerate, lit(null))
          .otherwise(round((p1 - p2)
            / sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n2)), 6))
          .as("z_two_prop"))
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
                        epoch_us(ts) // 1000000 AS sec FROM events),
      fe AS (SELECT user_id, event_type,
                    row_number() OVER (PARTITION BY user_id
                                       ORDER BY sec ASC, event_id ASC) AS rn,
                    min(sec) OVER (PARTITION BY user_id) AS fsec
             FROM e),
      u AS (SELECT e.user_id, f.fsec,
                   max(CASE WHEN e.event_type = 'purchase'
                                 AND e.sec <= f.fsec + 259200
                            THEN 1 ELSE 0 END) AS conv
            FROM e JOIN (SELECT DISTINCT user_id, fsec FROM fe) f
              ON e.user_id = f.user_id
            GROUP BY 1, 2),
      uc AS (SELECT u.user_id, fe.event_type AS cohort, u.conv
             FROM u JOIN fe ON u.user_id = fe.user_id AND fe.rn = 1
             WHERE fe.event_type IN ('click', 'view')),
      m AS (SELECT
              CAST(sum(CASE WHEN cohort = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
              CAST(sum(CASE WHEN cohort = 'click' THEN conv ELSE 0 END) AS BIGINT) AS x1,
              CAST(sum(CASE WHEN cohort = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
              CAST(sum(CASE WHEN cohort = 'view' THEN conv ELSE 0 END) AS BIGINT) AS x2
            FROM uc)
      SELECT n1, x1, n2, x2,
             CASE WHEN n1 = 0 THEN NULL
                  ELSE round(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) END AS rate1,
             CASE WHEN n2 = 0 THEN NULL
                  ELSE round(CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) END AS rate2,
             CASE WHEN n1 = 0 OR n2 = 0 OR x1 + x2 = 0 OR x1 + x2 = n1 + n2 THEN NULL
                  ELSE round((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                              - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                       / sqrt(CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
                              * (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                              * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 6)
             END AS z_two_prop
      FROM m"""))

  // --------------------------------------------------------------- q262

  /** q262 — fuzzy entity resolution: q253's Jaro-Winkler link pairs
    * (≥0.9 within first-token blocks) closed into entities by
    * min-label connected components — the blocking → pairwise-match →
    * transitive-closure pipeline every master-data/entity-resolution
    * system runs, here composed entirely from the engine's own
    * operators (JW expression + Dedup.connectedComponents fixpoint).
    *
    * Pair enumeration goes through [[graft.operators.Dedup
    * .bucketPairsExact]] — the chunk-grid discipline: a block bigger
    * than one chunk becomes a grid of ≤ chunk² tile rows spread by
    * repartition, so a stop-word-headed block at corpus scale streams
    * its (inherently quadratic, the oracle's own semantics) pair set
    * from many bounded tasks instead of one O(block²) straggler. No
    * block is dropped — exactness is the contract here, unlike the
    * capped LSH path. Texts rejoin by id AFTER enumeration (two
    * hash-join shuffles on ids), so pair rows carry 16 bytes until
    * the JW filter needs the 48-char prefixes.
    *
    * The oracle replays the closure with a recursive CTE — label
    * propagation as recursive SQL — practical because matched
    * components are tiny even when the corpus is not (the blocking
    * contract).
    */
  val q262 = Q("q262_fuzzy_entity_clusters",
    (s, dir) => {
      val p = Tables.load(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 48).as("t"),
          element_at(split(col("text"), " "), 1).as("blk"))
      val cand = graft.operators.Dedup.bucketPairsExact(p, "doc_id", Seq("blk"))
      val pairs = cand
        .join(p.select(col("doc_id").as("id_a"), col("t").as("ta")), Seq("id_a"))
        .join(p.select(col("doc_id").as("id_b"), col("t").as("tb")), Seq("id_b"))
        .filter(call_function("graft_jaro_winkler", col("ta"), col("tb")) >= 0.9)
        .select(col("id_a").as("da"), col("id_b").as("db"))
      graft.operators.Dedup.connectedComponents(pairs, "da", "db")
        .groupBy("cluster_id").agg(count(lit(1)).as("n_docs"))
        .orderBy("cluster_id")
    },
    Some("""
      WITH RECURSIVE p AS (
        SELECT doc_id, substr(text, 1, 48) AS t,
               split_part(text, ' ', 1) AS blk
        FROM documents),
      pr AS (SELECT a.doc_id AS da, b.doc_id AS db
             FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id
             WHERE jaro_winkler_similarity(a.t, b.t) >= 0.9),
      e AS (SELECT da AS u, db AS v FROM pr
            UNION ALL SELECT db, da FROM pr),
      n AS (SELECT DISTINCT u AS id FROM e),
      r(id, lab) AS (
        SELECT id, id FROM n
        UNION
        SELECT e.v, r.lab FROM r JOIN e ON r.id = e.u),
      comp AS (SELECT id, min(lab) AS cluster_id FROM r GROUP BY id)
      SELECT cluster_id, count(*) AS n_docs
      FROM comp GROUP BY cluster_id ORDER BY cluster_id"""))

  // --------------------------------------------------------------- q263

  /** q263 — Cochran-Armitage trend test: does the share of high-value
    * orders (> $250k) trend monotonically across the FIVE ORDERED
    * priority classes? The dose-response test for a binary outcome
    * against an ordered factor — χ² (q129) would only say "different
    * somewhere"; this scores the ordering itself, with integer scores
    * w = 1..5 taken from the priority digit.
    *
    * z = Σw(xᵢ − p̄nᵢ) / √(p̄(1−p̄)(Σw²nᵢ − (Σwnᵢ)²/N)) — five-group
    * exact counts in, one double out.
    */
  val q263 = Q("q263_cochran_armitage",
    (s, dir) => {
      val g = Tables.load(s, dir, "orders")
        .select(substring(col("o_orderpriority"), 1, 1).cast("long").as("w"),
          when(expr("CAST(round(o_totalprice * 100) AS BIGINT)") > 25000000L, 1L)
            .otherwise(0L).as("hi"))
        .groupBy("w").agg(count(lit(1)).as("n"), sum("hi").as("x"))
      val m = g.groupBy().agg(
        sum("n").as("nt"), sum("x").as("xt"),
        sum(col("w") * col("x")).as("swx"),
        sum(col("w") * col("n")).as("swn"),
        sum(col("w") * col("w") * col("n")).as("swwn"))
      val ntd = col("nt").cast("double")
      val pbar = col("xt").cast("double") / ntd
      m.select(col("nt").as("n_total"), col("xt").as("x_total"),
        round((col("swx").cast("double") - pbar * col("swn").cast("double"))
          / sqrt(pbar * (lit(1.0) - pbar)
            * (col("swwn").cast("double")
              - col("swn").cast("double") * col("swn").cast("double") / ntd)), 6)
          .as("z_trend"))
    },
    Some("""
      WITH g AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
                        count(*) AS n,
                        CAST(sum(CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT)
                                          > 25000000 THEN 1 ELSE 0 END) AS BIGINT) AS x
                 FROM orders GROUP BY 1),
      m AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(x) AS BIGINT) AS xt,
                   CAST(sum(w * x) AS BIGINT) AS swx,
                   CAST(sum(w * n) AS BIGINT) AS swn,
                   CAST(sum(w * w * n) AS BIGINT) AS swwn
            FROM g)
      SELECT nt AS n_total, xt AS x_total,
             round((CAST(swx AS DOUBLE)
                    - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE) * CAST(swn AS DOUBLE))
                   / sqrt(CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE)
                          * (1.0 - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
                          * (CAST(swwn AS DOUBLE)
                             - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)
                               / CAST(nt AS DOUBLE))), 6) AS z_trend
      FROM m"""))

  // --------------------------------------------------------------- q264

  /** q264 — Ljung-Box portmanteau test (lags 1–7) per event type:
    * Q = n(n+2)·Σ ρ̂ₖ²/(n−k) over the daily count series — "is there
    * ANY autocorrelation structure in the first week of lags", the
    * whiteness test q140's single-lag autocorrelation can't answer.
    *
    * Each lag's products come from one equi-join of the daily rollup
    * against itself shifted k days (k from a 7-row literal, join keys
    * (type, day) — never a cross join); ρ̂ₖ is assembled from exact
    * integer sums and quantized to a 1e9 long, so the 7-term sum is
    * exact and Q is one final double per type.
    */
  val q264 = Q("q264_ljung_box",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), expr("CAST(ts AS LONG) div 86400").as("d"))
        .agg(count(lit(1)).as("y"))
      val tot = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"),
          sum(col("y") * col("y")).as("syy"))
      val lags = (1 to 7).toDF("k")
      val la = daily.select(col("event_type"), col("d"), col("y").as("ya"))
        .crossJoin(broadcast(lags))
      val lb = daily.select(col("event_type").as("et2"),
        col("d").as("d2"), col("y").as("yb"))
      val prods = la.join(lb,
          col("et2") === col("event_type") && col("d2") === col("d") + col("k"))
        .groupBy(col("event_type").as("et"), col("k"))
        .agg(count(lit(1)).as("nk"), sum(col("ya") * col("yb")).as("pk"),
          sum("ya").as("ak"), sum("yb").as("bk"))
      val rho = prods.join(tot.withColumnRenamed("event_type", "et"), "et")
        .withColumn("_ybar", col("sy").cast("double") / col("n").cast("double"))
        .withColumn("_den",
          col("syy").cast("double") - col("sy").cast("double") * col("_ybar"))
        .withColumn("rho_u", expr(
          """CAST(round(1e9 * (CAST(pk AS DOUBLE) - _ybar * CAST(ak + bk AS DOUBLE)
             + CAST(nk AS DOUBLE) * _ybar * _ybar) / _den) AS BIGINT)"""))
      rho.groupBy(col("et").as("event_type"))
        .agg(max("n").as("n_days"),
          sum(expr(
            """CAST(round(1e9 * (CAST(rho_u AS DOUBLE) / 1e9) * (CAST(rho_u AS DOUBLE) / 1e9)
               / CAST(n - k AS DOUBLE)) AS BIGINT)""")).as("_q_u"))
        .select(col("event_type"), col("n_days"),
          round(col("n_days").cast("double") * (col("n_days") + 2).cast("double")
            * col("_q_u").cast("double") / 1e9, 6).as("q_ljung_box"))
        .orderBy("event_type")
    },
    Some("""
      WITH daily AS (SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS d,
                            CAST(count(*) AS BIGINT) AS y
                     FROM events GROUP BY 1, 2),
      tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(y * y) AS BIGINT) AS syy
              FROM daily GROUP BY 1),
      lags AS (SELECT unnest(range(1, 8)) AS k),
      prods AS (SELECT a.event_type AS et, lags.k,
                       CAST(count(*) AS BIGINT) AS nk,
                       CAST(sum(a.y * b.y) AS BIGINT) AS pk,
                       CAST(sum(a.y) AS BIGINT) AS ak,
                       CAST(sum(b.y) AS BIGINT) AS bk
                FROM daily a CROSS JOIN lags
                JOIN daily b ON b.event_type = a.event_type
                            AND b.d = a.d + lags.k
                GROUP BY 1, 2),
      rho AS (SELECT p.et, p.k, t.n,
                     CAST(round(1e9 * (CAST(p.pk AS DOUBLE)
                          - (CAST(t.sy AS DOUBLE) / CAST(t.n AS DOUBLE))
                            * CAST(p.ak + p.bk AS DOUBLE)
                          + CAST(p.nk AS DOUBLE)
                            * (CAST(t.sy AS DOUBLE) / CAST(t.n AS DOUBLE))
                            * (CAST(t.sy AS DOUBLE) / CAST(t.n AS DOUBLE)))
                          / (CAST(t.syy AS DOUBLE)
                             - CAST(t.sy AS DOUBLE)
                               * (CAST(t.sy AS DOUBLE) / CAST(t.n AS DOUBLE))))
                       AS BIGINT) AS rho_u
              FROM prods p JOIN tot t ON p.et = t.event_type)
      SELECT et AS event_type, CAST(max(n) AS BIGINT) AS n_days,
             round(CAST(max(n) AS DOUBLE) * CAST(max(n) + 2 AS DOUBLE)
                   * CAST(sum(CAST(round(1e9 * (CAST(rho_u AS DOUBLE) / 1e9)
                         * (CAST(rho_u AS DOUBLE) / 1e9)
                         / CAST(n - k AS DOUBLE)) AS BIGINT)) AS DOUBLE) / 1e9, 6)
               AS q_ljung_box
      FROM rho GROUP BY et ORDER BY et"""))

  // --------------------------------------------------------------- q265

  /** q265 — Simpson's-paradox audit: compare urgent-vs-low mean order
    * value POOLED and WITHIN each nation stratum, counting strata
    * whose sign agrees with / flips against the pooled sign. The
    * aggregation-reversal check every metrics review needs before
    * trusting a pooled difference; all sign decisions are exact
    * integer cross-multiplications (s₁n₂ vs s₂n₁) — no float
    * comparisons anywhere.
    */
  val q265 = Q("q265_simpson_audit",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nat"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("g1"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("ct"))
      val strata = o.groupBy("nat").agg(
        sum(when(col("g1") === 1, col("ct")).otherwise(0L)).as("s1"),
        sum("g1").as("n1"),
        sum(when(col("g1") === 0, col("ct")).otherwise(0L)).as("s2"),
        sum(lit(1L) - col("g1")).as("n2"))
        .filter(col("n1") > 0 && col("n2") > 0)
      val pooled = strata.groupBy().agg(
        sum("s1").as("ps1"), sum("n1").as("pn1"),
        sum("s2").as("ps2"), sum("n2").as("pn2"))
      val sgn = signum((col("s1") * col("n2") - col("s2") * col("n1")).cast("double")).cast("int")
      val psgn = signum((col("ps1") * col("pn2") - col("ps2") * col("pn1")).cast("double")).cast("int")
      strata.crossJoin(broadcast(pooled))
        .select(sgn.as("d"), psgn.as("pd"),
          col("ps1"), col("pn1"), col("ps2"), col("pn2"))
        .groupBy("pd", "ps1", "pn1", "ps2", "pn2")
        .agg(count(lit(1)).as("n_strata"),
          sum(when(col("d") === col("pd"), 1L).otherwise(0L)).as("n_agree"),
          sum(when(col("d") === -col("pd"), 1L).otherwise(0L)).as("n_flip"),
          sum(when(col("d") === 0, 1L).otherwise(0L)).as("n_tie"))
        .select(col("n_strata"), col("n_agree"), col("n_flip"), col("n_tie"),
          col("pd").as("pooled_sign"),
          round(col("ps1").cast("double") / col("pn1").cast("double")
            - col("ps2").cast("double") / col("pn2").cast("double"), 6)
            .as("pooled_diff_cents"),
          (col("n_flip") > col("n_agree")).as("simpson_flag"))
    },
    Some("""
      WITH o AS (SELECT c_nationkey AS nat,
                        CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS ct
                 FROM orders JOIN customer ON o_custkey = c_custkey
                 WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      strata AS (SELECT nat,
                        CAST(sum(CASE WHEN g1 = 1 THEN ct ELSE 0 END) AS BIGINT) AS s1,
                        CAST(sum(g1) AS BIGINT) AS n1,
                        CAST(sum(CASE WHEN g1 = 0 THEN ct ELSE 0 END) AS BIGINT) AS s2,
                        CAST(sum(1 - g1) AS BIGINT) AS n2
                 FROM o GROUP BY 1
                 HAVING sum(g1) > 0 AND sum(1 - g1) > 0),
      pooled AS (SELECT CAST(sum(s1) AS BIGINT) AS ps1, CAST(sum(n1) AS BIGINT) AS pn1,
                        CAST(sum(s2) AS BIGINT) AS ps2, CAST(sum(n2) AS BIGINT) AS pn2
                 FROM strata),
      j AS (SELECT sign(s1 * n2 - s2 * n1) AS d,
                   sign(ps1 * pn2 - ps2 * pn1) AS pd,
                   ps1, pn1, ps2, pn2
            FROM strata, pooled)
      SELECT count(*) AS n_strata,
             CAST(sum(CASE WHEN d = pd THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
             CAST(sum(CASE WHEN d = -pd THEN 1 ELSE 0 END) AS BIGINT) AS n_flip,
             CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tie,
             CAST(pd AS INT) AS pooled_sign,
             round(CAST(ps1 AS DOUBLE) / CAST(pn1 AS DOUBLE)
                   - CAST(ps2 AS DOUBLE) / CAST(pn2 AS DOUBLE), 6) AS pooled_diff_cents,
             sum(CASE WHEN d = -pd THEN 1 ELSE 0 END)
               > sum(CASE WHEN d = pd THEN 1 ELSE 0 END) AS simpson_flag
      FROM j GROUP BY pd, ps1, pn1, ps2, pn2"""))

  // --------------------------------------------------------------- q266

  /** q266 — timed funnel: view → click → purchase with EVERY step
    * required within 1 h of the previous one — the time-constrained
    * sequence-pattern count (MATCH_RECOGNIZE territory) that q89's
    * unbounded funnel overstates: a click three weeks after the view
    * is not the same journey.
    *
    * Stage k is the earliest qualifying event after stage k−1's
    * timestamp within its window — each stage one grouped min over an
    * equi-joined filter, so the whole funnel is three linear passes,
    * no per-user sequence materialization.
    */
  val q266 = Q("q266_timed_funnel",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts").cast("long").as("sec"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("sec").as("t0"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("sec") >= col("t0") && col("sec") <= col("t0") + 3600L)
        .groupBy("user_id").agg(min("sec").as("t1"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("sec") >= col("t1") && col("sec") <= col("t1") + 3600L)
        .groupBy("user_id").agg(min("sec").as("t2"))
      val nv = v.agg(count(lit(1)).as("n")).select(lit(1).as("stage_idx"),
        lit("view").as("stage"), col("n"))
      val nc = c.agg(count(lit(1)).as("n")).select(lit(2).as("stage_idx"),
        lit("click_within_1h").as("stage"), col("n"))
      val np = p.agg(count(lit(1)).as("n")).select(lit(3).as("stage_idx"),
        lit("purchase_within_1h").as("stage"), col("n"))
      nv.union(nc).union(np).orderBy("stage_idx")
    },
    Some("""
      WITH e AS (SELECT user_id, event_type,
                        epoch_us(ts) // 1000000 AS sec FROM events),
      v AS (SELECT user_id, min(sec) AS t0 FROM e
            WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, min(e.sec) AS t1
            FROM e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click'
              AND e.sec >= v.t0 AND e.sec <= v.t0 + 3600
            GROUP BY 1),
      p AS (SELECT e.user_id, min(e.sec) AS t2
            FROM e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase'
              AND e.sec >= c.t1 AND e.sec <= c.t1 + 3600
            GROUP BY 1)
      SELECT 1 AS stage_idx, 'view' AS stage,
             CAST((SELECT count(*) FROM v) AS BIGINT) AS n
      UNION ALL
      SELECT 2, 'click_within_1h', CAST((SELECT count(*) FROM c) AS BIGINT)
      UNION ALL
      SELECT 3, 'purchase_within_1h', CAST((SELECT count(*) FROM p) AS BIGINT)
      ORDER BY stage_idx"""))

  // --------------------------------------------------------------- q267

  /** q267 — degree assortativity of the co-purchase graph: the
    * Pearson correlation of endpoint degrees over edges (both
    * orientations) — do hubs attach to hubs (assortative, r>0) or to
    * leaves (disassortative, r<0)? The one-number wiring fingerprint
    * distinguishing social-style graphs from dependency-style graphs,
    * off the same bounded edge list as q163/q245/q246.
    *
    * Degrees are integers ≤ √(2m) after the cnt≥2 filter, so all five
    * moments fit exact longs; r is one final double.
    */
  val q267 = Q("q267_assortativity",
    (s, dir) => {
      val items = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val pairs = items.groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_partkey"))).as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(explode(call_function("graft_pairs_long", col("ids"))).as("p"))
        .groupBy(col("p.a").as("pa"), col("p.b").as("pb"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
        .select("pa", "pb")
        .localCheckpoint(false) // degrees + directed edge expansion
      val deg = pairs.select(explode(array(col("pa"), col("pb"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val ends = pairs
        .select(col("pa").as("u"), col("pb").as("w"))
        .union(pairs.select(col("pb").as("u"), col("pa").as("w")))
        .join(deg.select(col("v").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("v").as("w"), col("d").as("dw")), "w")
      val m = ends.groupBy().agg(
        count(lit(1)).as("n"),
        sum("du").as("sx"), sum("dw").as("sy"),
        sum(col("du") * col("du")).as("sxx"),
        sum(col("dw") * col("dw")).as("syy"),
        sum(col("du") * col("dw")).as("sxy"))
      val nd = col("n").cast("double")
      val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
      m.select(col("n").as("n_edge_ends"),
        round((nd * col("sxy").cast("double") - sx * sy)
          / (sqrt(nd * col("sxx").cast("double") - sx * sx)
            * sqrt(nd * col("syy").cast("double") - sy * sy)), 6)
          .as("assortativity_r"))
    },
    Some("""
      WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      p0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS cnt
             FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
                              AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2),
      e AS (SELECT pa, pb FROM p0 WHERE cnt >= 2),
      deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d
              FROM (SELECT pa AS v FROM e UNION ALL SELECT pb AS v FROM e)
              GROUP BY v),
      ends AS (SELECT du.d AS du, dw.d AS dw
               FROM (SELECT pa AS u, pb AS w FROM e
                     UNION ALL SELECT pb, pa FROM e) x
               JOIN deg du ON x.u = du.v
               JOIN deg dw ON x.w = dw.v),
      m AS (SELECT count(*) AS n,
                   CAST(sum(du) AS BIGINT) AS sx, CAST(sum(dw) AS BIGINT) AS sy,
                   CAST(sum(du * du) AS BIGINT) AS sxx,
                   CAST(sum(dw * dw) AS BIGINT) AS syy,
                   CAST(sum(du * dw) AS BIGINT) AS sxy
            FROM ends)
      SELECT CAST(n AS BIGINT) AS n_edge_ends,
             round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
               AS assortativity_r
      FROM m"""))

  // --------------------------------------------------------------- q268

  /** q268 — mutual nearest neighbors in embedding space: pairs (a, b)
    * where b is a's top cosine neighbor AND a is b's — the
    * reciprocal-best-match criterion behind bitext mining and
    * high-precision near-dup linking (one-sided NN chains through hub
    * vectors; mutuality kills the hubs). It runs as a sampled audit
    * ([[graft.operators.Similarity.mutualNNAudit]]): exact top-1 for
    * a deterministic 200-id probe sample against the FULL index, then
    * for their distinct best-neighbours, reporting pairs where each
    * is the other's exact top-1 — O(S·n), linear in the corpus. Each
    * exact pass is the
    * block-nested-loop [[graft.operators.Similarity.top1ExactFor]]
    * (bounded chunk rows, chunk-ID-only broadcast, in-row local
    * argmax, map-side-combined `max(struct)` global argmax).
    */
  val q268 = Q("q268_mutual_nn",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      graft.operators.Similarity.mutualNNAudit(emb, "vec_id", "embedding")
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos_sim"))
        .orderBy("a", "b")
    },
    Some(s"""
      WITH samp AS (SELECT vec_id FROM embeddings
                    ORDER BY ${duckHash64("'nnsample:' || CAST(vec_id AS VARCHAR)")},
                             vec_id
                    LIMIT 200),
      sims AS (SELECT a.vec_id, b.vec_id AS nb,
                      ${Q.duckDot("a.embedding", "b.embedding")}
                        / (sqrt(${Q.duckDot("a.embedding", "a.embedding")})
                           * sqrt(${Q.duckDot("b.embedding", "b.embedding")})) AS cos
               FROM embeddings a JOIN embeddings b
                 ON a.vec_id <> b.vec_id
               WHERE a.vec_id IN (SELECT vec_id FROM samp)),
      t1s AS (SELECT vec_id, nb, cos FROM (
                SELECT *, row_number() OVER
                  (PARTITION BY vec_id ORDER BY cos DESC, nb ASC) AS r
                FROM sims) WHERE r = 1),
      nbs AS (SELECT DISTINCT nb FROM t1s),
      sims2 AS (SELECT a.vec_id, b.vec_id AS nb,
                       ${Q.duckDot("a.embedding", "b.embedding")}
                         / (sqrt(${Q.duckDot("a.embedding", "a.embedding")})
                            * sqrt(${Q.duckDot("b.embedding", "b.embedding")})) AS cos
                FROM embeddings a JOIN embeddings b
                  ON a.vec_id <> b.vec_id
                WHERE a.vec_id IN (SELECT nb FROM nbs)),
      t1b AS (SELECT vec_id, nb FROM (
                SELECT *, row_number() OVER
                  (PARTITION BY vec_id ORDER BY cos DESC, nb ASC) AS r
                FROM sims2) WHERE r = 1),
      m AS (SELECT least(t.vec_id, t.nb) AS a, greatest(t.vec_id, t.nb) AS b,
                   t.cos
            FROM t1s t JOIN t1b u ON t.nb = u.vec_id AND u.nb = t.vec_id)
      SELECT a, b, round(max(cos), 6) AS cos_sim
      FROM m GROUP BY a, b ORDER BY a, b"""))

  // --------------------------------------------------------------- q269

  /** q269 — disparate-impact audit: high-value-order rate per market
    * segment versus the best-off segment, flagging groups under the
    * four-fifths rule (selection rate < 80% of the reference's) — the
    * standard first-pass fairness screen, run here exactly as a
    * curation pipeline would audit any per-group selection rate
    * (quality-filter pass rates by language, say).
    *
    * Reference selection uses exact integer cross-multiplication
    * (max by x·n_ref comparisons via a 5-row broadcast), and the 0.8
    * threshold compares 5·x·n_ref ≥ 4·x_ref·n in integers — no float
    * thresholds anywhere.
    */
  val q269 = Q("q269_disparate_impact",
    (s, dir) => {
      val g = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(when(expr("CAST(round(o_totalprice * 100) AS BIGINT)") > 25000000L, 1L)
            .otherwise(0L)).as("x"))
      val wref = Window.orderBy(
        (col("x").cast("double") / col("n").cast("double")).desc_nulls_last,
        col("segment"))
      // the reference row: highest rate (partition-less window over the
      // 5-row segment rollup — bounded by construction, whitelisted)
      g.crossJoin(broadcast(
          g.withColumn("_r", row_number().over(wref)).filter(col("_r") === 1)
            .select(col("segment").as("ref_segment"), col("n").as("nr"), col("x").as("xr"))))
        .select(col("segment"), col("n"), col("x"),
          round(col("x").cast("double") / col("n").cast("double"), 6).as("rate"),
          col("ref_segment"),
          round(col("x").cast("double") * col("nr").cast("double")
            / (col("xr").cast("double") * col("n").cast("double")), 6).as("impact_ratio"),
          (col("x") * col("nr") * 5 < col("xr") * col("n") * 4).as("four_fifths_flag"))
        .orderBy("segment")
    },
    Some("""
      WITH g AS (SELECT c_mktsegment AS segment, count(*) AS n,
                        CAST(sum(CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT)
                                          > 25000000 THEN 1 ELSE 0 END) AS BIGINT) AS x
                 FROM orders JOIN customer ON o_custkey = c_custkey
                 GROUP BY 1),
      ref AS (SELECT segment AS ref_segment, n AS nr, x AS xr FROM (
                SELECT *, row_number() OVER
                  (ORDER BY CAST(x AS DOUBLE) / CAST(n AS DOUBLE) DESC, segment ASC) AS r
                FROM g) WHERE r = 1)
      SELECT g.segment, CAST(g.n AS BIGINT) AS n, g.x,
             round(CAST(g.x AS DOUBLE) / CAST(g.n AS DOUBLE), 6) AS rate,
             ref.ref_segment,
             round(CAST(g.x AS DOUBLE) * CAST(ref.nr AS DOUBLE)
                   / (CAST(ref.xr AS DOUBLE) * CAST(g.n AS DOUBLE)), 6) AS impact_ratio,
             g.x * ref.nr * 5 < ref.xr * g.n * 4 AS four_fifths_flag
      FROM g, ref ORDER BY g.segment"""))

  // --------------------------------------------------------------- q270

  /** q270 — Hill tail-index estimator on order values: over the top-k
    * order statistics, α̂ = k / Σ ln(x_i/x_{(k+1)}) — how heavy is the
    * spend distribution's tail (α < 2: infinite variance, whale-
    * dominated; α > 3: thin). The capacity-planning / risk statistic
    * that moments can't give you on power-law data.
    *
    * The top-(k+1) selection is a TakeOrderedAndProject (bounded
    * k = 500), each ln is quantized to a 1e9 long against the
    * BROADCAST threshold value, and the sum is exact.
    */
  val q270 = Q("q270_hill_tail_index",
    (s, dir) => {
      val k = 500
      val top = Tables.load(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("ct"))
        .orderBy(desc("ct")).limit(k + 1)
      val thr = top.orderBy(col("ct").asc).limit(1)
        .select(col("ct").as("xk1"))
      top.crossJoin(broadcast(thr))
        .filter(col("ct") > col("xk1"))
        .groupBy(col("xk1"))
        .agg(count(lit(1)).as("k_used"),
          sum(expr(
            "CAST(round(1e9 * ln(CAST(ct AS DOUBLE) / CAST(xk1 AS DOUBLE))) AS BIGINT)"))
            .as("_s_u"))
        .select(col("k_used"), col("xk1").as("threshold_cents"),
          round(col("k_used").cast("double") / (col("_s_u").cast("double") / 1e9), 6)
            .as("hill_alpha"))
    },
    Some("""
      WITH top AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS ct
                   FROM orders ORDER BY ct DESC LIMIT 501),
      thr AS (SELECT min(ct) AS xk1 FROM top),
      t AS (SELECT ct, xk1 FROM top, thr WHERE ct > xk1)
      SELECT CAST(count(*) AS BIGINT) AS k_used,
             CAST(max(xk1) AS BIGINT) AS threshold_cents,
             round(CAST(count(*) AS DOUBLE)
                   / (CAST(sum(CAST(round(1e9 * ln(CAST(ct AS DOUBLE)
                        / CAST(xk1 AS DOUBLE))) AS BIGINT)) AS DOUBLE) / 1e9), 6)
               AS hill_alpha
      FROM t"""))

  // --------------------------------------------------------------- q271

  /** q271 — journey alignment join: users whose first-10-event
    * journeys (one initial per event) are within Levenshtein ≤ 3 —
    * behavioral twins for cohort matching / bot-ring detection, where
    * set-based similarity is blind to ORDER. Both engines' built-in
    * `levenshtein` is the classic integer DP, so the join predicate
    * is exact.
    *
    * Pairs are blocked by first event initial before any fan-out
    * (same contract as every similarity join here); journeys are
    * assembled with an order-pinned array sort, never a
    * nondeterministic string_agg.
    */
  val q271 = Q("q271_journey_align",
    (s, dir) => {
      val wu = Window.partitionBy("user_id")
        .orderBy(col("us").asc, col("event_id").asc)
      val jny = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("us"),
          substring(col("event_type"), 1, 1).as("init"))
        .withColumn("_rn", row_number().over(wu))
        .filter(col("_rn") <= 10)
        .groupBy("user_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("us"), col("event_id"), col("init")))),
          x => x.getField("init")), "").as("jny"))
        .withColumn("blk", substring(col("jny"), 1, 1))
      val a = jny.select(col("user_id").as("ua"), col("jny").as("ja"), col("blk"))
      val b = jny.select(col("user_id").as("ub"), col("jny").as("jb"), col("blk"))
      a.join(b, "blk")
        .filter(col("ua") < col("ub"))
        .withColumn("dist", levenshtein(col("ja"), col("jb")))
        .filter(col("dist") <= 3)
        .select(col("ua"), col("ub"), col("ja"), col("jb"), col("dist"))
        .orderBy("ua", "ub")
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                        substr(event_type, 1, 1) AS init
                 FROM events),
      r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY us ASC, event_id ASC) AS rn FROM e),
      j AS (SELECT user_id,
                   string_agg(init, '' ORDER BY us ASC, event_id ASC) AS jny
            FROM r WHERE rn <= 10 GROUP BY user_id),
      jb AS (SELECT user_id, jny, substr(jny, 1, 1) AS blk FROM j)
      SELECT a.user_id AS ua, b.user_id AS ub,
             a.jny AS ja, b.jny AS jb,
             CAST(levenshtein(a.jny, b.jny) AS INT) AS dist
      FROM jb a JOIN jb b ON a.blk = b.blk AND a.user_id < b.user_id
      WHERE levenshtein(a.jny, b.jny) <= 3
      ORDER BY ua, ub"""))

  // --------------------------------------------------------------- q272

  /** q272 — burst interval detection: per event type, maximal runs of
    * consecutive days whose count exceeds the type's median daily
    * count — the thresholded two-state burst model (Kleinberg's
    * automaton collapsed to its practical core) behind trend surfacing
    * and incident detection. The multiplier is 1× here because the
    * synthetic stream is rate-stable (a 2× gate on ±1σ noise returns
    * the empty set at every SF — a vacuous gate row); on bursty
    * production data the same operator runs with the gate raised. The
    * gaps-and-islands trick (day − row number is constant within a
    * run) turns runs into group keys with one partitioned window —
    * no sequential scan.
    */
  val q272 = Q("q272_burst_intervals",
    (s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), expr("CAST(ts AS LONG) div 86400").as("d"))
        .agg(count(lit(1)).as("y"))
      val wcdf = Window.partitionBy("event_type").orderBy("y")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = daily.groupBy("event_type", "y").agg(count(lit(1)).as("c"))
        .withColumn("_cum", sum("c").over(wcdf))
        .withColumn("_n", sum("c").over(Window.partitionBy("event_type")))
        .groupBy("event_type")
        .agg(min(when(lit(2) * col("_cum") >= col("_n"), col("y"))).as("med"))
      val wd = Window.partitionBy("event_type").orderBy("d")
      daily.join(broadcast(med), "event_type")
        .filter(col("y") > col("med"))
        .withColumn("_grp", col("d") - row_number().over(wd))
        .groupBy("event_type", "_grp")
        .agg(min("d").as("start_day"), max("d").as("end_day"),
          count(lit(1)).as("n_days"), max("y").as("peak"),
          max("med").as("median_daily"))
        .select("event_type", "start_day", "end_day", "n_days", "peak", "median_daily")
        .orderBy("event_type", "start_day")
    },
    Some("""
      WITH daily AS (SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS d,
                            CAST(count(*) AS BIGINT) AS y
                     FROM events GROUP BY 1, 2),
      grid AS (SELECT event_type, y, count(*) AS c FROM daily GROUP BY 1, 2),
      cdf AS (SELECT event_type, y,
                     sum(c) OVER (PARTITION BY event_type ORDER BY y
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     sum(c) OVER (PARTITION BY event_type) AS n
              FROM grid),
      med AS (SELECT event_type,
                     min(CASE WHEN 2 * cum >= n THEN y END) AS med
              FROM cdf GROUP BY 1),
      b AS (SELECT daily.event_type, d, y, med.med,
                   d - row_number() OVER (PARTITION BY daily.event_type
                                          ORDER BY d) AS grp
            FROM daily JOIN med ON daily.event_type = med.event_type
            WHERE y > med.med)
      SELECT event_type, min(d) AS start_day, max(d) AS end_day,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(max(y) AS BIGINT) AS peak,
             CAST(max(med) AS BIGINT) AS median_daily
      FROM b GROUP BY event_type, grp
      ORDER BY event_type, start_day"""))

  // --------------------------------------------------------------- q273

  /** q273 — weight of evidence + information value: customer account
    * balance binned into quintiles, scored against "has an urgent
    * order" — the credit-scoring feature-power standard (IV < 0.02:
    * useless; > 0.3: strong) that q150's categorical info-gain can't
    * produce for a CONTINUOUS feature without a binning contract.
    *
    * Quintile boundaries come off the bounded distinct-value grid
    * (broadcast, never a global rank of customers); each bin's
    * WoE = ln((bad share)/(good share)) is quantized to a 1e9 long
    * from exact integer counts, and IV accumulates the quantized
    * terms exactly.
    */
  val q273 = Q("q273_woe_iv",
    (s, dir) => {
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal"))
      val urgent = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey")).distinct()
        .withColumn("_bad", lit(1L))
      val lab = cust.join(urgent, Seq("c_custkey"), "left")
        .select(col("bal"), coalesce(col("_bad"), lit(0L)).as("bad"))
      val wcdf = Window.orderBy("bal").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bounds = lab.groupBy("bal").agg(count(lit(1)).as("_c"))
        .withColumn("_cum", sum("_c").over(wcdf))
        .withColumn("_n", sum("_c").over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .groupBy()
        .agg(min(when(col("_cum") * 5 >= col("_n"), col("bal"))).as("b1"),
          min(when(col("_cum") * 5 >= col("_n") * 2, col("bal"))).as("b2"),
          min(when(col("_cum") * 5 >= col("_n") * 3, col("bal"))).as("b3"),
          min(when(col("_cum") * 5 >= col("_n") * 4, col("bal"))).as("b4"))
      val binned = lab.crossJoin(broadcast(bounds))
        .select(col("bad"),
          (lit(1) + when(col("bal") > col("b1"), 1).otherwise(0)
            + when(col("bal") > col("b2"), 1).otherwise(0)
            + when(col("bal") > col("b3"), 1).otherwise(0)
            + when(col("bal") > col("b4"), 1).otherwise(0)).as("bin"))
      val grid = binned.groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("bad").as("bads"))
        .withColumn("goods", col("n") - col("bads"))
      val tot = grid.groupBy().agg(sum("bads").as("tb"), sum("goods").as("tg"))
      val terms = grid.crossJoin(broadcast(tot))
        .withColumn("woe_u", expr(
          """CAST(round(1e9 * ln((CAST(bads AS DOUBLE) / CAST(tb AS DOUBLE))
             / (CAST(goods AS DOUBLE) / CAST(tg AS DOUBLE)))) AS BIGINT)"""))
        .withColumn("iv_u", expr(
          """CAST(round((CAST(bads AS DOUBLE) / CAST(tb AS DOUBLE)
             - CAST(goods AS DOUBLE) / CAST(tg AS DOUBLE))
             * CAST(woe_u AS DOUBLE)) AS BIGINT)"""))
      val iv = terms.groupBy().agg(sum("iv_u").as("_iv"))
      terms.crossJoin(broadcast(iv))
        .select(col("bin"), col("n"), col("bads"), col("goods"),
          round(col("woe_u").cast("double") / 1e9, 6).as("woe"),
          round(col("_iv").cast("double") / 1e9, 6).as("iv_total"))
        .orderBy("bin")
    },
    Some("""
      WITH cust AS (SELECT c_custkey,
                           CAST(round(c_acctbal * 100) AS BIGINT) AS bal
                    FROM customer),
      urgent AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
                 WHERE o_orderpriority = '1-URGENT'),
      lab AS (SELECT cust.bal,
                     CASE WHEN urgent.c_custkey IS NULL THEN 0 ELSE 1 END AS bad
              FROM cust LEFT JOIN urgent ON cust.c_custkey = urgent.c_custkey),
      cdf AS (SELECT bal, sum(c) OVER (ORDER BY bal
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(c) OVER () AS n
              FROM (SELECT bal, count(*) AS c FROM lab GROUP BY 1)),
      bounds AS (SELECT min(CASE WHEN cum * 5 >= n THEN bal END) AS b1,
                        min(CASE WHEN cum * 5 >= n * 2 THEN bal END) AS b2,
                        min(CASE WHEN cum * 5 >= n * 3 THEN bal END) AS b3,
                        min(CASE WHEN cum * 5 >= n * 4 THEN bal END) AS b4
                 FROM cdf),
      binned AS (SELECT bad,
                        1 + (bal > b1)::INT + (bal > b2)::INT
                          + (bal > b3)::INT + (bal > b4)::INT AS bin
                 FROM lab, bounds),
      grid AS (SELECT bin, count(*) AS n, CAST(sum(bad) AS BIGINT) AS bads,
                      CAST(count(*) - sum(bad) AS BIGINT) AS goods
               FROM binned GROUP BY 1),
      tot AS (SELECT CAST(sum(bads) AS BIGINT) AS tb,
                     CAST(sum(goods) AS BIGINT) AS tg FROM grid),
      terms AS (SELECT bin, n, bads, goods,
                       CAST(round(1e9 * ln((CAST(bads AS DOUBLE) / CAST(tb AS DOUBLE))
                            / (CAST(goods AS DOUBLE) / CAST(tg AS DOUBLE)))) AS BIGINT) AS woe_u,
                       CAST(round((CAST(bads AS DOUBLE) / CAST(tb AS DOUBLE)
                            - CAST(goods AS DOUBLE) / CAST(tg AS DOUBLE))
                            * CAST(CAST(round(1e9 * ln((CAST(bads AS DOUBLE) / CAST(tb AS DOUBLE))
                                / (CAST(goods AS DOUBLE) / CAST(tg AS DOUBLE)))) AS BIGINT)
                              AS DOUBLE)) AS BIGINT) AS iv_u
                FROM grid, tot),
      iv AS (SELECT CAST(sum(iv_u) AS BIGINT) AS ivt FROM terms)
      SELECT bin, CAST(n AS BIGINT) AS n, bads, goods,
             round(CAST(woe_u AS DOUBLE) / 1e9, 6) AS woe,
             round(CAST(iv.ivt AS DOUBLE) / 1e9, 6) AS iv_total
      FROM terms, iv ORDER BY bin"""))

  // --------------------------------------------------------------- q274

  /** q274 — top-3 orders per nation, executed by the engine's custom
    * TopKPerKey physical operator (graft/plans/TopKPerKey.scala): a
    * partial bounded heap per map task, a key-hash shuffle of ≤
    * k·|keys| candidate rows, a final heap — where the Window +
    * rank ≤ k plan shuffles and sorts the ENTIRE fact table. Same
    * exact answer (top-k distributes over union under the total
    * (value desc, key) order); PlansSpec pins plan shape, exactness
    * vs the Window route, and partition-invariance.
    */
  val q274 = Q("q274_topk_per_group",
    (s, dir) => {
      val df = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.operators.Relational.topKPerKey(df, Seq("nation"),
          Seq(col("cents").desc, col("o_orderkey").asc), 3)
        .orderBy(col("nation"), col("cents").desc, col("o_orderkey"))
    },
    Some("""
      WITH j AS (SELECT n_name AS nation, o_orderkey,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders JOIN customer ON o_custkey = c_custkey
                 JOIN nation ON c_nationkey = n_nationkey),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY nation ORDER BY cents DESC, o_orderkey ASC) AS rn
            FROM j)
      SELECT nation, o_orderkey, cents FROM r WHERE rn <= 3
      ORDER BY nation, cents DESC, o_orderkey"""))

  // --------------------------------------------------------------- q279

  /** q279 — LSH quality audit: for every candidate pair the banded
    * MinHash scheme surfaces (q36's exact config, NO verify
    * threshold), compare the signature-agreement estimate (matching
    * slots / k) against the exact shingle Jaccard — candidate
    * precision at the 0.2 working threshold plus the estimator's MAE.
    * This is the engine auditing its own sketch: banding parameters
    * are chosen from the (r, b) S-curve, and this query measures where
    * the curve ACTUALLY sits on this corpus — the number you check
    * before trusting the near-dup pipeline at a new threshold.
    *
    * Per-pair error quantizes to a 1e6 long (both factors already
    * engine-identical: the estimate is an integer ratio, the exact
    * Jaccard the 6-dp verify value), so the MAE reduce is exact.
    */
  val q279 = Q("q279_lsh_quality_audit",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val cands = graft.operators.Dedup.minhashLshPairs(
        docs, "doc_id", "text", n = 2, k = 12, rowsPerBand = 2, threshold = 0.0)
      val sig = docs.select(col("doc_id"),
        graft.operators.Dedup.minhashSignature(
          call_function("graft_shingle_hashes", col("text"), lit(2)), 12).as("sg"))
      cands
        .join(sig.select(col("doc_id").as("id_a"), col("sg").as("sa")), "id_a")
        .join(sig.select(col("doc_id").as("id_b"), col("sg").as("sb")), "id_b")
        .select(col("jaccard"),
          expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), v -> v))").as("m"))
        .groupBy()
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("jaccard") >= 0.2, 1L).otherwise(0L)).as("n_above_02"),
          sum(expr(
            "CAST(round(1e6 * abs(CAST(m AS DOUBLE) / 12.0 - jaccard)) AS BIGINT)"))
            .as("_err_u"))
        .select(col("n_candidates"), col("n_above_02"),
          round(col("n_above_02").cast("double") / col("n_candidates").cast("double"), 6)
            .as("precision_at_02"),
          round(col("_err_u").cast("double") / col("n_candidates").cast("double") / 1e6, 6)
            .as("minhash_mae"))
    },
    Some(s"""
      WITH ${DataQueries.duckMinhashPairCtes},
      est AS (SELECT j.doc_a, j.doc_b, j.jaccard,
                     len(list_filter(range(1, 13),
                       i -> sa.sg[i] = sb.sg[i])) AS m
              FROM j JOIN sig sa ON j.doc_a = sa.doc_id
                     JOIN sig sb ON j.doc_b = sb.doc_id)
      SELECT count(*) AS n_candidates,
             CAST(sum(CASE WHEN jaccard >= 0.2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above_02,
             round(CAST(sum(CASE WHEN jaccard >= 0.2 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*), 6) AS precision_at_02,
             round(CAST(sum(CAST(round(1e6 * abs(CAST(m AS DOUBLE) / 12.0 - jaccard))
                       AS BIGINT)) AS DOUBLE) / count(*) / 1e6, 6) AS minhash_mae
      FROM est"""))

  // --------------------------------------------------------------- q283

  /** q283 — item-item collaborative filtering: top-3 "customers also
    * bought" neighbors per brand by co-occurrence cosine
    * cos(i,j) = n_ij / √(n_i·n_j) over order baskets — the
    * memory-based recommender primitive, where q222's lift measures
    * association strength but cosine is the score production
    * recommenders actually rank by (it damps popular-item dominance
    * symmetrically).
    *
    * Pairs come from per-basket sorted-combination enumeration (the
    * q245 shape — work is C(|basket brands|,2), never |items|²);
    * basket counts n_i are a bounded rollup broadcast onto the pair
    * table; the cosine is quantized to integer micros (one double per
    * pair, identical text both engines) so the per-item top-3 window
    * ranks on exact (micros DESC, neighbor) — no float tie coin-flips.
    */
  val q283 = Q("q283_item_cf",
    (s, dir) => {
      val items = Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand")).distinct()
        .localCheckpoint(false) // consumers: item counts + pair enumeration
      val ni = items.groupBy("p_brand").agg(count(lit(1)).as("n"))
      val pairs = items.groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("p_brand"))).as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(explode(call_function("graft_pairs_str", col("ids"))).as("p"))
        .groupBy(col("p.a").as("pa"), col("p.b").as("pb"))
        .agg(count(lit(1)).as("nij"))
      val sym = pairs.select(col("pa").as("item"), col("pb").as("nbr"), col("nij"))
        .unionByName(pairs.select(col("pb").as("item"), col("pa").as("nbr"), col("nij")))
      val scored = sym
        .join(broadcast(ni.select(col("p_brand").as("item"), col("n").as("n_i"))), "item")
        .join(broadcast(ni.select(col("p_brand").as("nbr"), col("n").as("n_j"))), "nbr")
        .select(col("item"), col("nbr"),
          expr("""CAST(round(1e6 * CAST(nij AS DOUBLE)
                    / sqrt(CAST(n_i AS DOUBLE) * CAST(n_j AS DOUBLE))) AS BIGINT)""")
            .as("cos_micro"))
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy("item").orderBy(desc("cos_micro"), col("nbr"))))
        .filter(col("rk") <= 3)
        .select(col("item"), col("rk"), col("nbr"),
          round(col("cos_micro").cast("double") / 1e6, 6).as("cosine"))
        .orderBy("item", "rk")
    },
    Some("""
      WITH i AS (SELECT DISTINCT l_orderkey, p_brand FROM lineitem
                 JOIN part ON l_partkey = p_partkey),
      ni AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n FROM i GROUP BY 1),
      p AS (SELECT a.p_brand AS pa, b.p_brand AS pb,
                   CAST(count(*) AS BIGINT) AS nij
            FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
                             AND a.p_brand < b.p_brand
            GROUP BY 1, 2),
      sym AS (SELECT pa AS item, pb AS nbr, nij FROM p
              UNION ALL
              SELECT pb AS item, pa AS nbr, nij FROM p),
      sc AS (SELECT item, nbr,
                    CAST(round(1e6 * CAST(nij AS DOUBLE)
                      / sqrt(CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE))) AS BIGINT)
                      AS cos_micro
             FROM sym JOIN ni a ON sym.item = a.p_brand
                      JOIN ni b ON sym.nbr = b.p_brand),
      rk AS (SELECT item, nbr, cos_micro,
                    row_number() OVER (PARTITION BY item
                      ORDER BY cos_micro DESC, nbr) AS rk
             FROM sc)
      SELECT item, rk, nbr, round(CAST(cos_micro AS DOUBLE) / 1e6, 6) AS cosine
      FROM rk WHERE rk <= 3 ORDER BY item, rk"""))

  // --------------------------------------------------------------- q284

  /** q284 — grid-density outliers in embedding space: project onto
    * dims (1,2), bucket into 0.05-wide grid cells, and flag vectors
    * whose 3×3 cell neighborhood holds < 3 points — the cell-based
    * approximation of density outlier detection (DBSCAN's noise
    * class) that replaces the O(n²) pairwise ε-scan with two grouped
    * passes and a 9-way bounded cell join, the only shape that
    * survives 100 TB of vectors.
    *
    * Cell ids floor the IDENTICAL double product both engines
    * (float→double cast is exact); the neighborhood sum joins the
    * occupied-cell rollup to its 9 offset cells (cells ≤ points, the
    * offset table is a 9-row literal), then points inherit their
    * cell's neighborhood count by one broadcast-able join.
    */
  val q284 = Q("q284_grid_density",
    (s, dir) => {
      import s.implicits._
      val pts = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("CAST(floor(CAST(element_at(embedding, 1) AS DOUBLE) * 20.0) AS BIGINT)").as("cx"),
          expr("CAST(floor(CAST(element_at(embedding, 2) AS DOUBLE) * 20.0) AS BIGINT)").as("cy"))
        .localCheckpoint(false) // consumers: cell rollup + per-point lookup
      val cells = pts.groupBy("cx", "cy").agg(count(lit(1)).as("c"))
      val offsets = Seq(-1L, 0L, 1L).flatMap(dx => Seq(-1L, 0L, 1L).map(dy => (dx, dy)))
        .toDF("dx", "dy")
      val nbh = cells.crossJoin(broadcast(offsets))
        .groupBy((col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
        .agg(sum("c").as("nbh"))
      pts.join(nbh, Seq("cx", "cy"))
        .filter(col("nbh") < 3)
        .select(col("vec_id"), col("cx"), col("cy"), col("nbh"))
        .orderBy("vec_id")
    },
    Some("""
      WITH pts AS (SELECT vec_id,
                          CAST(floor(CAST(embedding[1] AS DOUBLE) * 20.0) AS BIGINT) AS cx,
                          CAST(floor(CAST(embedding[2] AS DOUBLE) * 20.0) AS BIGINT) AS cy
                   FROM embeddings),
      cells AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS c
                FROM pts GROUP BY 1, 2),
      offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                              (1,-1),(1,0),(1,1)),
      nbh AS (SELECT cells.cx + dx AS cx, cells.cy + dy AS cy,
                     CAST(sum(c) AS BIGINT) AS nbh
              FROM cells CROSS JOIN offs GROUP BY 1, 2)
      SELECT vec_id, pts.cx, pts.cy, nbh
      FROM pts JOIN nbh ON pts.cx = nbh.cx AND pts.cy = nbh.cy
      WHERE nbh < 3 ORDER BY vec_id"""))

  // --------------------------------------------------------------- q285

  /** q285 — l-diversity audit: q124 guarantees each (mktsegment ×
    * nation) quasi-identifier group is LARGE, but a large group whose
    * members all share one sensitive value still leaks it — the
    * homogeneity attack l-diversity exists to catch. Sensitive
    * attribute: the account-balance band (width 2500). Per QI group:
    * distinct-l, entropy-l (e^H — the effective number of sensitive
    * values an attacker must distinguish), and the audit rollup of
    * groups failing l ≥ 3 under each definition.
    *
    * Entropy per group is Σ over (group, band) cells of
    * cnt·ln(n/cnt) — each ln goes through the q217 round(·1e9)::long
    * quantization weighted by exact integer counts, so the per-group
    * sum is order-independent; e^H is a final double per group.
    * Shapes: two grouped passes over cells bounded by |QI|·|bands|.
    */
  val q285 = Q("q285_l_diversity",
    (s, dir) => {
      val cells = Tables.load(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"),
          expr("CAST(floor(c_acctbal / 2500.0) AS BIGINT)").as("band"))
        .groupBy("seg", "nat", "band").agg(count(lit(1)).as("cnt"))
      val grp = cells.groupBy("seg", "nat").agg(
        sum("cnt").as("n"), count(lit(1)).as("l_distinct"))
      val ent = cells.join(grp.select(col("seg"), col("nat"), col("n")), Seq("seg", "nat"))
        .select(col("seg"), col("nat"),
          (col("cnt") * expr(
            "CAST(round(1e9 * ln(CAST(n AS DOUBLE) / CAST(cnt AS DOUBLE))) AS BIGINT)"))
            .as("t_nano"))
        .groupBy("seg", "nat").agg(sum("t_nano").as("h_nano_n"))
      val per = grp.join(ent, Seq("seg", "nat"))
        .select(col("seg"), col("nat"), col("n"), col("l_distinct"),
          exp(col("h_nano_n").cast("double") / 1e9 / col("n").cast("double"))
            .as("_el"))
      per.groupBy()
        .agg(count(lit(1)).as("n_groups"),
          min("l_distinct").as("min_l_distinct"),
          sum(when(col("l_distinct") < 3, 1L).otherwise(0L)).as("groups_below_l3"),
          sum(when(col("_el") < 3.0, 1L).otherwise(0L)).as("groups_below_entropy_l3"),
          round(min("_el"), 6).as("min_entropy_l"))
    },
    Some("""
      WITH cells AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
                            CAST(floor(c_acctbal / 2500.0) AS BIGINT) AS band,
                            CAST(count(*) AS BIGINT) AS cnt
                     FROM customer GROUP BY 1, 2, 3),
      grp AS (SELECT seg, nat, CAST(sum(cnt) AS BIGINT) AS n,
                     CAST(count(*) AS BIGINT) AS l_distinct
              FROM cells GROUP BY 1, 2),
      ent AS (SELECT cells.seg, cells.nat,
                     CAST(sum(cnt * CAST(round(1e9 *
                       ln(CAST(n AS DOUBLE) / CAST(cnt AS DOUBLE))) AS BIGINT)) AS BIGINT)
                       AS h_nano_n
              FROM cells JOIN grp ON cells.seg = grp.seg AND cells.nat = grp.nat
              GROUP BY 1, 2),
      per AS (SELECT grp.seg, grp.nat, n, l_distinct,
                     exp(CAST(h_nano_n AS DOUBLE) / 1e9 / CAST(n AS DOUBLE)) AS el
              FROM grp JOIN ent ON grp.seg = ent.seg AND grp.nat = ent.nat)
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
             min(l_distinct) AS min_l_distinct,
             CAST(sum(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_below_l3,
             CAST(sum(CASE WHEN el < 3.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_below_entropy_l3,
             round(min(el), 6) AS min_entropy_l
      FROM per"""))

  /** Round-to-nearest division by 10 on scaled longs (q201's helper —
    * operands here are always non-negative, where `DIV` and `//`
    * agree, so the two engines evaluate the identical integer
    * expression). */
  private def rdiv10nn(x: String, idiv: String): String =
    s"((($x) + 5) $idiv 10)"

  // --------------------------------------------------------------- q286

  /** q286 — Croston's method for intermittent demand: per part, the
    * shipped-quantity series is mostly zero-days with occasional
    * demand spikes — exactly where Holt (q201) degenerates (the
    * zeros drag the level to nothing between spikes). Croston runs
    * TWO EWMAs (α=0.2): one over nonzero demand SIZES, one over
    * inter-demand INTERVALS; forecast demand rate = size/interval.
    *
    * Determinism is q201's recipe verbatim: the recurrences run on
    * 1e6-scaled longs with round-half-away division after each
    * update (operands non-negative, so `DIV`/`//` agree), so every
    * (z, g) state is an integer both engines replay bit-for-bit —
    * the oracle walks the same recursion as a RECURSIVE CTE.
    *
    * Scale: sequential ALONG a part's demand series, parallel ACROSS
    * parts — one (part, day) rollup with map-side partials, then one
    * task-local fold per part over its sorted demand events (~tens
    * of states per series regardless of raw row count).
    */
  val q286 = Q("q286_croston",
    (s, dir) => {
      val d = rdiv10nn(_: String, "DIV")
      val nz = d("2 * e.q * 1000000 + 8 * acc.z")
      val ng = d("2 * CAST(datediff(e.day, acc.day) AS BIGINT) * 1000000 + 8 * acc.g")
      val croston = s"""
        aggregate(
          ys,
          named_struct('z', CAST(0 AS BIGINT), 'g', CAST(0 AS BIGINT),
                       'k', 0, 'day', CAST(NULL AS DATE)),
          (acc, e) -> CASE
            WHEN acc.k = 0 THEN named_struct(
              'z', e.q * CAST(1000000 AS BIGINT), 'g', CAST(0 AS BIGINT),
              'k', 1, 'day', e.day)
            WHEN acc.k = 1 THEN named_struct(
              'z', $nz,
              'g', CAST(datediff(e.day, acc.day) AS BIGINT) * 1000000,
              'k', 2, 'day', e.day)
            ELSE named_struct('z', $nz, 'g', $ng, 'k', acc.k + 1, 'day', e.day)
            END,
          acc -> named_struct('k', acc.k, 'z', acc.z, 'g', acc.g))"""
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_partkey"), to_date(col("l_shipdate")).as("day"))
        .agg(sum(col("l_quantity").cast("long")).as("q"))
        .groupBy("l_partkey")
        .agg(sort_array(collect_list(struct(col("day"), col("q")))).as("ys"))
        .select(col("l_partkey"), expr(croston).as("r"))
        .filter(col("r.k") >= 3)
        .select(col("l_partkey"), col("r.k").as("n_demands"),
          col("r.z").as("size_micro"), col("r.g").as("interval_micro"),
          round(col("r.z").cast("double") / col("r.g").cast("double"), 6)
            .as("demand_rate"))
        .orderBy("l_partkey")
    },
    Some {
      val d = rdiv10nn(_: String, "//")
      val nz = d("2 * x.q * 1000000 + 8 * h.z")
      val ng = d("2 * (x.day - h.day) * 1000000 + 8 * h.g")
      s"""
      WITH RECURSIVE
      daily AS (SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
                       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
                FROM lineitem GROUP BY 1, 2),
      ix AS (SELECT l_partkey, day, q,
                    row_number() OVER (PARTITION BY l_partkey ORDER BY day) AS i
             FROM daily),
      h(l_partkey, i, day, z, g) AS (
        SELECT l_partkey, i, day, q * 1000000, CAST(0 AS BIGINT)
        FROM ix WHERE i = 1
        UNION ALL
        SELECT x.l_partkey, x.i, x.day,
               $nz,
               CASE WHEN h.i = 1 THEN (x.day - h.day) * 1000000 ELSE $ng END
        FROM h JOIN ix x ON x.l_partkey = h.l_partkey AND x.i = h.i + 1),
      last AS (SELECT l_partkey, max(i) AS k FROM h GROUP BY 1)
      SELECT h.l_partkey, h.i AS n_demands, z AS size_micro, g AS interval_micro,
             round(CAST(z AS DOUBLE) / CAST(g AS DOUBLE), 6) AS demand_rate
      FROM h JOIN last ON h.l_partkey = last.l_partkey AND h.i = last.k
      WHERE h.i >= 3
      ORDER BY h.l_partkey"""
    })

  // --------------------------------------------------------------- q287

  /** q287 — SAX motif mining over the daily-revenue series: z-score
    * each day's total revenue, discretize into 4 symbols at the
    * standard-normal quartile breakpoints (±0.6745, 0), and count
    * 3-day symbolic motifs — the Symbolic Aggregate approXimation
    * pipeline behind "what shape does a typical 3-day window take"
    * pattern mining, where raw-value matching would never repeat.
    *
    * Moments are exact (cents summed in DECIMAL); each day's z and
    * symbol come from one identical double comparison per engine.
    * Trigrams are built by CONSECUTIVE-day self-joins on the bounded
    * daily rollup (day+1/day+2 equi-joins — no partition-less
    * window, and calendar gaps simply produce no motif), then one
    * grouped count and a top-5.
    */
  val q287 = Q("q287_sax_motifs",
    (s, dir) => {
      val daily = Tables.load(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"))
        .localCheckpoint(false) // consumers: moments + the symbol scan
      val m = daily.groupBy().agg(
        count(lit(1)).as("n"), sum("cents").as("s"),
        sum(col("cents").cast(DecimalType(19, 0))
          * col("cents").cast(DecimalType(19, 0))).as("ss"))
      val sym = daily.crossJoin(broadcast(m))
        .select(col("day"), expr("""
          CASE WHEN (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                            / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) < -0.6745 THEN 'a'
               WHEN (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                            / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) < 0.0 THEN 'b'
               WHEN (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                            / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) < 0.6745 THEN 'c'
               ELSE 'd' END""").as("sym"))
        .localCheckpoint(false) // three self-join arms
      val s1 = sym.select(col("day"), col("sym").as("s0"))
      val s2 = sym.select(date_sub(col("day"), 1).as("day"), col("sym").as("s1"))
      val s3 = sym.select(date_sub(col("day"), 2).as("day"), col("sym").as("s2"))
      s1.join(s2, "day").join(s3, "day")
        .select(concat(col("s0"), col("s1"), col("s2")).as("motif"))
        .groupBy("motif").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("motif")).limit(5)
    },
    Some("""
      WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS day,
                            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                                 AS BIGINT) AS cents
                     FROM lineitem GROUP BY 1),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s,
                   sum(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) AS ss
            FROM daily),
      sym AS (SELECT day,
                     CASE WHEN (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                               / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                       / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) < -0.6745 THEN 'a'
                          WHEN (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                               / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                       / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) < 0.0 THEN 'b'
                          WHEN (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                               / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                       / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) < 0.6745 THEN 'c'
                          ELSE 'd' END AS sym
              FROM daily CROSS JOIN m)
      SELECT concat(a.sym, b.sym, c.sym) AS motif, CAST(count(*) AS BIGINT) AS cnt
      FROM sym a JOIN sym b ON b.day = a.day + 1
                 JOIN sym c ON c.day = a.day + 2
      GROUP BY 1 ORDER BY cnt DESC, motif LIMIT 5"""))

  // --------------------------------------------------------------- q309

  /** q309 — t-closeness audit (Li/Li/Venkatasubramanian 2007), the
    * step past k-anonymity (q124) and l-diversity (q285): a
    * quasi-identifier group leaks when the DISTRIBUTION of its
    * sensitive attribute strays from the global one, measured by the
    * Earth Mover's Distance over the ordered sensitive domain. For an
    * ordinal attribute with m values and unit spacing, EMD is the
    * mean absolute gap between the group and global CDFs:
    * t = Σ_{i<m-1} |F_g(i) − F(i)| / (m−1).
    *
    * Exactness: CDF gaps are cross-multiplied counts —
    * |cum_g(i)·N − cum(i)·n_g| in DECIMAL(38,0)/HUGEINT — summed
    * exactly, then nano-quantized with ONE truncating division by
    * n_g·N·(m−1) (all operands non-negative, so Spark DIV and DuckDB
    * // agree). Scale shape: two linear grouped passes (group×value
    * cells, global values), a groups×4-threshold densify so absent
    * cells still contribute their full CDF gap, and the 4-row global
    * CDF rides a broadcast — no window touches fact-scale data.
    */
  val q309 = Q("q309_t_closeness",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"),
          expr("CAST(floor(c_acctbal / 1000.0) AS INT)").as("band"),
          expr("CAST(c_nationkey % 5 AS INT)").as("v"))
      val tot = c.groupBy().agg(count(lit(1)).as("ntot"))
      val grp = c.groupBy("seg", "band").agg(count(lit(1)).as("ng"))
      val gcum = c.groupBy("v").agg(count(lit(1)).as("gcnt"))
        .filter(col("v") <= 3)
        .select(explode(expr("sequence(v, 3)")).as("i"), col("gcnt"))
        .groupBy("i").agg(sum("gcnt").as("gcum"))
      val cum = c.filter(col("v") <= 3)
        .groupBy("seg", "band", "v").agg(count(lit(1)).as("cnt"))
        .select(col("seg"), col("band"), explode(expr("sequence(v, 3)")).as("i"), col("cnt"))
        .groupBy("seg", "band", "i").agg(sum("cnt").as("cumg"))
      grp.select(col("seg"), col("band"), col("ng"),
          explode(expr("sequence(0, 3)")).as("i"))
        .join(cum, Seq("seg", "band", "i"), "left")
        .join(broadcast(gcum), Seq("i"))
        .crossJoin(broadcast(tot))
        .select(col("seg"), col("band"), col("ng"), col("ntot"),
          expr("""abs(CAST(coalesce(cumg, 0) AS DECIMAL(38,0)) * ntot
                  - CAST(gcum AS DECIMAL(38,0)) * ng)""").as("term"))
        .groupBy("seg", "band", "ng", "ntot")
        .agg(sum("term").as("tsum"))
        .select(col("seg"), col("band"), col("ng"),
          expr("""CAST((tsum * 1000000000)
                  div (CAST(ng AS DECIMAL(38,0)) * ntot * 4) AS BIGINT)""").as("t_nano"))
        .orderBy(desc("t_nano"), col("seg"), col("band"))
        .limit(15)
    },
    Some("""
      WITH c AS (SELECT c_mktsegment AS seg,
                        CAST(floor(c_acctbal / 1000.0) AS INTEGER) AS band,
                        CAST(c_nationkey % 5 AS INTEGER) AS v
                 FROM customer),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM c),
      grp AS (SELECT seg, band, CAST(count(*) AS BIGINT) AS ng FROM c GROUP BY 1, 2),
      gd AS (SELECT v, CAST(count(*) AS BIGINT) AS gcnt FROM c GROUP BY 1),
      gcum AS (SELECT i.range AS i, CAST(sum(gcnt) AS BIGINT) AS gcum
               FROM range(4) i JOIN gd ON gd.v <= i.range GROUP BY 1),
      cg AS (SELECT seg, band, v, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2, 3),
      cum AS (SELECT grp.seg, grp.band, i.range AS i,
                     CAST(coalesce(sum(cg.cnt), 0) AS BIGINT) AS cumg
              FROM grp CROSS JOIN range(4) i
                   LEFT JOIN cg ON cg.seg = grp.seg AND cg.band = grp.band
                                AND cg.v <= i.range
              GROUP BY 1, 2, 3),
      terms AS (SELECT cum.seg, cum.band, grp.ng, t.ntot,
                       abs(CAST(cum.cumg AS HUGEINT) * t.ntot
                           - CAST(gcum.gcum AS HUGEINT) * grp.ng) AS term
                FROM cum
                     JOIN gcum ON cum.i = gcum.i
                     JOIN grp ON grp.seg = cum.seg AND grp.band = cum.band
                     CROSS JOIN tot t)
      SELECT seg, band, ng,
             CAST((sum(term) * 1000000000)
                  // (CAST(ng AS HUGEINT) * ntot * 4) AS BIGINT) AS t_nano
      FROM terms
      GROUP BY seg, band, ng, ntot
      ORDER BY t_nano DESC, seg, band
      LIMIT 15"""))

  // --------------------------------------------------------------- q312

  /** q312 — equalized-odds audit: per market segment, the TPR and FPR
    * of a fixed spend-threshold classifier against the urgency label,
    * plus the fleet-wide max−min gap on each rate — the group-fairness
    * criterion (Hardt et al. 2016) that q269's disparate impact
    * (prediction rates alone) cannot see: a model can match positive
    * rates across groups while erring on completely different people.
    *
    * Exactness: the four confusion cells per group are one
    * conditional rollup of exact longs; rates are micro-quantized by
    * (2a+d) div 2d (non-negative operands); the gaps are max−min over
    * the 5-row rate table, broadcast back — no window, two tiny
    * shuffles beyond the customer⋈orders equi-join.
    */
  val q312 = Q("q312_equalized_odds",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          expr("CAST(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS BIGINT)")
            .as("y"),
          expr("CAST(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS BIGINT)").as("p"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))
      val cells = o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("seg")
        .agg(expr("sum(y * p)").as("tp"), expr("sum(y * (1 - p))").as("fn"),
          expr("sum((1 - y) * p)").as("fp"), expr("sum((1 - y) * (1 - p))").as("tn"))
        .select(col("seg"), col("tp"), col("fn"), col("fp"), col("tn"),
          expr("CASE WHEN tp + fn = 0 THEN 0 ELSE (2 * tp * 1000000 + (tp + fn)) div (2 * (tp + fn)) END")
            .as("tpr_micro"),
          expr("CASE WHEN fp + tn = 0 THEN 0 ELSE (2 * fp * 1000000 + (fp + tn)) div (2 * (fp + tn)) END")
            .as("fpr_micro"))
        .localCheckpoint(false) // 5-row relation feeds both the rows and the gap
      val gaps = cells.groupBy()
        .agg(expr("max(tpr_micro) - min(tpr_micro)").as("tpr_gap_micro"),
          expr("max(fpr_micro) - min(fpr_micro)").as("fpr_gap_micro"))
      cells.crossJoin(broadcast(gaps))
        .select(col("seg"), col("tp"), col("fn"), col("fp"), col("tn"),
          round(col("tpr_micro").cast("double") / 1e6, 6).as("tpr"),
          round(col("fpr_micro").cast("double") / 1e6, 6).as("fpr"),
          round(col("tpr_gap_micro").cast("double") / 1e6, 6).as("tpr_gap"),
          round(col("fpr_gap_micro").cast("double") / 1e6, 6).as("fpr_gap"))
        .orderBy("seg")
    },
    Some("""
      WITH j AS (SELECT c.c_mktsegment AS seg,
                        CAST(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END AS BIGINT) AS y,
                        CAST(CASE WHEN o.o_totalprice > 150000 THEN 1 ELSE 0 END AS BIGINT) AS p
                 FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      cells AS (SELECT seg,
                       CAST(sum(y * p) AS BIGINT) AS tp,
                       CAST(sum(y * (1 - p)) AS BIGINT) AS fn,
                       CAST(sum((1 - y) * p) AS BIGINT) AS fp,
                       CAST(sum((1 - y) * (1 - p)) AS BIGINT) AS tn
                FROM j GROUP BY 1),
      rates AS (SELECT *,
                       CASE WHEN tp + fn = 0 THEN 0
                            ELSE (2 * tp * 1000000 + (tp + fn)) // (2 * (tp + fn)) END AS tpr_micro,
                       CASE WHEN fp + tn = 0 THEN 0
                            ELSE (2 * fp * 1000000 + (fp + tn)) // (2 * (fp + tn)) END AS fpr_micro
                FROM cells),
      gaps AS (SELECT max(tpr_micro) - min(tpr_micro) AS tg,
                      max(fpr_micro) - min(fpr_micro) AS fg
               FROM rates)
      SELECT seg, tp, fn, fp, tn,
             round(CAST(tpr_micro AS DOUBLE) / 1e6, 6) AS tpr,
             round(CAST(fpr_micro AS DOUBLE) / 1e6, 6) AS fpr,
             round(CAST(tg AS DOUBLE) / 1e6, 6) AS tpr_gap,
             round(CAST(fg AS DOUBLE) / 1e6, 6) AS fpr_gap
      FROM rates CROSS JOIN gaps
      ORDER BY seg"""))

  // --------------------------------------------------------------- q340

  /** q340 — Bradley-Terry preference-strength fit (Hunter 2004 MM
    * algorithm): the model behind RLHF preference data — pairwise
    * "A beat B" judgments → a latent strength per player — and the
    * data-QA step that runs before a reward model trains on those
    * judgments (inconsistent or degenerate preference sets surface as
    * pathological θ). Comparisons are synthesized from orders under
    * the TRUE BT model: players a = okey%8, b = (a+1+(okey div 8)%7)%8,
    * and the winner draw `(okey div 56) % (a+b+2) ≤ max(a,b)` makes
    * the stronger (higher-indexed) player win with probability
    * exactly (hi+1)/(a+b+2) = θ_hi/(θ_lo+θ_hi) for θ_i = i+1 — so the
    * fit genuinely recovers a planted strength ladder, not noise.
    *
    * Scale shape: ONE distributed pass reduces the comparison stream
    * to the bounded 28-cell pair matrix (the only shuffle); the 5 MM
    * iterations run driver-side over ≤8 longs of state (the q307
    * discipline — iterating Spark jobs over an 8-row table would be
    * scheduler overhead, not parallelism). Every iteration is
    * nano/pico-quantized to exact integers (per-pair terms to 1e15
    * fixed-point, summed exactly; θ renormalized to Σθ=8e9 nanos), so
    * engine and oracle agree bit-for-bit with NO order-dependent
    * double reduction anywhere. The oracle unrolls all 5 iterations
    * as CTE stages over the same quantized arithmetic.
    */
  val q340 = Q("q340_bradley_terry",
    (s, dir) => {
      val cells = Tables.load(s, dir, "orders")
        .selectExpr("o_orderkey % 8 AS a",
          "(o_orderkey % 8 + 1 + (o_orderkey div 8) % 7) % 8 AS b",
          "o_orderkey AS okey")
        .selectExpr("least(a, b) AS lo", "greatest(a, b) AS hi",
          "CASE WHEN (okey div 56) % (a + b + 2) <= greatest(a, b) " +
            "THEN greatest(a, b) ELSE least(a, b) END AS winner")
        .groupBy("lo", "hi")
        .agg(count(lit(1)).as("nij"),
          sum(when(col("winner") === col("hi"), 1L).otherwise(0L)).as("whi"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy { case (lo, hi, _, _) => (lo, hi) }
      val n = 8
      val nij = Array.ofDim[Long](n, n)
      val wins = new Array[Long](n)
      val games = new Array[Long](n)
      cells.foreach { case (lo, hi, nn, whi) =>
        nij(lo.toInt)(hi.toInt) = nn; nij(hi.toInt)(lo.toInt) = nn
        wins(hi.toInt) += whi; wins(lo.toInt) += nn - whi
        games(lo.toInt) += nn; games(hi.toInt) += nn
      }
      // MM loop over bounded state; quantization mirrors the oracle's
      // round() (half-away-from-zero == floor(x+0.5) for positives)
      def q(x: Double): Long = math.floor(x + 0.5).toLong
      var th = Array.fill(n)(1000000000L)
      for (_ <- 1 to 5) {
        val raw = (0 until n).map { i =>
          var den = 0L
          var j = 0
          while (j < n) {
            if (j != i && nij(i)(j) > 0)
              den += q((1e15 * nij(i)(j)) / (th(i) + th(j)).toDouble)
            j += 1
          }
          q((1e15 * wins(i)) / den.toDouble)
        }.toArray
        val sRaw = raw.sum
        th = raw.map(r => q((r.toDouble * 8e9) / sRaw.toDouble))
      }
      val rows = (0 until n).map(i => (i.toLong, games(i), wins(i), th(i)))
        .sortBy { case (i, _, _, t) => (-t, i) }
        .zipWithIndex
        .map { case ((i, g, w, t), r) => (i, g, w, t, (r + 1).toLong) }
        .sortBy(_._1)
      s.createDataFrame(rows)
        .toDF("player", "games", "wins", "theta_nanos", "rank")
    },
    Some {
      val iters = (1 to 5).map { k =>
        s"""      d$k AS (
      SELECT w.i, w.wi,
             CAST(sum(CAST(round((1e15 * p.nij) / CAST(ti.th + tj.th AS DOUBLE)) AS BIGINT)) AS BIGINT) AS den
      FROM wins w JOIN pairs p ON p.i = w.i
      JOIN t${k - 1} ti ON ti.i = p.i JOIN t${k - 1} tj ON tj.i = p.j
      GROUP BY w.i, w.wi),
      r$k AS (SELECT i, CAST(round((1e15 * wi) / CAST(den AS DOUBLE)) AS BIGINT) AS raw FROM d$k),
      t$k AS (SELECT i, CAST(round((CAST(raw AS DOUBLE) * 8e9) / CAST(z.s AS DOUBLE)) AS BIGINT) AS th
              FROM r$k CROSS JOIN (SELECT CAST(sum(raw) AS BIGINT) AS s FROM r$k) z)"""
      }.mkString(",\n")
      s"""
      WITH g AS (
        SELECT o_orderkey % 8 AS a,
               (o_orderkey % 8 + 1 + (o_orderkey // 8) % 7) % 8 AS b,
               o_orderkey AS okey
        FROM orders),
      m AS (
        SELECT least(a, b) AS lo, greatest(a, b) AS hi,
               CASE WHEN (okey // 56) % (a + b + 2) <= greatest(a, b)
                    THEN greatest(a, b) ELSE least(a, b) END AS winner
        FROM g),
      cells AS (
        SELECT lo, hi, CAST(count(*) AS BIGINT) AS nij,
               CAST(sum(CASE WHEN winner = hi THEN 1 ELSE 0 END) AS BIGINT) AS whi
        FROM m GROUP BY lo, hi),
      players AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 8)),
      wins AS (
        SELECT p.i,
               CAST(coalesce(sum(CASE WHEN c.hi = p.i THEN c.whi
                                      WHEN c.lo = p.i THEN c.nij - c.whi END), 0) AS BIGINT) AS wi,
               CAST(coalesce(sum(c.nij), 0) AS BIGINT) AS games
        FROM players p LEFT JOIN cells c ON p.i = c.lo OR p.i = c.hi
        GROUP BY p.i),
      pairs AS (
        SELECT lo AS i, hi AS j, nij FROM cells
        UNION ALL SELECT hi, lo, nij FROM cells),
      t0 AS (SELECT i, CAST(1000000000 AS BIGINT) AS th FROM players),
$iters
      SELECT w.i AS player, w.games, w.wi AS wins, t5.th AS theta_nanos,
             CAST(row_number() OVER (ORDER BY t5.th DESC, w.i) AS BIGINT) AS rank
      FROM wins w JOIN t5 ON t5.i = w.i
      ORDER BY player"""
    })

  val all: Seq[Q] = Seq(q245, q246, q247, q248, q249, q250, q251, q252, q253,
    q260, q261, q262, q263, q264, q265, q266, q267, q268, q269, q270,
    q271, q272, q273, q274, q279, q283, q284, q285, q286, q287, q309, q312,
    q340)
}
