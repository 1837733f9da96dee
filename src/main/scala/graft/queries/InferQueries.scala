package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.Dedup
import graft.queries.Q.duckHash64

/** Round-8 batch 1 — classical statistical inference at scale: the
  * hypothesis-test family (rank-sum, Welch, ANOVA, Brown-Forsythe,
  * log-rank), robust trend estimation (Theil-Sen), inter-rater
  * agreement (Cohen's kappa) and distribution distance
  * (Jensen-Shannon). These are the tests every data-quality /
  * experimentation platform runs over aggregates; each is expressed
  * as exact integer/DECIMAL moments plus a final, single-evaluation
  * double formula, so the answer is independent of partition count
  * and reduction order — the module family's determinism policy
  * (CoreQueries scaladoc).
  *
  * Scale shapes: every test reduces the corpus with linear grouped
  * passes; pairwise work (Theil-Sen) fans out only within a bounded
  * per-group grid; the only partition-less windows are over
  * distinct-value tables bounded by construction (and registered in
  * PlanSpec's global-window whitelist).
  */
object InferQueries {

  private val duckTokens = "string_split_regex(trim(text), '\\s+')"

  // --------------------------------------------------------------- q237

  /** q237 — Mann-Whitney U rank-sum test: is `l_quantity` of returned
    * lineitems ('R') stochastically larger than accepted ones ('A')?
    * The non-parametric two-sample test of choice when the metric is
    * ordinal or heavy-tailed (where q238's t-test loses power).
    *
    * No row is ever ranked individually: quantities are small
    * integers, so average ranks come from the ≤50-row distinct-value
    * grid (rank(v) = count_below + (c+1)/2, doubled to stay integral
    * — the q149 recipe), and the rank-sum is Σ c₁(v)·2r(v) — one
    * grouped pass plus a 50-row window. The tie-corrected normal
    * approximation σ² = (n₁n₂/12)·((N+1) − Σ(t³−t)/(N(N−1))) uses
    * Σ(t³−t) accumulated exactly as longs.
    */
  val q237 = Q("q237_mann_whitney",
    (s, dir) => {
      val b = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_quantity").cast("long").as("v"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("g1"))
      val grid = b.groupBy("v")
        .agg(sum("g1").as("c1"), count(lit(1)).as("c"))
      val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
      val m = grid
        .withColumn("_cb", coalesce(sum("c").over(w), lit(0L)))
        .groupBy()
        .agg(sum("c1").as("n1"), sum(col("c") - col("c1")).as("n2"),
          sum(col("c1") * (lit(2) * col("_cb") + col("c") + 1)).as("r1d"),
          sum(col("c") * col("c") * col("c") - col("c")).as("tie"))
      val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
      val nn = (col("n1") + col("n2")).cast("double")
      val sigma = sqrt(n1 * n2 / 12.0
        * (nn + 1.0 - col("tie").cast("double") / (nn * (nn - 1.0))))
      m.select(col("n1"), col("n2"),
        ((col("r1d") - col("n1") * (col("n1") + 1)).cast("double") / 2.0).as("u1"),
        round(((col("r1d") - col("n1") * (col("n1") + 1)).cast("double")
          - n1 * n2) / (lit(2.0) * sigma), 6).as("z"))
    },
    Some("""
      WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS v,
                        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g1
                 FROM lineitem WHERE l_returnflag IN ('A', 'R')),
      grid AS (SELECT v, CAST(sum(g1) AS BIGINT) AS c1,
                      CAST(count(*) AS BIGINT) AS c
               FROM b GROUP BY v),
      cb AS (SELECT v, c1, c,
                    coalesce(sum(c) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
             FROM grid),
      m AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(sum(c - c1) AS BIGINT) AS n2,
                   CAST(sum(c1 * (2 * cb + c + 1)) AS BIGINT) AS r1d,
                   CAST(sum(c * c * c - c) AS BIGINT) AS tie
            FROM cb)
      SELECT n1, n2,
             CAST(r1d - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
             round((CAST(r1d - n1 * (n1 + 1) AS DOUBLE)
                    - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                   / (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                       * (CAST(n1 + n2 AS DOUBLE) + 1.0
                          - CAST(tie AS DOUBLE)
                            / (CAST(n1 + n2 AS DOUBLE)
                               * (CAST(n1 + n2 AS DOUBLE) - 1.0))))), 6) AS z
      FROM m"""))

  // --------------------------------------------------------------- q238

  /** q238 — Welch's unequal-variance t-test: do urgent orders
    * ('1-URGENT') carry a different mean value than low-priority ones
    * ('5-LOW')? The default two-sample mean test (pooled-variance
    * Student's t is wrong whenever group variances differ, which in
    * real data is always), with Welch–Satterthwaite degrees of
    * freedom.
    *
    * One grouped pass collects n/Σx/Σx² per group as exact
    * DECIMAL(38,0) over integer cents; means, sample variances, t and
    * df are then single-evaluation double formulas spelled in the
    * same operation order on both engines.
    */
  val q238 = Q("q238_welch_ttest",
    (s, dir) => {
      val b = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(2).as("g"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("ct"))
      val g = b.groupBy("g").agg(
        count(lit(1)).as("n"),
        sum(col("ct").cast(DecimalType(38, 0))).as("s"),
        sum(col("ct").cast(DecimalType(19, 0)) * col("ct").cast(DecimalType(19, 0))).as("ss"))
      def m(i: Int, c: String) = max(when(col("g") === i, col(c)))
      val agg = g.groupBy().agg(
        m(1, "n").as("n1"), m(1, "s").as("s1"), m(1, "ss").as("ss1"),
        m(2, "n").as("n2"), m(2, "s").as("s2"), m(2, "ss").as("ss2"))
      val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
      val mean1 = col("s1").cast("double") / n1
      val mean2 = col("s2").cast("double") / n2
      val v1 = (col("ss1").cast("double") - col("s1").cast("double") * col("s1").cast("double") / n1) / (n1 - 1.0)
      val v2 = (col("ss2").cast("double") - col("s2").cast("double") * col("s2").cast("double") / n2) / (n2 - 1.0)
      val se1 = v1 / n1; val se2 = v2 / n2
      agg.select(col("n1"), col("n2"),
        round(mean1, 6).as("mean1_cents"), round(mean2, 6).as("mean2_cents"),
        round((mean1 - mean2) / sqrt(se1 + se2), 6).as("t_welch"),
        round((se1 + se2) * (se1 + se2)
          / (se1 * se1 / (n1 - 1.0) + se2 * se2 / (n2 - 1.0)), 6).as("df"))
    },
    Some("""
      WITH b AS (SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS g,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS ct
                 FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      gr AS (SELECT g, count(*) AS n,
                    sum(CAST(ct AS DECIMAL(38,0))) AS s,
                    sum(CAST(ct AS DECIMAL(19,0)) * CAST(ct AS DECIMAL(19,0))) AS ss
             FROM b GROUP BY g),
      a AS (SELECT max(CASE WHEN g = 1 THEN n END) AS n1,
                   max(CASE WHEN g = 1 THEN s END) AS s1,
                   max(CASE WHEN g = 1 THEN ss END) AS ss1,
                   max(CASE WHEN g = 2 THEN n END) AS n2,
                   max(CASE WHEN g = 2 THEN s END) AS s2,
                   max(CASE WHEN g = 2 THEN ss END) AS ss2
            FROM gr)
      SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS mean1_cents,
             round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS mean2_cents,
             round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                    - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                   / sqrt((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE)
                        + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) / CAST(n2 AS DOUBLE)), 6) AS t_welch,
             round(((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE)
                    + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) / CAST(n2 AS DOUBLE))
                   * ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE)
                    + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) / CAST(n2 AS DOUBLE))
                   / ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE)
                      * ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE))
                      / (CAST(n1 AS DOUBLE) - 1.0)
                    + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) / CAST(n2 AS DOUBLE)
                      * ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) / CAST(n2 AS DOUBLE))
                      / (CAST(n2 AS DOUBLE) - 1.0)), 6) AS df
      FROM a"""))

  // --------------------------------------------------------------- q239

  /** q239 — one-way ANOVA F across the three `l_returnflag` groups on
    * `l_extendedprice`: between/within sum-of-squares from per-group
    * exact moments — the k-sample generalization of q238 and the
    * gatekeeper test before any per-group drill-down.
    *
    * SSB = Σ s_g²/n_g − S²/N and SSW = Σ ss_g − Σ s_g²/n_g come from
    * one grouped pass (3 rows) + one 3-row reduce; integer cents in
    * DECIMAL(38,0) until the final doubles.
    */
  val q239 = Q("q239_anova_f",
    (s, dir) => {
      val g = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("ct"))
        .groupBy("g").agg(
          count(lit(1)).as("n"),
          sum(col("ct").cast(DecimalType(38, 0))).as("s"),
          sum(col("ct").cast(DecimalType(19, 0)) * col("ct").cast(DecimalType(19, 0))).as("ss"))
      // The k-row reduce never sums raw doubles: Σx² stays DECIMAL and
      // Σ(s_g²/n_g) is quantized per group to a 1e6-unit long (values
      // ~1e21 exceed long at unit scale), so both cross-group sums are
      // exact in any reduction order.
      val a = g.select(col("n"), col("s"), col("ss"),
          expr("CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6) AS BIGINT)").as("sq_n_m"))
        .groupBy().agg(
          count(lit(1)).as("k"), sum("n").as("n_total"),
          sum(col("s")).as("s_all"), sum(col("ss")).as("ss_all"),
          sum("sq_n_m").as("sqn_m"))
      val sqn = col("sqn_m").cast("double") * 1e6
      val ssb = sqn - col("s_all").cast("double") * col("s_all").cast("double") / col("n_total").cast("double")
      val ssw = col("ss_all").cast("double") - sqn
      a.select(col("k"), col("n_total"),
        round(ssb / (col("k").cast("double") - 1.0)
          / (ssw / (col("n_total").cast("double") - col("k").cast("double"))), 6).as("f_stat"))
    },
    Some("""
      WITH g AS (SELECT l_returnflag AS g, count(*) AS n,
                        sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS s,
                        sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(19,0))
                            * CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(19,0))) AS ss
                 FROM lineitem GROUP BY 1),
      a AS (SELECT count(*) AS k, sum(n) AS n_total, sum(s) AS s_all,
                   sum(ss) AS ss_all,
                   sum(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                            / CAST(n AS DOUBLE) / 1e6) AS BIGINT)) AS sqn_m
            FROM g)
      SELECT CAST(k AS BIGINT) AS k, CAST(n_total AS BIGINT) AS n_total,
             round((CAST(sqn_m AS DOUBLE) * 1e6
                      - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n_total AS DOUBLE))
                     / (CAST(k AS DOUBLE) - 1.0)
                   / ((CAST(ss_all AS DOUBLE) - CAST(sqn_m AS DOUBLE) * 1e6)
                      / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS f_stat
      FROM a"""))

  // --------------------------------------------------------------- q240

  /** q240 — Brown-Forsythe test (Levene with medians): do the five
    * order-priority groups have equal spread in `o_totalprice`? ANOVA
    * on |x − group-median| — the robust variance-homogeneity check
    * run before trusting any pooled-variance analysis, immune to the
    * heavy tails that break classic Levene-with-means.
    *
    * Group medians are exact lower-medians off the per-group
    * distinct-value CDF (windows PARTITIONED BY GROUP over each
    * group's distinct cents — never corpus-global); deviations are
    * integers, so the second-pass ANOVA reuses q239's exact-moment
    * recipe unchanged.
    */
  val q240 = Q("q240_brown_forsythe",
    (s, dir) => {
      val b = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority").as("g"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("ct"))
      val wg = Window.partitionBy("g").orderBy("ct")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = b.groupBy("g", "ct").agg(count(lit(1)).as("c"))
        .withColumn("_cum", sum("c").over(wg))
        .withColumn("_n", sum("c").over(Window.partitionBy("g")))
        .groupBy("g")
        .agg(min(when(lit(2) * col("_cum") >= col("_n"), col("ct"))).as("med"))
      val dev = b.join(broadcast(med), Seq("g"))
        .select(col("g"), abs(col("ct") - col("med")).as("d"))
      val g = dev.groupBy("g").agg(
        count(lit(1)).as("n"),
        sum(col("d").cast(DecimalType(38, 0))).as("s"),
        sum(col("d").cast(DecimalType(19, 0)) * col("d").cast(DecimalType(19, 0))).as("ss"))
      // Same exact-reduce discipline as q239: DECIMAL Σd² and 1e6-unit
      // quantized Σ(s_g²/n_g) — no cross-group double accumulation.
      val a = g.select(col("n"), col("s"), col("ss"),
          expr("CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6) AS BIGINT)").as("sq_n_m"))
        .groupBy().agg(
          count(lit(1)).as("k"), sum("n").as("n_total"),
          sum(col("s")).as("s_all"), sum(col("ss")).as("ss_all"),
          sum("sq_n_m").as("sqn_m"))
      val sqn = col("sqn_m").cast("double") * 1e6
      val ssb = sqn - col("s_all").cast("double") * col("s_all").cast("double") / col("n_total").cast("double")
      val ssw = col("ss_all").cast("double") - sqn
      a.select(col("k"), col("n_total"),
        round(ssb / (col("k").cast("double") - 1.0)
          / (ssw / (col("n_total").cast("double") - col("k").cast("double"))), 6).as("f_bf"))
    },
    Some("""
      WITH b AS (SELECT o_orderpriority AS g,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS ct
                 FROM orders),
      grid AS (SELECT g, ct, count(*) AS c FROM b GROUP BY 1, 2),
      cdf AS (SELECT g, ct, c,
                     sum(c) OVER (PARTITION BY g ORDER BY ct
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     sum(c) OVER (PARTITION BY g) AS n
              FROM grid),
      med AS (SELECT g, min(CASE WHEN 2 * cum >= n THEN ct END) AS med
              FROM cdf GROUP BY g),
      dev AS (SELECT b.g, abs(b.ct - med.med) AS d
              FROM b JOIN med ON b.g = med.g),
      g2 AS (SELECT g, count(*) AS n,
                    sum(CAST(d AS DECIMAL(38,0))) AS s,
                    sum(CAST(d AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))) AS ss
             FROM dev GROUP BY g),
      a AS (SELECT count(*) AS k, sum(n) AS n_total, sum(s) AS s_all,
                   sum(ss) AS ss_all,
                   sum(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                            / CAST(n AS DOUBLE) / 1e6) AS BIGINT)) AS sqn_m
            FROM g2)
      SELECT CAST(k AS BIGINT) AS k, CAST(n_total AS BIGINT) AS n_total,
             round((CAST(sqn_m AS DOUBLE) * 1e6
                      - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n_total AS DOUBLE))
                     / (CAST(k AS DOUBLE) - 1.0)
                   / ((CAST(ss_all AS DOUBLE) - CAST(sqn_m AS DOUBLE) * 1e6)
                      / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS f_bf
      FROM a"""))

  // --------------------------------------------------------------- q241

  /** q241 — Theil-Sen robust trend per nation: the (lower-)median of
    * all pairwise slopes of the monthly revenue series — the slope
    * estimator that shrugs off the outlier months OLS (q127) chases
    * (29% breakdown point).
    *
    * Pair fan-out is bounded by construction: the series is first
    * reduced to ≤|months| (~80) exact-cents points per nation, so the
    * equi-join on nation expands to ≤ m(m−1)/2 ≈ 3.2k slope pairs per
    * nation — never row-level pairs. Each slope Δy/Δx is a single
    * IEEE division of exact integers (bit-identical on both engines);
    * the median picks rank ⌈p/2⌉ through a window PARTITIONED BY
    * NATION.
    */
  val q241 = Q("q241_theil_sen",
    (s, dir) => {
      val monthly = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1).as("m"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y"))
      val a = monthly.select(col("nation"), col("m").as("m1"), col("y").as("y1"))
      val b = monthly.select(col("nation"), col("m").as("m2"), col("y").as("y2"))
      val pairs = a.join(broadcast(b), Seq("nation")).filter(col("m1") < col("m2"))
        .select(col("nation"),
          ((col("y2") - col("y1")).cast("double")
            / (col("m2") - col("m1")).cast("double")).as("slope"))
      val wn = Window.partitionBy("nation").orderBy("slope")
      pairs
        .withColumn("_rn", row_number().over(wn))
        .withColumn("_np", count(lit(1)).over(Window.partitionBy("nation")))
        .filter(expr("_rn = (_np + 1) div 2"))
        .select(col("nation"), col("_np").as("n_pairs"),
          round(col("slope"), 6).as("sen_slope_cents_per_month"))
        .orderBy("nation")
    },
    Some("""
      WITH monthly AS (
        SELECT n_name AS nation,
               (CAST(year(o_orderdate) AS BIGINT) - 1995) * 12
                 + CAST(month(o_orderdate) AS BIGINT) - 1 AS m,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      pairs AS (SELECT a.nation,
                       CAST(b.y - a.y AS DOUBLE) / CAST(b.m - a.m AS DOUBLE) AS slope
                FROM monthly a JOIN monthly b
                  ON a.nation = b.nation AND a.m < b.m),
      r AS (SELECT nation, slope,
                   row_number() OVER (PARTITION BY nation ORDER BY slope) AS rn,
                   count(*) OVER (PARTITION BY nation) AS np
            FROM pairs)
      SELECT nation, CAST(np AS BIGINT) AS n_pairs,
             round(slope, 6) AS sen_slope_cents_per_month
      FROM r WHERE rn = (np + 1) // 2
      ORDER BY nation"""))

  // --------------------------------------------------------------- q242

  /** q242 — log-rank test: do users acquired via 'click' churn at a
    * different rate than users acquired via 'view'? The standard
    * censoring-aware comparison of two survival curves (the test
    * behind every retention A/B readout), over q211's lifetime
    * derivation: duration = first→last activity hours, censored if
    * still active in the final 48 h.
    *
    * At each distinct death time the hypergeometric term
    * E₁ = d·n₁/N and V = d·(n₁/N)(n₂/N)(N−d)/(N−1) is quantized to a
    * 1e6 long from exact integer at-risk counts, then summed exactly
    * — order-independent, and the χ² is one final double. The event
    * grid is ≤720 rows (hours in the 30-day window), so its
    * partition-less cumulative window is bounded by construction
    * (PlanSpec-whitelisted).
    */
  val q242 = Q("q242_logrank",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").cast("long").as("_sec"))
      val wu = Window.partitionBy("user_id").orderBy(col("_sec").asc, col("event_id").asc)
      val users = ev
        .withColumn("_rn", row_number().over(wu))
        .groupBy("user_id")
        .agg(min("_sec").as("first_sec"), max("_sec").as("last_sec"),
          max(when(col("_rn") === 1, col("event_type"))).as("cohort"))
        .filter(col("cohort").isin("click", "view"))
      val wmax = ev.agg(max("_sec").as("_wmax"))
      val lives = users.crossJoin(broadcast(wmax))
        .select(when(col("cohort") === "click", 1L).otherwise(0L).as("g1"),
          expr("(last_sec - first_sec) div 3600").as("dur_h"),
          when(col("last_sec") < col("_wmax") - 48L * 3600, 1L).otherwise(0L).as("died"))
      val grid = lives.groupBy("dur_h").agg(
        sum("g1").as("a1"), sum(lit(1) - col("g1")).as("a2"),
        sum(col("g1") * col("died")).as("d1"),
        sum((lit(1) - col("g1")) * col("died")).as("d2"))
      val wt = Window.orderBy("dur_h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val terms = grid
        .withColumn("r1", sum("a1").over(wt))
        .withColumn("r2", sum("a2").over(wt))
        .filter(col("d1") + col("d2") > 0)
        .select(col("d1"),
          expr("""CAST(round(1e6 * CAST((d1 + d2) * r1 AS DOUBLE)
                  / CAST(r1 + r2 AS DOUBLE)) AS BIGINT)""").as("e1u"),
          expr("""CASE WHEN r1 + r2 < 2 THEN 0 ELSE
                  CAST(round(1e6 * CAST((d1 + d2) * r1 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE)
                       * (CAST(r2 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE))
                       * (CAST(r1 + r2 - d1 - d2 AS DOUBLE) / CAST(r1 + r2 - 1 AS DOUBLE)))
                    AS BIGINT) END""").as("vu"))
      terms.groupBy().agg(
          sum("d1").as("o1"), sum("e1u").as("_e1u"), sum("vu").as("_vu"))
        .select(col("o1"),
          round(col("_e1u").cast("double") / 1e6, 6).as("e1"),
          round(pow(col("o1").cast("double") - col("_e1u").cast("double") / 1e6, 2)
            / (col("_vu").cast("double") / 1e6), 6).as("chi2_logrank"))
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
                        epoch_us(ts) // 1000000 AS sec FROM events),
      fe AS (SELECT user_id, event_type,
                    row_number() OVER (PARTITION BY user_id
                                       ORDER BY sec ASC, event_id ASC) AS rn
             FROM e),
      u AS (SELECT e.user_id, min(sec) AS first_sec, max(sec) AS last_sec
            FROM e GROUP BY 1),
      uc AS (SELECT u.user_id, u.first_sec, u.last_sec, fe.event_type AS cohort
             FROM u JOIN fe ON u.user_id = fe.user_id AND fe.rn = 1
             WHERE fe.event_type IN ('click', 'view')),
      wm AS (SELECT max(sec) AS wmax FROM e),
      lives AS (SELECT CASE WHEN cohort = 'click' THEN 1 ELSE 0 END AS g1,
                       (last_sec - first_sec) // 3600 AS dur_h,
                       CASE WHEN last_sec < wm.wmax - 48 * 3600 THEN 1 ELSE 0 END AS died
                FROM uc, wm),
      grid AS (SELECT dur_h,
                      CAST(sum(g1) AS BIGINT) AS a1,
                      CAST(sum(1 - g1) AS BIGINT) AS a2,
                      CAST(sum(g1 * died) AS BIGINT) AS d1,
                      CAST(sum((1 - g1) * died) AS BIGINT) AS d2
               FROM lives GROUP BY 1),
      risk AS (SELECT *,
                      sum(a1) OVER (ORDER BY dur_h
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS r1,
                      sum(a2) OVER (ORDER BY dur_h
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS r2
               FROM grid),
      terms AS (SELECT d1,
                       CAST(round(1e6 * CAST((d1 + d2) * r1 AS DOUBLE)
                            / CAST(r1 + r2 AS DOUBLE)) AS BIGINT) AS e1u,
                       CASE WHEN r1 + r2 < 2 THEN 0 ELSE
                         CAST(round(1e6 * CAST((d1 + d2) * r1 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE)
                              * (CAST(r2 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE))
                              * (CAST(r1 + r2 - d1 - d2 AS DOUBLE) / CAST(r1 + r2 - 1 AS DOUBLE)))
                           AS BIGINT) END AS vu
                FROM risk WHERE d1 + d2 > 0),
      m AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
                   CAST(sum(e1u) AS BIGINT) AS e1u,
                   CAST(sum(vu) AS BIGINT) AS vu
            FROM terms)
      SELECT o1, round(CAST(e1u AS DOUBLE) / 1e6, 6) AS e1,
             round(pow(CAST(o1 AS DOUBLE) - CAST(e1u AS DOUBLE) / 1e6, 2)
                   / (CAST(vu AS DOUBLE) / 1e6), 6) AS chi2_logrank
      FROM m"""))

  // --------------------------------------------------------------- q243

  /** q243 — Cohen's kappa between two deterministic document raters
    * (rater A: length ≥ 300 chars; rater B: ≥ 50 whitespace tokens):
    * chance-corrected agreement — the metric that exposes how much of
    * two quality filters' raw agreement is just marginal-rate
    * coincidence, the first diagnostic before ensembling labelers or
    * auto-raters.
    *
    * One linear pass builds the 2×2 contingency as four conditional
    * counts; po, pe, κ are single-evaluation doubles from longs.
    */
  val q243 = Q("q243_cohens_kappa",
    (s, dir) => {
      val r = Tables.load(s, dir, "documents")
        .select(when(col("n_chars") >= 300, 1L).otherwise(0L).as("a"),
          when(size(split(trim(col("text")), "\\s+")) >= 50, 1L).otherwise(0L).as("b"))
      val m = r.groupBy().agg(
        count(lit(1)).as("n"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1) - col("b"))).as("n10"),
        sum((lit(1) - col("a")) * col("b")).as("n01"),
        sum((lit(1) - col("a")) * (lit(1) - col("b"))).as("n00"))
      val nd = col("n").cast("double")
      val po = (col("n11") + col("n00")).cast("double") / nd
      val pe = ((col("n11") + col("n10")).cast("double") * (col("n11") + col("n01")).cast("double")
        + (col("n01") + col("n00")).cast("double") * (col("n10") + col("n00")).cast("double")) / (nd * nd)
      m.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        round(po, 6).as("po"), round(pe, 6).as("pe"),
        round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
    },
    Some(s"""
      WITH r AS (SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
                        CASE WHEN len($duckTokens) >= 50
                             THEN 1 ELSE 0 END AS b
                 FROM documents),
      m AS (SELECT count(*) AS n,
                   CAST(sum(a * b) AS BIGINT) AS n11,
                   CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
                   CAST(sum((1 - a) * b) AS BIGINT) AS n01,
                   CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
            FROM r)
      SELECT n, n11, n10, n01, n00,
             round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
             round((CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                    + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
             round((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                       + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                   / (1.0 - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                             + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
                            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) AS kappa
      FROM m"""))

  // --------------------------------------------------------------- q244

  /** q244 — Jensen-Shannon divergence between the unigram
    * distributions of two corpus sources (src0 vs src1): the
    * symmetric, bounded distribution distance used for domain-shift
    * scoring and mixture tuning where q111's PSI (binned, asymmetric
    * conventions) is too blunt. JSD = ½KL(P‖M) + ½KL(Q‖M),
    * M = (P+Q)/2.
    *
    * Token streams reduce to 8-byte hashes via the compiled shingle
    * kernel (shuffle ∝ token count, never strings); one (hash) group
    * holds both sources' counts; each present-side log-ratio
    * ln(2·c_p·N_q / (c_p·N_q + c_q·N_p)) — integer arguments, exact
    * in double — is quantized to a 1e9 long and weighted by its count,
    * so both partial sums are exact longs in any reduction order.
    */
  val q244 = Q("q244_js_divergence",
    (s, dir) => {
      val tok = Tables.load(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(when(col("source") === "src0", 1L).otherwise(0L).as("p"),
          explode(call_function("graft_shingle_hash_list", col("text"), lit(1))).as("uh"))
      val grid = tok.groupBy("uh").agg(
        sum("p").as("cp"), sum(lit(1) - col("p")).as("cq"))
      val tot = grid.groupBy().agg(
        sum("cp").as("np"), sum("cq").as("nq"), count(lit(1)).as("n_distinct"))
      val t = grid.crossJoin(broadcast(tot))
        .select(col("np"), col("nq"), col("n_distinct"),
          when(col("cp") > 0, col("cp")
            * expr("""CAST(round(ln(2.0 * CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
                      / (CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
                         + CAST(cq AS DOUBLE) * CAST(np AS DOUBLE))) * 1e9) AS BIGINT)"""))
            .otherwise(0L).as("tp"),
          when(col("cq") > 0, col("cq")
            * expr("""CAST(round(ln(2.0 * CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)
                      / (CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)
                         + CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE))) * 1e9) AS BIGINT)"""))
            .otherwise(0L).as("tq"))
      t.groupBy(col("np"), col("nq"), col("n_distinct"))
        .agg(sum("tp").as("_sp"), sum("tq").as("_sq"))
        .select(col("np").as("n_tokens_p"), col("nq").as("n_tokens_q"),
          col("n_distinct"),
          round((col("_sp").cast("double") / col("np").cast("double")
            + col("_sq").cast("double") / col("nq").cast("double")) / 2.0 / 1e9, 6)
            .as("jsd_nats"))
    },
    Some(s"""
      WITH t AS (SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS p,
                        $duckTokens AS w
                 FROM documents WHERE source IN ('src0', 'src1')),
      tok AS (SELECT p,
                unnest(list_transform(range(1, len(w)+1),
                  i -> ${duckHash64("w[i]")} & ${Dedup.MinhashP})) AS uh
              FROM t),
      grid AS (SELECT uh, CAST(sum(p) AS BIGINT) AS cp,
                      CAST(sum(1 - p) AS BIGINT) AS cq
               FROM tok GROUP BY 1),
      tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
                     CAST(sum(cq) AS BIGINT) AS nq,
                     count(*) AS n_distinct FROM grid),
      terms AS (SELECT np, nq, n_distinct,
                       CASE WHEN cp > 0 THEN cp
                         * CAST(round(ln(2.0 * CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
                               / (CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
                                  + CAST(cq AS DOUBLE) * CAST(np AS DOUBLE))) * 1e9) AS BIGINT)
                         ELSE 0 END AS tp,
                       CASE WHEN cq > 0 THEN cq
                         * CAST(round(ln(2.0 * CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)
                               / (CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)
                                  + CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE))) * 1e9) AS BIGINT)
                         ELSE 0 END AS tq
                FROM grid, tot)
      SELECT np AS n_tokens_p, nq AS n_tokens_q, n_distinct,
             round((CAST(sum(tp) AS DOUBLE) / CAST(np AS DOUBLE)
                    + CAST(sum(tq) AS DOUBLE) / CAST(nq AS DOUBLE)) / 2.0 / 1e9, 6)
               AS jsd_nats
      FROM terms GROUP BY np, nq, n_distinct"""))

  // --------------------------------------------------------------- q254

  /** q254 — Mann-Kendall trend test per nation on the monthly revenue
    * series: S = Σ_{i<j} sign(y_j − y_i) with the tie-corrected
    * variance Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18 and
    * continuity-corrected z — the distribution-free "is there a
    * monotone trend at all" test that pairs with q241's Theil-Sen
    * slope (MK decides significance, Sen sizes the effect).
    *
    * Same bounded pair fan-out as q241 (≤ m²/2 per nation off the
    * monthly rollup); S and the tie sums are exact integers, z is one
    * final double.
    */
  val q254 = Q("q254_mann_kendall",
    (s, dir) => {
      val monthly = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1).as("m"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y"))
      val a = monthly.select(col("nation"), col("m").as("m1"), col("y").as("y1"))
      val b = monthly.select(col("nation"), col("m").as("m2"), col("y").as("y2"))
      val sstat = a.join(broadcast(b), Seq("nation")).filter(col("m1") < col("m2"))
        .groupBy("nation")
        .agg(sum(signum(col("y2") - col("y1")).cast("long")).as("s_stat"))
      val nmon = monthly.groupBy("nation").agg(count(lit(1)).as("n"))
      val ties = monthly.groupBy("nation", "y").agg(count(lit(1)).as("t"))
        .groupBy("nation")
        .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tsum"))
      val varS = (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tsum"))
        .cast("double") / 18.0
      sstat.join(nmon, "nation").join(ties, "nation")
        .select(col("nation"), col("n").as("n_months"), col("s_stat"),
          round(when(varS <= 0.0, 0.0)
            .when(col("s_stat") > 0, (col("s_stat") - 1).cast("double") / sqrt(varS))
            .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double") / sqrt(varS))
            .otherwise(0.0), 6).as("z_mk"))
        .orderBy("nation")
    },
    Some("""
      WITH monthly AS (
        SELECT n_name AS nation,
               (CAST(year(o_orderdate) AS BIGINT) - 1995) * 12
                 + CAST(month(o_orderdate) AS BIGINT) - 1 AS m,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      s AS (SELECT a.nation,
                   CAST(sum(CASE WHEN b.y > a.y THEN 1
                                 WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
            FROM monthly a JOIN monthly b
              ON a.nation = b.nation AND a.m < b.m
            GROUP BY 1),
      nm AS (SELECT nation, CAST(count(*) AS BIGINT) AS n FROM monthly GROUP BY 1),
      ties AS (SELECT nation,
                      CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
               FROM (SELECT nation, y, count(*) AS t FROM monthly GROUP BY 1, 2)
               GROUP BY 1)
      SELECT s.nation, nm.n AS n_months, s.s_stat,
             round(CASE
               WHEN CAST(nm.n * (nm.n - 1) * (2 * nm.n + 5) - ties.tsum AS DOUBLE) / 18.0 <= 0.0 THEN 0.0
               WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
                 / sqrt(CAST(nm.n * (nm.n - 1) * (2 * nm.n + 5) - ties.tsum AS DOUBLE) / 18.0)
               WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
                 / sqrt(CAST(nm.n * (nm.n - 1) * (2 * nm.n + 5) - ties.tsum AS DOUBLE) / 18.0)
               ELSE 0.0 END, 6) AS z_mk
      FROM s JOIN nm ON s.nation = nm.nation
      JOIN ties ON s.nation = ties.nation
      ORDER BY s.nation"""))

  // --------------------------------------------------------------- q255

  /** q255 — single-changepoint localization by binary segmentation on
    * the per-type daily count series: the split maximizing the
    * between-segment gain n₁n₂/n·(m₁−m₂)² (equivalently
    * (S₁n₂−S₂n₁)²/(n·n₁·n₂) — computed in that integer-numerator
    * form). The first step of every binary-segmentation /
    * changepoint-tree detector; where q212's CUSUM asks "did it
    * drift past a threshold", this asks "WHERE does one break explain
    * the series best".
    *
    * Prefix sums ride a window PARTITIONED BY TYPE over ≤|days|
    * rows; the gain is quantized to a 1e6 long off exact integer
    * sums, so the argmax (gain desc, day asc) is an integer
    * comparison — no float-tie ambiguity between engines.
    */
  val q255 = Q("q255_binseg_changepoint",
    (s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), expr("CAST(ts AS LONG) div 86400").as("d"))
        .agg(count(lit(1)).as("y"))
      val we = Window.partitionBy("event_type").orderBy("d")
      val wa = Window.partitionBy("event_type")
      val cand = daily
        .withColumn("n1", row_number().over(we))
        .withColumn("s1", sum("y").over(we.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", count(lit(1)).over(wa))
        .withColumn("st", sum("y").over(wa))
        .filter(col("n1") < col("n"))
        .withColumn("gain_u", expr(
          """CAST(round(1e6 * CAST((s1 * (n - n1) - (st - s1) * n1) AS DOUBLE)
             * CAST((s1 * (n - n1) - (st - s1) * n1) AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE))) AS BIGINT)"""))
      cand
        .withColumn("_rk", row_number().over(
          Window.partitionBy("event_type").orderBy(desc("gain_u"), col("d"))))
        .filter(col("_rk") === 1)
        .select(col("event_type"), col("n").as("n_days"), col("d").as("split_day"),
          round(col("s1").cast("double") / col("n1"), 6).as("mean_left"),
          round((col("st") - col("s1")).cast("double") / (col("n") - col("n1")), 6)
            .as("mean_right"),
          round(col("gain_u").cast("double") / 1e6, 6).as("gain"))
        .orderBy("event_type")
    },
    Some("""
      WITH daily AS (SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS d,
                            CAST(count(*) AS BIGINT) AS y
                     FROM events GROUP BY 1, 2),
      c AS (SELECT event_type, d, y,
                   row_number() OVER w AS n1,
                   sum(y) OVER (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1,
                   count(*) OVER (PARTITION BY event_type) AS n,
                   sum(y) OVER (PARTITION BY event_type) AS st
            FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
      g AS (SELECT *,
                   CAST(round(1e6 * CAST((s1 * (n - n1) - (st - s1) * n1) AS DOUBLE)
                        * CAST((s1 * (n - n1) - (st - s1) * n1) AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(n1 AS DOUBLE)
                           * CAST(n - n1 AS DOUBLE))) AS BIGINT) AS gain_u
            FROM c WHERE n1 < n),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY event_type ORDER BY gain_u DESC, d ASC) AS rk
            FROM g)
      SELECT event_type, CAST(n AS BIGINT) AS n_days, d AS split_day,
             round(CAST(s1 AS DOUBLE) / n1, 6) AS mean_left,
             round(CAST(st - s1 AS DOUBLE) / (n - n1), 6) AS mean_right,
             round(CAST(gain_u AS DOUBLE) / 1e6, 6) AS gain
      FROM r WHERE rk = 1 ORDER BY event_type"""))

  // --------------------------------------------------------------- q256

  /** q256 — seasonal-naive backtest (MASE): over each type's daily
    * count series, compare the 1-day-naive forecast |y_t − y_{t−1}|
    * against the weekly-seasonal-naive |y_t − y_{t−7}| on the common
    * evaluable region — MASE = MAE₁/MAE₇. The scale-free forecast
    * skill score (Hyndman) every demand/capacity pipeline reports;
    * MASE < 1 ⇒ yesterday beats last-week, i.e. weekly seasonality
    * is NOT the dominant signal.
    *
    * Lags are per-type windows; absolute errors are exact integers,
    * each MAE and the ratio a single final double.
    */
  val q256 = Q("q256_mase_backtest",
    (s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), expr("CAST(ts AS LONG) div 86400").as("d"))
        .agg(count(lit(1)).as("y"))
      val we = Window.partitionBy("event_type").orderBy("d")
      daily
        .withColumn("l1", lag("y", 1).over(we))
        .withColumn("l7", lag("y", 7).over(we))
        .filter(col("l7").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("y") - col("l1"))).as("_e1"),
          sum(abs(col("y") - col("l7"))).as("_e7"))
        .select(col("event_type"), col("n_eval"),
          round(col("_e1").cast("double") / col("n_eval"), 6).as("mae_naive1"),
          round(col("_e7").cast("double") / col("n_eval"), 6).as("mae_snaive7"),
          round(col("_e1").cast("double") / col("_e7").cast("double"), 6).as("mase"))
        .orderBy("event_type")
    },
    Some("""
      WITH daily AS (SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS d,
                            CAST(count(*) AS BIGINT) AS y
                     FROM events GROUP BY 1, 2),
      l AS (SELECT event_type, y,
                   lag(y, 1) OVER w AS l1, lag(y, 7) OVER w AS l7
            FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d))
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
             round(CAST(sum(abs(y - l1)) AS DOUBLE) / count(*), 6) AS mae_naive1,
             round(CAST(sum(abs(y - l7)) AS DOUBLE) / count(*), 6) AS mae_snaive7,
             round(CAST(sum(abs(y - l1)) AS DOUBLE)
                   / CAST(sum(abs(y - l7)) AS DOUBLE), 6) AS mase
      FROM l WHERE l7 IS NOT NULL
      GROUP BY event_type ORDER BY event_type"""))

  // --------------------------------------------------------------- q257

  /** q257 — delete-one-group jackknife for a ratio estimator: the
    * standard error of "mean order value" (ΣS/ΣN) under nation-level
    * resampling — the variance tool for estimators that DON'T
    * decompose as per-row means (ratios, rates), with groups as the
    * natural resampling unit on clustered data.
    *
    * One grouped pass gives per-nation (s_i, n_i); each leave-one-out
    * replicate (S−s_i)/(N−n_i) is quantized to a 1e9-unit long and
    * the 25-replicate moments accumulate exactly (squares in
    * DECIMAL(38,0)) — no cross-group double summation.
    */
  val q257 = Q("q257_jackknife_ratio",
    (s, dir) => {
      val g = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("si"),
          count(lit(1)).as("ni"))
      val tot = g.groupBy().agg(sum("si").as("st"), sum("ni").as("nt"))
      val reps = g.crossJoin(broadcast(tot))
        .select(expr("""CAST(round(1e9 * CAST(st - si AS DOUBLE)
                        / CAST(nt - ni AS DOUBLE)) AS BIGINT)""").as("ru"),
          col("st"), col("nt"))
      val m = reps.groupBy("st", "nt").agg(
        count(lit(1)).as("g"), sum("ru").as("sr"),
        sum(col("ru").cast(DecimalType(19, 0)) * col("ru").cast(DecimalType(19, 0))).as("srr"))
      val gd = col("g").cast("double")
      val sse = col("srr").cast("double") -
        col("sr").cast("double") * col("sr").cast("double") / gd
      m.select(col("g").as("n_groups"),
        round(col("st").cast("double") / col("nt").cast("double"), 6).as("r_full_cents"),
        round(sqrt((gd - 1.0) / gd * sse) / 1e9, 6).as("se_jack_cents"))
    },
    Some("""
      WITH g AS (SELECT c_nationkey,
                        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS si,
                        CAST(count(*) AS BIGINT) AS ni
                 FROM orders JOIN customer ON o_custkey = c_custkey
                 GROUP BY 1),
      tot AS (SELECT CAST(sum(si) AS BIGINT) AS st,
                     CAST(sum(ni) AS BIGINT) AS nt FROM g),
      reps AS (SELECT CAST(round(1e9 * CAST(tot.st - g.si AS DOUBLE)
                           / CAST(tot.nt - g.ni AS DOUBLE)) AS BIGINT) AS ru,
                      tot.st, tot.nt
               FROM g, tot),
      m AS (SELECT st, nt, count(*) AS g, CAST(sum(ru) AS BIGINT) AS sr,
                   sum(CAST(ru AS DECIMAL(19,0)) * CAST(ru AS DECIMAL(19,0))) AS srr
            FROM reps GROUP BY st, nt)
      SELECT CAST(g AS BIGINT) AS n_groups,
             round(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS r_full_cents,
             round(sqrt((CAST(g AS DOUBLE) - 1.0) / CAST(g AS DOUBLE)
                   * (CAST(srr AS DOUBLE)
                      - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(g AS DOUBLE)))
                   / 1e9, 6) AS se_jack_cents
      FROM m"""))

  // --------------------------------------------------------------- q258

  /** q258 — capture-recapture vocabulary estimate: treat src0 and
    * src1 as two independent "captures" of the corpus vocabulary and
    * estimate the total from their overlap with the bias-corrected
    * Chapman estimator (n₁+1)(n₂+1)/(m+1) − 1 — the ecology trick
    * that transfers directly to "how many distinct X exist beyond
    * what we sampled" (vocab, users, entities). The true two-source
    * union rides along, so the output exposes the estimator's error
    * on this corpus.
    */
  val q258 = Q("q258_capture_recapture",
    (s, dir) => {
      val tok = Tables.load(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"),
          explode(call_function("graft_shingle_hash_list", col("text"), lit(1))).as("uh"))
        .distinct()
      val per = tok.groupBy("uh").agg(
        max(when(col("source") === "src0", 1L).otherwise(0L)).as("p1"),
        max(when(col("source") === "src1", 1L).otherwise(0L)).as("p2"))
      per.groupBy().agg(
          sum("p1").as("n1"), sum("p2").as("n2"),
          sum(col("p1") * col("p2")).as("overlap"),
          count(lit(1)).as("union_vocab"))
        .select(col("n1"), col("n2"), col("overlap"), col("union_vocab"),
          round((col("n1") + 1).cast("double") * (col("n2") + 1).cast("double")
            / (col("overlap") + 1).cast("double") - 1.0, 6).as("chapman_est"))
    },
    Some(s"""
      WITH t AS (SELECT source, $duckTokens AS w FROM documents
                 WHERE source IN ('src0', 'src1')),
      tok AS (SELECT DISTINCT source,
                unnest(list_transform(range(1, len(w)+1),
                  i -> ${duckHash64("w[i]")} & ${Dedup.MinhashP})) AS uh
              FROM t),
      per AS (SELECT uh,
                     max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS p1,
                     max(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS p2
              FROM tok GROUP BY 1)
      SELECT CAST(sum(p1) AS BIGINT) AS n1,
             CAST(sum(p2) AS BIGINT) AS n2,
             CAST(sum(p1 * p2) AS BIGINT) AS overlap,
             count(*) AS union_vocab,
             round(CAST(sum(p1) + 1 AS DOUBLE) * CAST(sum(p2) + 1 AS DOUBLE)
                   / CAST(sum(p1 * p2) + 1 AS DOUBLE) - 1.0, 6) AS chapman_est
      FROM per"""))

  // --------------------------------------------------------------- q259

  /** q259 — cumulative gains / lift table: embeddings scored by
    * similarity to the class-0 centroid, bucketed into score deciles
    * (boundaries broadcast off the bounded distinct-score grid — rows
    * never globally ranked), with per-decile and cumulative response
    * rates and lift — the targeting readout ("top 20% of scores
    * captures X% of positives") behind every campaign/triage model
    * review.
    *
    * The centroid and per-row dot reuse q143's quantized-mean +
    * index-ordered-fold recipe, so scores are bit-identical across
    * engines; deciles then compare integer micro-scores against the
    * 9 broadcast boundaries (decile 1 = highest scores).
    */
  val q259 = Q("q259_cumulative_gains",
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
          when(col("label") === 0, 1L).otherwise(0L).as("resp"),
          expr("""CAST(round(1e6 * aggregate(zip_with(embedding, cvec,
                  (p, q) -> CAST(p AS DOUBLE) * q), CAST(0.0 AS DOUBLE),
                  (acc, v) -> acc + v)) AS BIGINT)""").as("su"))
      val wcdf = Window.orderBy("su").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bounds = scored.groupBy("su").agg(count(lit(1)).as("_c"))
        .withColumn("_cum", sum("_c").over(wcdf))
        .withColumn("_n", sum("_c").over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .groupBy()
        .agg(min(when(col("_cum") * 10 >= col("_n"), col("su"))).as("b1"),
          (2 to 9).map(k =>
            min(when(col("_cum") * 10 >= col("_n") * k, col("su"))).as(s"b$k")): _*)
      val dec = scored.crossJoin(broadcast(bounds))
        .select(col("resp"),
          (lit(11) - (lit(1) + (1 to 9).map(k =>
            when(col("su") > col(s"b$k"), 1).otherwise(0)).reduce(_ + _))).as("decile"))
      val grid = dec.groupBy("decile")
        .agg(count(lit(1)).as("n"), sum("resp").as("responders"))
      val wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = grid.groupBy().agg(sum("n").as("tn"), sum("responders").as("tr"))
      grid
        .withColumn("cum_n", sum("n").over(wd))
        .withColumn("cum_r", sum("responders").over(wd))
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n"), col("responders"),
          round(col("responders").cast("double") / col("n"), 6).as("resp_rate"),
          round(col("cum_r").cast("double") / col("cum_n"), 6).as("cum_rate"),
          round(col("cum_r").cast("double") / col("cum_n")
            / (col("tr").cast("double") / col("tn").cast("double")), 6).as("lift"))
        .orderBy("decile")
    },
    Some(s"""
      WITH c AS (SELECT d AS dim,
               CAST(sum(CAST(round(CAST(embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / count(*) / 1000000.0 AS cv
             FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS d) ds
             WHERE label = 0 GROUP BY d),
      v AS (SELECT list(cv ORDER BY dim) AS cvec FROM c),
      scored AS (SELECT vec_id,
                        CASE WHEN label = 0 THEN 1 ELSE 0 END AS resp,
                        CAST(round(1e6 * list_reduce(list_transform(range(1, len(embedding)+1),
                          i -> CAST(embedding[i] AS DOUBLE) * cvec[i]), (x, y) -> x + y))
                          AS BIGINT) AS su
                 FROM embeddings, v),
      bounds AS (SELECT min(CASE WHEN cum * 10 >= n * 1 THEN su END) AS b1,
                        min(CASE WHEN cum * 10 >= n * 2 THEN su END) AS b2,
                        min(CASE WHEN cum * 10 >= n * 3 THEN su END) AS b3,
                        min(CASE WHEN cum * 10 >= n * 4 THEN su END) AS b4,
                        min(CASE WHEN cum * 10 >= n * 5 THEN su END) AS b5,
                        min(CASE WHEN cum * 10 >= n * 6 THEN su END) AS b6,
                        min(CASE WHEN cum * 10 >= n * 7 THEN su END) AS b7,
                        min(CASE WHEN cum * 10 >= n * 8 THEN su END) AS b8,
                        min(CASE WHEN cum * 10 >= n * 9 THEN su END) AS b9
                 FROM (SELECT su, sum(c) OVER (ORDER BY su
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                         sum(c) OVER () AS n
                       FROM (SELECT su, count(*) AS c FROM scored GROUP BY 1))),
      dec AS (SELECT resp,
                     11 - (1 + (su > b1)::INT + (su > b2)::INT + (su > b3)::INT
                         + (su > b4)::INT + (su > b5)::INT + (su > b6)::INT
                         + (su > b7)::INT + (su > b8)::INT + (su > b9)::INT) AS decile
              FROM scored, bounds),
      grid AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(resp) AS BIGINT) AS responders
               FROM dec GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
                     CAST(sum(responders) AS BIGINT) AS tr FROM grid),
      cum AS (SELECT decile, n, responders,
                     sum(n) OVER (ORDER BY decile
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
                     sum(responders) OVER (ORDER BY decile
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r
              FROM grid)
      SELECT decile, n, responders,
             round(CAST(responders AS DOUBLE) / n, 6) AS resp_rate,
             round(CAST(cum_r AS DOUBLE) / cum_n, 6) AS cum_rate,
             round(CAST(cum_r AS DOUBLE) / cum_n
                   / (CAST(tot.tr AS DOUBLE) / CAST(tot.tn AS DOUBLE)), 6) AS lift
      FROM cum, tot ORDER BY decile"""))

  // --------------------------------------------------------------- q275

  /** q275 — weighted Jaccard between two sources' token MULTISETS:
    * Σ min(c_p, c_q) / Σ max(c_p, c_q) over per-token counts — the
    * frequency-aware overlap that binary Jaccard (q38/q112) overstates
    * when one source repeats a small vocabulary. Pure integer
    * arithmetic end to end; one grouped pass over the hashed token
    * stream.
    */
  val q275 = Q("q275_weighted_jaccard",
    (s, dir) => {
      val tok = Tables.load(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(when(col("source") === "src0", 1L).otherwise(0L).as("p"),
          explode(call_function("graft_shingle_hash_list", col("text"), lit(1))).as("uh"))
      tok.groupBy("uh")
        .agg(sum("p").as("cp"), sum(lit(1) - col("p")).as("cq"))
        .groupBy()
        .agg(count(lit(1)).as("n_tokens_distinct"),
          sum(least(col("cp"), col("cq"))).as("s_min"),
          sum(greatest(col("cp"), col("cq"))).as("s_max"))
        .select(col("n_tokens_distinct"), col("s_min"), col("s_max"),
          round(col("s_min").cast("double") / col("s_max").cast("double"), 6)
            .as("weighted_jaccard"))
    },
    Some(s"""
      WITH t AS (SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS p,
                        $duckTokens AS w
                 FROM documents WHERE source IN ('src0', 'src1')),
      tok AS (SELECT p,
                unnest(list_transform(range(1, len(w)+1),
                  i -> ${duckHash64("w[i]")} & ${Dedup.MinhashP})) AS uh
              FROM t),
      grid AS (SELECT uh, CAST(sum(p) AS BIGINT) AS cp,
                      CAST(sum(1 - p) AS BIGINT) AS cq
               FROM tok GROUP BY 1)
      SELECT count(*) AS n_tokens_distinct,
             CAST(sum(least(cp, cq)) AS BIGINT) AS s_min,
             CAST(sum(greatest(cp, cq)) AS BIGINT) AS s_max,
             round(CAST(sum(least(cp, cq)) AS DOUBLE)
                   / CAST(sum(greatest(cp, cq)) AS DOUBLE), 6) AS weighted_jaccard
      FROM grid"""))

  // --------------------------------------------------------------- q276

  /** q276 — partial correlation of quantity and price CONTROLLING for
    * discount, from the exact 3-variable moment matrix:
    * r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)) — the
    * confounder-removal step between q69's raw Pearson and a real
    * model, detecting whether an x–y association survives holding z
    * fixed. One grouped pass collects the 9 exact sums (integer
    * cents/units in DECIMAL), then one closed-form double.
    */
  val q276 = Q("q276_partial_correlation",
    (s, dir) => {
      val b = Tables.load(s, dir, "lineitem").select(
        col("l_quantity").cast("long").as("x"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("z"))
      val m = b.groupBy().agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
        sum(col("x").cast(DecimalType(19, 0)) * col("x").cast(DecimalType(19, 0))).as("sxx"),
        sum(col("y").cast(DecimalType(19, 0)) * col("y").cast(DecimalType(19, 0))).as("syy"),
        sum(col("z").cast(DecimalType(19, 0)) * col("z").cast(DecimalType(19, 0))).as("szz"),
        sum(col("x").cast(DecimalType(19, 0)) * col("y").cast(DecimalType(19, 0))).as("sxy"),
        sum(col("x").cast(DecimalType(19, 0)) * col("z").cast(DecimalType(19, 0))).as("sxz"),
        sum(col("y").cast(DecimalType(19, 0)) * col("z").cast(DecimalType(19, 0))).as("syz"))
      val nd = col("n").cast("double")
      def c(sab: String, sa: String, sb: String) =
        nd * col(sab).cast("double") - col(sa).cast("double") * col(sb).cast("double")
      val rxy = c("sxy", "sx", "sy") / sqrt(c("sxx", "sx", "sx") * c("syy", "sy", "sy"))
      val rxz = c("sxz", "sx", "sz") / sqrt(c("sxx", "sx", "sx") * c("szz", "sz", "sz"))
      val ryz = c("syz", "sy", "sz") / sqrt(c("syy", "sy", "sy") * c("szz", "sz", "sz"))
      m.select(col("n"),
        round(rxy, 6).as("r_xy"),
        round((rxy - rxz * ryz)
          / sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)), 6).as("r_xy_given_z"))
    },
    Some("""
      WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                        CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
                        CAST(round(l_discount * 100) AS BIGINT) AS z
                 FROM lineitem),
      m AS (SELECT count(*) AS n,
                   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(z) AS BIGINT) AS sz,
                   sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
                   sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
                   sum(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0))) AS szz,
                   sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
                   sum(CAST(x AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0))) AS sxz,
                   sum(CAST(y AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0))) AS syz
            FROM b)
      SELECT n,
             round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
               AS r_xy,
             round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                    - (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
                      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
                      * (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
                        / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                               * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))))
                   / sqrt((1.0 - (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
                                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                        * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
                                 * (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
                                   / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                          * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))))
                          * (1.0 - (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
                                   / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                                          * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
                                   * (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
                                     / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                                            * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))))), 6)
               AS r_xy_given_z
      FROM m"""))

  // --------------------------------------------------------------- q277

  /** q277 — rank-biased overlap (p = 0.9, depth 50) between two
    * document rankings (by characters vs by token count): the
    * top-weighted ranking agreement measure for comparing retrieval /
    * scoring variants, where Kendall (q216) weights all positions
    * equally and set overlap ignores order entirely.
    *
    * The per-depth sum telescopes per document:
    * RBO = (1−p)·Σ_d p^{d−1}·X_d/d = (1−p)·Σ_{doc∈both} W(max(r_a,r_b)),
    * W(m) = Σ_{d=m}^{50} p^{d−1}/d — spelled as a 50-entry integer-
    * micro literal shared by both engines (the table IS the spec; no
    * runtime pow). Top-50 lists are TakeOrderedAndProject-bounded;
    * their 50-row rank windows are whitelisted.
    */
  val q277 = Q("q277_rank_biased_overlap",
    (s, dir) => {
      import s.implicits._
      val wTab = Seq(2557551L, 1557551L, 1107551L, 837551L, 655301L, 524081L,
        425666L, 349746L, 289959L, 242129L, 203387L, 171689L, 145538L, 123813L,
        105657L, 90406L, 77538L, 66637L, 57372L, 49473L, 42718L, 36929L, 31955L,
        27674L, 23981L, 20790L, 18029L, 15636L, 13559L, 11755L, 10185L, 8817L,
        7625L, 6584L, 5675L, 4881L, 4186L, 3577L, 3043L, 2575L, 2165L, 1804L,
        1487L, 1209L, 964L, 749L, 559L, 392L, 244L, 115L)
        .zipWithIndex.map { case (w, i) => (i + 1, w) }.toDF("m", "w_u")
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
        .localCheckpoint(false) // both rankings read it
      val topA = docs.orderBy(desc("n_chars"), col("doc_id")).limit(50)
        .withColumn("ra", row_number().over(
          Window.orderBy(desc("n_chars"), col("doc_id"))))
        .select(col("doc_id"), col("ra"))
      val topB = docs.orderBy(desc("n_tok"), col("doc_id")).limit(50)
        .withColumn("rb", row_number().over(
          Window.orderBy(desc("n_tok"), col("doc_id"))))
        .select(col("doc_id"), col("rb"))
      topA.join(topB, "doc_id")
        .select(greatest(col("ra"), col("rb")).as("m"))
        .join(broadcast(wTab), "m")
        .groupBy()
        .agg(count(lit(1)).as("n_common"), sum("w_u").as("_s"))
        .select(col("n_common"),
          round(lit(0.1) * col("_s").cast("double") / 1e6, 6).as("rbo_p09_d50"))
    },
    Some(s"""
      WITH wtab(m, w_u) AS (VALUES
        (1,2557551),(2,1557551),(3,1107551),(4,837551),(5,655301),(6,524081),
        (7,425666),(8,349746),(9,289959),(10,242129),(11,203387),(12,171689),
        (13,145538),(14,123813),(15,105657),(16,90406),(17,77538),(18,66637),
        (19,57372),(20,49473),(21,42718),(22,36929),(23,31955),(24,27674),
        (25,23981),(26,20790),(27,18029),(28,15636),(29,13559),(30,11755),
        (31,10185),(32,8817),(33,7625),(34,6584),(35,5675),(36,4881),(37,4186),
        (38,3577),(39,3043),(40,2575),(41,2165),(42,1804),(43,1487),(44,1209),
        (45,964),(46,749),(47,559),(48,392),(49,244),(50,115)),
      d AS (SELECT doc_id, n_chars,
                   len($duckTokens) AS n_tok
            FROM documents),
      ta AS (SELECT doc_id, row_number() OVER
               (ORDER BY n_chars DESC, doc_id ASC) AS ra
             FROM d ORDER BY n_chars DESC, doc_id ASC LIMIT 50),
      tb AS (SELECT doc_id, row_number() OVER
               (ORDER BY n_tok DESC, doc_id ASC) AS rb
             FROM d ORDER BY n_tok DESC, doc_id ASC LIMIT 50),
      c AS (SELECT greatest(ta.ra, tb.rb) AS m
            FROM ta JOIN tb ON ta.doc_id = tb.doc_id)
      SELECT count(*) AS n_common,
             round(0.1 * CAST(sum(w_u) AS DOUBLE) / 1e6, 6) AS rbo_p09_d50
      FROM c JOIN wtab ON c.m = wtab.m"""))

  // --------------------------------------------------------------- q278

  /** q278 — frequent triples (Apriori level 3): itemsets of three
    * brands co-purchased in ≥3 orders (brand-level sets stay dense at
    * every SF where part-level triples are all support-1), with
    * support counted by
    * in-basket enumeration AFTER level-1 pruning — the Apriori trick
    * that bounds the cubic fan-out: only items individually frequent
    * (≥3 baskets) enter the triple generator, so a degenerate giant
    * basket of one-off items costs nothing. Per-basket work is then
    * C(|frequent items in basket|, 3) — bounded by the prune, not the
    * raw basket.
    *
    * The generator is the compiled `graft_triples` kernel
    * (expressions/ArrayTriples.scala): the earlier nested
    * `flatten(transform(…, transform(slice(…))))` HOF chain was the
    * one plan shape in the repo with a documented interpreted-fallback
    * cliff (the q61/q62 history) — the kernel removes the class, and
    * PlanSpec pins that no higher-order lambda survives in the plan.
    */
  val q278 = Q("q278_apriori_triples",
    (s, dir) => {
      val items = Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand")).distinct()
        .localCheckpoint(false) // level-1 counts + basket rebuild
      val freq1 = items.groupBy("p_brand").agg(count(lit(1)).as("c1"))
        .filter(col("c1") >= 3).select("p_brand")
      val triples = items.join(broadcast(freq1), "p_brand")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("p_brand"))).as("ids"))
        .filter(size(col("ids")) >= 3)
        .select(explode(call_function("graft_triples", col("ids"))).as("t"))
        .groupBy(col("t.a").as("pa"), col("t.b").as("pb"), col("t.c").as("pc"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 3)
      triples
        .orderBy(desc("support"), col("pa"), col("pb"), col("pc"))
        .limit(20)
    },
    Some("""
      WITH i0 AS (SELECT DISTINCT l_orderkey, p_brand FROM lineitem
                  JOIN part ON l_partkey = p_partkey),
      f1 AS (SELECT p_brand FROM i0 GROUP BY 1 HAVING count(*) >= 3),
      i AS (SELECT i0.l_orderkey, i0.p_brand
            FROM i0 JOIN f1 ON i0.p_brand = f1.p_brand),
      bk AS (SELECT l_orderkey, list_sort(list(p_brand)) AS ids
             FROM i GROUP BY 1 HAVING count(*) >= 3),
      t AS (SELECT ids[x.a] AS pa, ids[y.b] AS pb, ids[z.c] AS pc,
                   CAST(count(*) AS BIGINT) AS support
            FROM bk,
                 unnest(range(1, len(ids) + 1)) AS x(a),
                 unnest(range(1, len(ids) + 1)) AS y(b),
                 unnest(range(1, len(ids) + 1)) AS z(c)
            WHERE x.a < y.b AND y.b < z.c
            GROUP BY 1, 2, 3
            HAVING count(*) >= 3)
      SELECT pa, pb, pc, support FROM t
      ORDER BY support DESC, pa, pb, pc LIMIT 20"""))

  // --------------------------------------------------------------- q280

  /** q280 — Kruskal-Wallis H: do the three return-flag populations
    * ('A'/'N'/'R') draw `l_quantity` from the same distribution? The
    * k-group generalization of q237's rank-sum (one-way ANOVA on
    * ranks), the first test run when k>2 cohorts need a single
    * any-difference answer before pairwise drilldown.
    *
    * Same no-row-ranked recipe as q237: per-group counts on the
    * ≤50-row distinct-quantity grid, doubled average ranks
    * r_d(v) = 2·count_below + c + 1 from one bounded window, doubled
    * rank sums R_g_d = Σ c_g·r_d as exact longs. Then one double
    * formula: H = 12/(N(N+1))·Σ (R_g_d/2)²/n_g − 3(N+1), tie-corrected
    * by C = 1 − Σ(t³−t)/(N³−N). Groups pivot to fixed columns (q238's
    * max-when trick) so the 3-term Σ has one spelled evaluation order.
    */
  val q280 = Q("q280_kruskal_wallis",
    (s, dir) => {
      val b = Tables.load(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("v"), col("l_returnflag").as("g"))
      val grid = b.groupBy("v").agg(
        sum(when(col("g") === "A", 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === "N", 1L).otherwise(0L)).as("cn"),
        sum(when(col("g") === "R", 1L).otherwise(0L)).as("cr"),
        count(lit(1)).as("c"))
      val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
      val m = grid
        .withColumn("rd", lit(2) * coalesce(sum("c").over(w), lit(0L)) + col("c") + 1)
        .groupBy()
        .agg(sum("ca").as("na"), sum("cn").as("nn"), sum("cr").as("nr"),
          sum(col("ca") * col("rd")).as("rad"),
          sum(col("cn") * col("rd")).as("rnd"),
          sum(col("cr") * col("rd")).as("rrd"),
          sum(col("c") * col("c") * col("c") - col("c")).as("tie"))
      def r2n(rd: String, n: String) = {
        val r = col(rd).cast("double") / 2.0
        r * r / col(n).cast("double")
      }
      val nN = (col("na") + col("nn") + col("nr")).cast("double")
      val h = lit(12.0) / (nN * (nN + 1.0)) *
        (r2n("rad", "na") + r2n("rnd", "nn") + r2n("rrd", "nr")) - lit(3.0) * (nN + 1.0)
      val corr = lit(1.0) - col("tie").cast("double") / (nN * nN * nN - nN)
      m.select(col("na"), col("nn"), col("nr"),
        round(h, 6).as("h"), round(h / corr, 6).as("h_tie_corrected"))
    },
    Some("""
      WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS v, l_returnflag AS g
                 FROM lineitem),
      grid AS (SELECT v,
                      CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                      CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cn,
                      CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr,
                      CAST(count(*) AS BIGINT) AS c
               FROM b GROUP BY v),
      rk AS (SELECT ca, cn, cr, c,
                    2 * coalesce(sum(c) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      + c + 1 AS rd
             FROM grid),
      m AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cn) AS BIGINT) AS nn,
                   CAST(sum(cr) AS BIGINT) AS nr,
                   CAST(sum(ca * rd) AS BIGINT) AS rad,
                   CAST(sum(cn * rd) AS BIGINT) AS rnd,
                   CAST(sum(cr * rd) AS BIGINT) AS rrd,
                   CAST(sum(c * c * c - c) AS BIGINT) AS tie
            FROM rk)
      SELECT na, nn, nr,
             round(12.0 / (CAST(na + nn + nr AS DOUBLE) * (CAST(na + nn + nr AS DOUBLE) + 1.0))
                   * ((CAST(rad AS DOUBLE) / 2.0) * (CAST(rad AS DOUBLE) / 2.0) / CAST(na AS DOUBLE)
                      + (CAST(rnd AS DOUBLE) / 2.0) * (CAST(rnd AS DOUBLE) / 2.0) / CAST(nn AS DOUBLE)
                      + (CAST(rrd AS DOUBLE) / 2.0) * (CAST(rrd AS DOUBLE) / 2.0) / CAST(nr AS DOUBLE))
                   - 3.0 * (CAST(na + nn + nr AS DOUBLE) + 1.0), 6) AS h,
             round((12.0 / (CAST(na + nn + nr AS DOUBLE) * (CAST(na + nn + nr AS DOUBLE) + 1.0))
                    * ((CAST(rad AS DOUBLE) / 2.0) * (CAST(rad AS DOUBLE) / 2.0) / CAST(na AS DOUBLE)
                       + (CAST(rnd AS DOUBLE) / 2.0) * (CAST(rnd AS DOUBLE) / 2.0) / CAST(nn AS DOUBLE)
                       + (CAST(rrd AS DOUBLE) / 2.0) * (CAST(rrd AS DOUBLE) / 2.0) / CAST(nr AS DOUBLE))
                    - 3.0 * (CAST(na + nn + nr AS DOUBLE) + 1.0))
                   / (1.0 - CAST(tie AS DOUBLE)
                            / (CAST(na + nn + nr AS DOUBLE) * CAST(na + nn + nr AS DOUBLE)
                               * CAST(na + nn + nr AS DOUBLE) - CAST(na + nn + nr AS DOUBLE))), 6)
               AS h_tie_corrected
      FROM m"""))

  // --------------------------------------------------------------- q281

  /** q281 — Cramér's V over the region × order-priority contingency
    * table: the normalized effect size ([0,1]) behind q129's raw χ² —
    * the number a data-quality report actually prints, comparable
    * across tables of any shape, answering "HOW strongly does
    * geography associate with priority mix", not just "is it
    * significant at this n".
    *
    * Cell/margin counts are exact longs (the 5×5 table is a grouped
    * rollup; margins come from re-aggregating the 25-row cell table —
    * no partition-less window). Each cell's (o−e)²/e is one double
    * evaluated identically on both engines, then quantized to
    * integer nanos (q230's one-quantization rule) so the 25-term sum
    * is order-independent; χ² and V are final double formulas.
    */
  val q281 = Q("q281_cramers_v",
    (s, dir) => {
      val dim = Tables.load(s, dir, "customer")
        .join(broadcast(Tables.load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name"))
      val cells = Tables.load(s, dir, "orders")
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"), col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint(false) // consumers: margins ×2 + the cell scan
      val rt = cells.groupBy("r_name").agg(sum("o").as("rt"))
      val ct = cells.groupBy("prio").agg(sum("o").as("ct"))
      val n = cells.groupBy().agg(sum("o").as("n"))
      val withN = cells
        .join(broadcast(rt), "r_name").join(broadcast(ct), "prio")
        .crossJoin(broadcast(n))
        .select(col("n"), col("rt"), col("ct"),
          expr("""CAST(round(1e9 * (
                    (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                    / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)))) AS BIGINT)""").as("t_nano"))
      val k = cells.groupBy().agg(
        countDistinct(col("r_name")).as("r"), countDistinct(col("prio")).as("c"))
      withN.groupBy().agg(max("n").as("n"), sum("t_nano").as("chi_nano"))
        .crossJoin(broadcast(k))
        .select(col("n"), col("r"), col("c"),
          round(col("chi_nano").cast("double") / 1e9, 6).as("chi2"),
          round(sqrt(col("chi_nano").cast("double") / 1e9
            / (col("n").cast("double")
               * (least(col("r"), col("c")) - 1).cast("double"))), 6).as("cramers_v"))
    },
    Some("""
      WITH cells AS (SELECT r_name, o_orderpriority AS prio,
                            CAST(count(*) AS BIGINT) AS o
                     FROM orders
                     JOIN customer ON o_custkey = c_custkey
                     JOIN nation ON c_nationkey = n_nationkey
                     JOIN region ON n_regionkey = r_regionkey
                     GROUP BY 1, 2),
      rt AS (SELECT r_name, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      ct AS (SELECT prio, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
      k AS (SELECT CAST(count(DISTINCT r_name) AS BIGINT) AS r,
                   CAST(count(DISTINCT prio) AS BIGINT) AS c FROM cells),
      t AS (SELECT n.n,
                   CAST(round(1e9 * (
                     (CAST(o AS DOUBLE) - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / CAST(n.n AS DOUBLE))
                     * (CAST(o AS DOUBLE) - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / CAST(n.n AS DOUBLE))
                     / (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / CAST(n.n AS DOUBLE)))) AS BIGINT) AS t_nano
            FROM cells JOIN rt ON cells.r_name = rt.r_name
                       JOIN ct ON cells.prio = ct.prio
                       CROSS JOIN n),
      m AS (SELECT max(n) AS n, CAST(sum(t_nano) AS BIGINT) AS chi_nano FROM t)
      SELECT m.n, k.r, k.c,
             round(CAST(chi_nano AS DOUBLE) / 1e9, 6) AS chi2,
             round(sqrt(CAST(chi_nano AS DOUBLE) / 1e9
                        / (CAST(m.n AS DOUBLE) * CAST(least(k.r, k.c) - 1 AS DOUBLE))), 6)
               AS cramers_v
      FROM m CROSS JOIN k"""))

  // --------------------------------------------------------------- q282

  /** q282 — McNemar's paired test on user activity: among users seen
    * in the events stream, did the active-user population CHANGE
    * between the first and second calendar month? Paired binary
    * outcomes (active-in-Jan, active-in-Feb per user) make the
    * two-proportion z (q261) wrong — only the DISCORDANT pairs carry
    * information, which is exactly what McNemar tests:
    * χ² = (|b−c|−1)²/(b+c) with continuity correction.
    *
    * One grouped pass per user (max-when presence flags), one rollup
    * to the 2×2 concordance counts — all exact longs, one final
    * double.
    */
  val q282 = Q("q282_mcnemar",
    (s, dir) => {
      val flags = Tables.load(s, dir, "events")
        .select(col("user_id"), month(col("ts")).as("m"))
        .groupBy("user_id")
        .agg(max(when(col("m") === 1, 1L).otherwise(0L)).as("y1"),
          max(when(col("m") === 2, 1L).otherwise(0L)).as("y2"))
      val m = flags.groupBy().agg(
        sum(when(col("y1") === 1 && col("y2") === 1, 1L).otherwise(0L)).as("n11"),
        sum(when(col("y1") === 1 && col("y2") === 0, 1L).otherwise(0L)).as("b"),
        sum(when(col("y1") === 0 && col("y2") === 1, 1L).otherwise(0L)).as("c"),
        sum(when(col("y1") === 0 && col("y2") === 0, 1L).otherwise(0L)).as("n00"))
      m.select(col("n11"), col("b"), col("c"), col("n00"),
        round((abs(col("b") - col("c")) - 1).cast("double")
          * (abs(col("b") - col("c")) - 1).cast("double")
          / (col("b") + col("c")).cast("double"), 6).as("chi2_cc"))
    },
    Some("""
      WITH flags AS (SELECT user_id,
                            max(CASE WHEN month(ts) = 1 THEN 1 ELSE 0 END) AS y1,
                            max(CASE WHEN month(ts) = 2 THEN 1 ELSE 0 END) AS y2
                     FROM events GROUP BY user_id),
      m AS (SELECT CAST(sum(CASE WHEN y1 = 1 AND y2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
                   CAST(sum(CASE WHEN y1 = 1 AND y2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
                   CAST(sum(CASE WHEN y1 = 0 AND y2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
                   CAST(sum(CASE WHEN y1 = 0 AND y2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
            FROM flags)
      SELECT n11, b, c, n00,
             round(CAST(abs(b - c) - 1 AS DOUBLE) * CAST(abs(b - c) - 1 AS DOUBLE)
                   / CAST(b + c AS DOUBLE), 6) AS chi2_cc
      FROM m"""))

  // --------------------------------------------------------------- q289

  /** q289 — split conformal prediction for regression: fit OLS
    * (price ~ quantity) on the TRAIN split, take the
    * ⌈0.9·(n+1)⌉-th smallest absolute residual on a disjoint
    * CALIBRATION split as the interval half-width τ, and report
    * empirical coverage on a TEST split — the distribution-free
    * uncertainty wrapper (Vovk; Lei et al.) that guarantees ≥90%
    * coverage for ANY model and ANY data distribution, now standard
    * in production forecasting.
    *
    * Splits hash on orderkey (calib: %5=1, test: %5=2, train: rest).
    * OLS coefficients are doubles from exact moments (q127's
    * discipline); each |residual| is quantized ONCE to integer
    * micro-cents, so the calibration quantile is an exact order
    * statistic over the distinct-residual CDF (q125's bounded-grid
    * window, whitelisted) and test coverage is an exact count ratio.
    */
  val q289 = Q("q289_conformal",
    (s, dir) => {
      val b = Tables.load(s, dir, "lineitem").select(
        pmod(col("l_orderkey"), lit(5)).as("f"),
        col("l_quantity").cast("long").as("x"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
        .localCheckpoint(false) // train moments + calib + test scans
      val m = b.filter(col("f") =!= 1 && col("f") =!= 2).groupBy().agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum((col("x") * col("y")).cast(DecimalType(38, 0))).as("sxy"))
      val resid = b.filter(col("f").isin(1, 2)).crossJoin(broadcast(m))
        .select(col("f"), col("n").as("n_train"), expr("""
          CAST(round(1e6 * abs(CAST(y AS DOUBLE)
            - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * CAST(x AS DOUBLE)
               + (CAST(sy AS DOUBLE)
                  - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)))) AS BIGINT)""").as("r_u"))
        .localCheckpoint(false) // calib CDF + test coverage
      val kRow = resid.filter(col("f") === 1).groupBy()
        .agg(count(lit(1)).as("n_cal"))
        .select(col("n_cal"),
          expr("(9 * (n_cal + 1) + 9) DIV 10").as("k"))
      val grid = resid.filter(col("f") === 1)
        .groupBy("r_u").agg(count(lit(1)).as("c"))
      val tau = grid
        .withColumn("cum", sum("c").over(
          Window.orderBy("r_u").rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(kRow))
        .filter(col("cum") >= col("k"))
        .groupBy().agg(max("n_cal").as("n_cal"), min("r_u").as("tau_u"))
      resid.filter(col("f") === 2).crossJoin(broadcast(tau))
        .groupBy().agg(
          max("n_cal").as("n_cal"),
          count(lit(1)).as("n_test"),
          max("tau_u").as("tau_u"),
          sum(when(col("r_u") <= col("tau_u"), 1L).otherwise(0L)).as("covered"))
        .select(col("n_cal"), col("n_test"),
          round(col("tau_u").cast("double") / 1e6 / 100.0, 6).as("tau_dollars"),
          round(col("covered").cast("double") / col("n_test").cast("double"), 6)
            .as("coverage"))
    },
    Some("""
      WITH b AS (SELECT l_orderkey % 5 AS f, CAST(l_quantity AS BIGINT) AS x,
                        CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                 FROM lineitem),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
                   sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
            FROM b WHERE f <> 1 AND f <> 2),
      resid AS (SELECT f,
                  CAST(round(1e6 * abs(CAST(y AS DOUBLE)
                    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * CAST(x AS DOUBLE)
                       + (CAST(sy AS DOUBLE)
                          - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)))) AS BIGINT) AS r_u
                FROM b CROSS JOIN m WHERE f IN (1, 2)),
      kr AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
                    (9 * (CAST(count(*) AS BIGINT) + 1) + 9) // 10 AS k
             FROM resid WHERE f = 1),
      grid AS (SELECT r_u, CAST(count(*) AS BIGINT) AS c
               FROM resid WHERE f = 1 GROUP BY 1),
      cdf AS (SELECT r_u, sum(c) OVER (ORDER BY r_u
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM grid),
      tau AS (SELECT max(n_cal) AS n_cal, min(r_u) AS tau_u
              FROM cdf CROSS JOIN kr WHERE cum >= k)
      SELECT max(n_cal) AS n_cal, CAST(count(*) AS BIGINT) AS n_test,
             round(CAST(max(tau_u) AS DOUBLE) / 1e6 / 100.0, 6) AS tau_dollars,
             round(CAST(sum(CASE WHEN r_u <= tau_u THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6) AS coverage
      FROM resid CROSS JOIN tau WHERE f = 2"""))

  // --------------------------------------------------------------- q290

  /** q290 — 5-fold cross-validated OLS (price ~ quantity): each fold's
    * coefficients fit on the OTHER four folds (complement moments =
    * broadcast total − fold moments, so the whole fit family costs ONE
    * grouped pass — no 5× re-scan), then per-fold out-of-fold MSE. The
    * model-selection loop every feature pipeline runs; the
    * moment-complement trick is what makes it one-pass at 100 TB.
    *
    * Folds hash on orderkey. Coefficients are doubles from exact
    * moments; each out-of-fold residual is quantized once to integer
    * micro-cents, squared in DECIMAL, so per-fold MSE sums are
    * order-independent.
    */
  val q290 = Q("q290_kfold_cv",
    (s, dir) => {
      val b = Tables.load(s, dir, "lineitem").select(
        pmod(col("l_orderkey"), lit(5)).as("f"),
        col("l_quantity").cast("long").as("x"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
        .localCheckpoint(false) // fold moments + residual scan
      val mf = b.groupBy("f").agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum((col("x") * col("y")).cast(DecimalType(38, 0))).as("sxy"))
      val tot = mf.groupBy().agg(
        sum("n").as("tn"), sum("sx").as("tsx"), sum("sy").as("tsy"),
        sum("sxx").as("tsxx"), sum("sxy").as("tsxy"))
      val coef = mf.crossJoin(broadcast(tot)).select(col("f"), expr("""
          (CAST(tn - n AS DOUBLE) * CAST(tsxy - sxy AS DOUBLE)
           - CAST(tsx - sx AS DOUBLE) * CAST(tsy - sy AS DOUBLE))
          / (CAST(tn - n AS DOUBLE) * CAST(tsxx - sxx AS DOUBLE)
             - CAST(tsx - sx AS DOUBLE) * CAST(tsx - sx AS DOUBLE))""").as("slope"),
        expr("""
          (CAST(tsy - sy AS DOUBLE)
           - (CAST(tn - n AS DOUBLE) * CAST(tsxy - sxy AS DOUBLE)
              - CAST(tsx - sx AS DOUBLE) * CAST(tsy - sy AS DOUBLE))
             / (CAST(tn - n AS DOUBLE) * CAST(tsxx - sxx AS DOUBLE)
                - CAST(tsx - sx AS DOUBLE) * CAST(tsx - sx AS DOUBLE))
             * CAST(tsx - sx AS DOUBLE)) / CAST(tn - n AS DOUBLE)""").as("icept"))
      b.join(broadcast(coef), "f")
        .select(col("f"), expr(
          "CAST(round(1e3 * (CAST(y AS DOUBLE) - (slope * CAST(x AS DOUBLE) + icept))) AS BIGINT)")
          .as("r_m"), col("slope"), col("icept"))
        .groupBy("f").agg(
          count(lit(1)).as("n_test"),
          max(col("slope")).as("_sl"), max(col("icept")).as("_ic"),
          sum((col("r_m").cast(DecimalType(19, 0))
            * col("r_m").cast(DecimalType(19, 0)))).as("sse_milli2"))
        // MSE rounds via exact integer arithmetic ((2a+d) div 2d on the
        // DECIMAL sse) — a double division here lands on a .5·10⁻⁶
        // boundary and Spark/DuckDB round() split on it (observed on
        // fold 2 at sf0.01)
        .select(col("f").as("fold"), col("n_test"),
          round(col("_sl") / lit(100.0), 6).as("slope_dollars"),
          round(col("_ic") / lit(100.0), 6).as("intercept_dollars"),
          round(expr("""CAST((2 * sse_milli2 + n_test * 10000)
                        div (2 * n_test * 10000) AS BIGINT)""").cast("double")
            / 1e6, 6).as("mse_dollars2"))
        .orderBy("fold")
    },
    Some("""
      WITH b AS (SELECT l_orderkey % 5 AS f, CAST(l_quantity AS BIGINT) AS x,
                        CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                 FROM lineitem),
      mf AS (SELECT f, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
                    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
                    sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
             FROM b GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(sx) AS BIGINT) AS tsx,
                     CAST(sum(sy) AS BIGINT) AS tsy, CAST(sum(sxx) AS BIGINT) AS tsxx,
                     sum(sxy) AS tsxy
              FROM mf),
      coef AS (SELECT f,
                 (CAST(tn - n AS DOUBLE) * CAST(tsxy - sxy AS DOUBLE)
                  - CAST(tsx - sx AS DOUBLE) * CAST(tsy - sy AS DOUBLE))
                 / (CAST(tn - n AS DOUBLE) * CAST(tsxx - sxx AS DOUBLE)
                    - CAST(tsx - sx AS DOUBLE) * CAST(tsx - sx AS DOUBLE)) AS slope,
                 (CAST(tsy - sy AS DOUBLE)
                  - (CAST(tn - n AS DOUBLE) * CAST(tsxy - sxy AS DOUBLE)
                     - CAST(tsx - sx AS DOUBLE) * CAST(tsy - sy AS DOUBLE))
                    / (CAST(tn - n AS DOUBLE) * CAST(tsxx - sxx AS DOUBLE)
                       - CAST(tsx - sx AS DOUBLE) * CAST(tsx - sx AS DOUBLE))
                    * CAST(tsx - sx AS DOUBLE)) / CAST(tn - n AS DOUBLE) AS icept
               FROM mf CROSS JOIN tot),
      r AS (SELECT b.f,
                   CAST(round(1e3 * (CAST(y AS DOUBLE)
                     - (slope * CAST(x AS DOUBLE) + icept))) AS BIGINT) AS r_m,
                   slope, icept
            FROM b JOIN coef ON b.f = coef.f)
      SELECT f AS fold, CAST(count(*) AS BIGINT) AS n_test,
             round(max(slope) / 100.0, 6) AS slope_dollars,
             round(max(icept) / 100.0, 6) AS intercept_dollars,
             round(CAST(CAST((2 * sum(CAST(r_m AS HUGEINT) * r_m)
                              + CAST(count(*) AS HUGEINT) * 10000)
                             // (2 * CAST(count(*) AS HUGEINT) * 10000)
                        AS BIGINT) AS DOUBLE) / 1e6, 6) AS mse_dollars2
      FROM r GROUP BY f ORDER BY fold"""))

  // --------------------------------------------------------------- q291

  /** q291 — logistic regression by Newton-Raphson (3 steps):
    * P(urgent | order value) with y = 1{'1-URGENT'}, x = value in
    * hundred-k-dollar units. The binary-outcome workhorse OLS (q127)
    * cannot express, and the exact IRLS loop every calibration /
    * propensity pipeline runs — plus the final sample log-loss.
    *
    * Each step is ONE distributed pass: the five score/Hessian sums
    * (Σ(p−y), Σ(p−y)x, Σw, Σwx, Σwx², w = p(1−p)) accumulate per-row
    * 1e-9-quantized longs (the q217 ln recipe applied to exp), and the
    * 2×2 Newton solve runs INSIDE the same plan (textually identical
    * in the oracle's unrolled CTEs), so each θ state is a pair of
    * integers both engines agree on; only those two longs reach the
    * driver between passes. Sequential in iterations (3 by design),
    * linear and shuffle-free within each.
    */
  val q291 = Q("q291_logistic_newton",
    (s, dir) => {
      val b = Tables.load(s, dir, "orders").select(
        when(col("o_orderpriority") === "1-URGENT", 1.0).otherwise(0.0).as("y"),
        (expr("CAST(round(o_totalprice * 100) AS BIGINT)").cast("double") / 1e7).as("x"))
        .localCheckpoint(false) // 3 Newton passes + the loss pass
      def p(t0: String, t1: String) =
        s"1.0 / (1.0 + exp(-(CAST($t0 AS DOUBLE) / 1e9 + CAST($t1 AS DOUBLE) / 1e9 * x)))"
      def sums(pp: String) = Seq(
        s"CAST(sum(CAST(round(1e9 * ($pp - y)) AS BIGINT)) AS BIGINT) AS g0",
        s"CAST(sum(CAST(round(1e9 * (($pp - y) * x)) AS BIGINT)) AS BIGINT) AS g1",
        s"CAST(sum(CAST(round(1e9 * ($pp * (1.0 - $pp))) AS BIGINT)) AS BIGINT) AS w",
        s"CAST(sum(CAST(round(1e9 * ($pp * (1.0 - $pp) * x)) AS BIGINT)) AS BIGINT) AS wx",
        s"CAST(sum(CAST(round(1e9 * ($pp * (1.0 - $pp) * x * x)) AS BIGINT)) AS BIGINT) AS wxx")
      def upd(t0: String, t1: String) = Seq(
        s"""CAST($t0 - round(1e9 *
            ((CAST(wxx AS DOUBLE) / 1e9 * (CAST(g0 AS DOUBLE) / 1e9)
              - CAST(wx AS DOUBLE) / 1e9 * (CAST(g1 AS DOUBLE) / 1e9))
             / (CAST(w AS DOUBLE) / 1e9 * (CAST(wxx AS DOUBLE) / 1e9)
                - CAST(wx AS DOUBLE) / 1e9 * (CAST(wx AS DOUBLE) / 1e9)))) AS BIGINT) AS t0n""",
        s"""CAST($t1 - round(1e9 *
            ((CAST(w AS DOUBLE) / 1e9 * (CAST(g1 AS DOUBLE) / 1e9)
              - CAST(wx AS DOUBLE) / 1e9 * (CAST(g0 AS DOUBLE) / 1e9))
             / (CAST(w AS DOUBLE) / 1e9 * (CAST(wxx AS DOUBLE) / 1e9)
                - CAST(wx AS DOUBLE) / 1e9 * (CAST(wx AS DOUBLE) / 1e9)))) AS BIGINT) AS t1n""")
      var t0n = 0L; var t1n = 0L
      for (_ <- 1 to 3) {
        val r = b.selectExpr(sums(p(t0n.toString, t1n.toString)): _*)
          .selectExpr(upd(t0n.toString, t1n.toString): _*)
          .collect()(0)
        t0n = r.getLong(0); t1n = r.getLong(1)
      }
      val pf = p(t0n.toString, t1n.toString)
      b.selectExpr(
        "CAST(count(*) AS BIGINT) AS n",
        "CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_pos",
        s"CAST($t0n AS BIGINT) AS theta0_nano",
        s"CAST($t1n AS BIGINT) AS theta1_nano",
        s"""round(CAST(sum(CAST(round(1e9 * -(y * ln($pf)
             + (1.0 - y) * ln(1.0 - $pf))) AS BIGINT)) AS DOUBLE)
           / 1e9 / CAST(count(*) AS DOUBLE), 6) AS mean_logloss""")
    },
    Some {
      def p(t0: String, t1: String) =
        s"1.0 / (1.0 + exp(-(CAST($t0 AS DOUBLE) / 1e9 + CAST($t1 AS DOUBLE) / 1e9 * x)))"
      // sums CTEs CROSS JOIN the 1-row θ state and carry it through —
      // scalar subqueries in per-row expressions re-evaluate the whole
      // chain per row in DuckDB (59 s → 0.2 s at sf0.01)
      def aCte(name: String, pp: String, from: String) = s"""
      $name AS (SELECT
        CAST(sum(CAST(round(1e9 * ($pp - y)) AS BIGINT)) AS BIGINT) AS g0,
        CAST(sum(CAST(round(1e9 * (($pp - y) * x)) AS BIGINT)) AS BIGINT) AS g1,
        CAST(sum(CAST(round(1e9 * ($pp * (1.0 - $pp))) AS BIGINT)) AS BIGINT) AS w,
        CAST(sum(CAST(round(1e9 * ($pp * (1.0 - $pp) * x)) AS BIGINT)) AS BIGINT) AS wx,
        CAST(sum(CAST(round(1e9 * ($pp * (1.0 - $pp) * x * x)) AS BIGINT)) AS BIGINT) AS wxx
        FROM $from)"""
      def tCte(name: String, a: String, t0: String, t1: String) = s"""
      $name AS (SELECT
        CAST($t0 - round(1e9 *
          ((CAST(wxx AS DOUBLE) / 1e9 * (CAST(g0 AS DOUBLE) / 1e9)
            - CAST(wx AS DOUBLE) / 1e9 * (CAST(g1 AS DOUBLE) / 1e9))
           / (CAST(w AS DOUBLE) / 1e9 * (CAST(wxx AS DOUBLE) / 1e9)
              - CAST(wx AS DOUBLE) / 1e9 * (CAST(wx AS DOUBLE) / 1e9)))) AS BIGINT) AS t0n,
        CAST($t1 - round(1e9 *
          ((CAST(w AS DOUBLE) / 1e9 * (CAST(g1 AS DOUBLE) / 1e9)
            - CAST(wx AS DOUBLE) / 1e9 * (CAST(g0 AS DOUBLE) / 1e9))
           / (CAST(w AS DOUBLE) / 1e9 * (CAST(wxx AS DOUBLE) / 1e9)
              - CAST(wx AS DOUBLE) / 1e9 * (CAST(wx AS DOUBLE) / 1e9)))) AS BIGINT) AS t1n
        FROM $a)"""
      val pf = p("t0n", "t1n")
      s"""
      WITH b AS (SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS y,
                        CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) / 1e7 AS x
                 FROM orders),
      ${aCte("a1", p("0", "0"), "b")},
      ${tCte("t1", "a1", "0", "0")},
      ${aCte("a2", p("t0n", "t1n"), "b CROSS JOIN t1")},
      ${tCte("t2", "a2 CROSS JOIN t1", "t1.t0n", "t1.t1n")},
      ${aCte("a3", p("t0n", "t1n"), "b CROSS JOIN t2")},
      ${tCte("t3", "a3 CROSS JOIN t2", "t2.t0n", "t2.t1n")}
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
             max(t0n) AS theta0_nano,
             max(t1n) AS theta1_nano,
             round(CAST(sum(CAST(round(1e9 * -(y * ln($pf)
                 + (1.0 - y) * ln(1.0 - $pf))) AS BIGINT)) AS DOUBLE)
               / 1e9 / CAST(count(*) AS DOUBLE), 6) AS mean_logloss
      FROM b CROSS JOIN t3"""
    })

  // --------------------------------------------------------------- q292

  /** q292 — 1-Wasserstein (earth-mover's) distance between the
    * returned ('R') and accepted ('A') price distributions:
    * W₁ = ∫|F₁−F₂| dv — the drift metric that reports HOW FAR mass
    * moved in value units, where KS (q125) reports only the worst
    * single gap and PSI (q111) needs arbitrary bins. The standard
    * "did this feature's distribution shift, and by how many dollars"
    * number in training-data monitoring.
    *
    * Exact: on the sorted distinct-cents grid, W₁·n₁·n₂ =
    * Σ |n₂C₁(v) − n₁C₂(v)|·(v₊−v) accumulates in DECIMAL from
    * integer counts; the final normalization rounds via the exact
    * (2a+d) div 2d integer recipe (q290's MSE lesson — a double
    * division here can land on a .5·10⁻⁶ boundary). One grouped pass
    * + one bounded distinct-value window (q125's whitelisted shape).
    */
  val q292 = Q("q292_wasserstein",
    (s, dir) => {
      val b = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("g1"))
      val grid = b.groupBy("v")
        .agg(sum("g1").as("c1"), sum(lit(1L) - col("g1")).as("c2"))
      val w = Window.orderBy("v")
      val m = grid
        .withColumn("cc1", sum("c1").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cc2", sum("c2").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("dv", lead("v", 1).over(w) - col("v"))
        .filter(col("dv").isNotNull)
        .crossJoin(broadcast(b.groupBy().agg(
          sum("g1").as("n1"), sum(lit(1L) - col("g1")).as("n2"))))
        .groupBy()
        .agg(max("n1").as("n1"), max("n2").as("n2"),
          sum((abs(col("n2") * col("cc1") - col("n1") * col("cc2"))
            .cast(DecimalType(19, 0)) * col("dv").cast(DecimalType(19, 0))))
            .as("num"))
      m.select(col("n1"), col("n2"),
        round(expr("""CAST((2 * num * 1000000 + n1 * n2 * 10000)
                      div (2 * n1 * n2 * 10000) AS BIGINT)""").cast("double")
          / 1e6, 6).as("w1_dollars"))
    },
    Some("""
      WITH b AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g1
                 FROM lineitem WHERE l_returnflag IN ('A', 'R')),
      n AS (SELECT CAST(sum(g1) AS BIGINT) AS n1,
                   CAST(sum(1 - g1) AS BIGINT) AS n2 FROM b),
      grid AS (SELECT v, CAST(sum(g1) AS BIGINT) AS c1,
                      CAST(sum(1 - g1) AS BIGINT) AS c2
               FROM b GROUP BY v),
      cdf AS (SELECT v,
                     sum(c1) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc1,
                     sum(c2) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc2,
                     lead(v, 1) OVER (ORDER BY v) - v AS dv
              FROM grid),
      m AS (SELECT max(n1) AS n1, max(n2) AS n2,
                   sum(CAST(abs(n2 * cc1 - n1 * cc2) AS HUGEINT)
                       * CAST(dv AS HUGEINT)) AS num
            FROM cdf CROSS JOIN n WHERE dv IS NOT NULL)
      SELECT n1, n2,
             round(CAST(CAST((2 * num * 1000000 + CAST(n1 AS HUGEINT) * n2 * 10000)
                             // (2 * CAST(n1 AS HUGEINT) * n2 * 10000)
                        AS BIGINT) AS DOUBLE) / 1e6, 6) AS w1_dollars
      FROM m"""))

  // --------------------------------------------------------------- q298

  /** q298 — AdaBoost with decision stumps (3 rounds) on the
    * (quantity, returned?) grid: per round, pick the threshold/
    * polarity stump minimizing weighted error, reweight by
    * exp(−α·y·h), and report the stump, its ε and α, and the
    * ensemble's running training error — the classic boosting loop
    * (Freund & Schapire '97) that turns the week-one baseline
    * learner into a usable classifier.
    *
    * The whole state lives on the ≤2·|distinct x| cell grid, because
    * stumps depend only on x: cell weights are nano-scaled longs
    * re-quantized once per round (exp(−α·y·h) is one double per
    * cell, identical text both engines, from the in-plan
    * nano-quantized α — the q291 Newton discipline); stump search is
    * a |θ|×|cells| bounded broadcast expansion with exact integer
    * comparisons, so the argmin (ties → smaller θ, then polarity) is
    * deterministic. ε and ensemble-error ratios round via the exact
    * (2a+d) div 2d recipe. Rounds are inherently sequential; each is
    * one tiny grid job at any data scale.
    */
  val q298 = Q("q298_adaboost_stumps",
    (s, dir) => {
      val grid = Tables.load(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("x"),
          when(col("l_returnflag") === "R", 1).otherwise(-1).as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("n"))
        .localCheckpoint(false) // stump searches + ensemble error rows
      val thetas = grid.select(col("x").as("theta")).distinct()
      var cells = grid.withColumn("w", col("n") * lit(1000000000L))
        .localCheckpoint(false)
      var picks = List.empty[(Long, Int, Long, Long)] // (theta, pol, alpha_nano, eps_micro)
      for (t <- 1 to 3) {
        val e = cells.crossJoin(broadcast(thetas))
          .groupBy("theta").agg(
            sum(when(col("y") === 1 && col("x") <= col("theta"), col("w"))
              .otherwise(0L)).as("wpLe"),
            sum(when(col("y") === -1 && col("x") <= col("theta"), col("w"))
              .otherwise(0L)).as("wnLe"),
            sum(when(col("y") === 1, col("w")).otherwise(0L)).as("wpTot"),
            sum(col("w")).as("wTot"))
        val cand = e.select(col("theta"), lit(1).as("pol"),
            (col("wnLe") + col("wpTot") - col("wpLe")).as("err"), col("wTot"))
          .unionByName(e.select(col("theta"), lit(-1).as("pol"),
            (col("wTot") - (col("wnLe") + col("wpTot") - col("wpLe"))).as("err"),
            col("wTot")))
        val p = cand.orderBy(col("err"), col("theta"), col("pol")).limit(1)
          .select(col("theta"), col("pol"),
            expr("CAST(round(1e9 * ln(CAST(wTot - err AS DOUBLE) / CAST(err AS DOUBLE)) / 2) AS BIGINT)")
              .as("an"),
            expr("""CAST((2 * CAST(err AS DECIMAL(38,0)) * 1000000 + wTot)
                    div (2 * wTot) AS BIGINT)""").as("eps_micro"))
          .collect()(0)
        val (th, pol, an) = (p.getLong(0), p.getInt(1), p.getLong(2))
        picks = picks :+ ((th, pol, an, p.getLong(3)))
        val h = s"(CASE WHEN x <= $th THEN $pol ELSE ${-pol} END)"
        cells = cells.select(col("x"), col("y"), col("n"),
          expr(s"""CAST(round(CAST(w AS DOUBLE)
                   * exp(CAST(${-an} AS DOUBLE) / 1e9 * y * $h)) AS BIGINT)""").as("w"))
          .localCheckpoint(false)
      }
      val out = picks.zipWithIndex.map { case ((th, pol, an, eps), i) =>
        val score = picks.take(i + 1).map { case (t2, p2, a2, _) =>
          s"$a2 * (CASE WHEN x <= $t2 THEN $p2 ELSE ${-p2} END)"
        }.mkString(" + ")
        grid.groupBy().agg(
          sum(when(expr(s"($score) * y").leq(0), col("n")).otherwise(0L)).as("wrong"),
          sum(col("n")).as("tot"))
          .select(lit(i + 1).as("round"), lit(th).as("theta"), lit(pol).as("polarity"),
            round(lit(eps).cast("double") / 1e6, 6).as("eps"),
            lit(an).as("alpha_nano"),
            round(expr("CAST((2 * wrong * 1000000 + tot) DIV (2 * tot) AS BIGINT)")
              .cast("double") / 1e6, 6).as("ens_err"))
      }
      out.reduce(_ unionByName _).orderBy("round")
    },
    Some("""
      WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                        CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END AS y
                 FROM lineitem),
      grid AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
      th AS (SELECT DISTINCT x AS theta FROM grid),
      c0 AS (SELECT x, y, n, n * 1000000000 AS w FROM grid),

      e1 AS (SELECT theta,
               CAST(sum(CASE WHEN y = 1 AND x <= theta THEN w ELSE 0 END) AS BIGINT) AS wpLe,
               CAST(sum(CASE WHEN y = -1 AND x <= theta THEN w ELSE 0 END) AS BIGINT) AS wnLe,
               CAST(sum(CASE WHEN y = 1 THEN w ELSE 0 END) AS BIGINT) AS wpTot,
               CAST(sum(w) AS BIGINT) AS wTot
             FROM c0 CROSS JOIN th GROUP BY theta),
      d1 AS (SELECT theta, 1 AS pol, wnLe + wpTot - wpLe AS err, wTot FROM e1
             UNION ALL
             SELECT theta, -1, wTot - (wnLe + wpTot - wpLe), wTot FROM e1),
      p1 AS (SELECT theta, pol,
               CAST(round(1e9 * ln(CAST(wTot - err AS DOUBLE) / CAST(err AS DOUBLE)) / 2) AS BIGINT) AS an,
               CAST((2 * CAST(err AS HUGEINT) * 1000000 + wTot) // (2 * wTot) AS BIGINT) AS eps_micro
             FROM d1 ORDER BY err, theta, pol LIMIT 1),
      c1 AS (SELECT x, y, n,
               CAST(round(CAST(w AS DOUBLE) * exp(CAST(-an AS DOUBLE) / 1e9 * y
                 * (CASE WHEN x <= theta THEN pol ELSE -pol END))) AS BIGINT) AS w
             FROM c0 CROSS JOIN p1),

      e2 AS (SELECT theta,
               CAST(sum(CASE WHEN y = 1 AND x <= theta THEN w ELSE 0 END) AS BIGINT) AS wpLe,
               CAST(sum(CASE WHEN y = -1 AND x <= theta THEN w ELSE 0 END) AS BIGINT) AS wnLe,
               CAST(sum(CASE WHEN y = 1 THEN w ELSE 0 END) AS BIGINT) AS wpTot,
               CAST(sum(w) AS BIGINT) AS wTot
             FROM c1 CROSS JOIN th GROUP BY theta),
      d2 AS (SELECT theta, 1 AS pol, wnLe + wpTot - wpLe AS err, wTot FROM e2
             UNION ALL
             SELECT theta, -1, wTot - (wnLe + wpTot - wpLe), wTot FROM e2),
      p2 AS (SELECT theta, pol,
               CAST(round(1e9 * ln(CAST(wTot - err AS DOUBLE) / CAST(err AS DOUBLE)) / 2) AS BIGINT) AS an,
               CAST((2 * CAST(err AS HUGEINT) * 1000000 + wTot) // (2 * wTot) AS BIGINT) AS eps_micro
             FROM d2 ORDER BY err, theta, pol LIMIT 1),
      c2 AS (SELECT x, y, n,
               CAST(round(CAST(w AS DOUBLE) * exp(CAST(-an AS DOUBLE) / 1e9 * y
                 * (CASE WHEN x <= theta THEN pol ELSE -pol END))) AS BIGINT) AS w
             FROM c1 CROSS JOIN p2),

      e3 AS (SELECT theta,
               CAST(sum(CASE WHEN y = 1 AND x <= theta THEN w ELSE 0 END) AS BIGINT) AS wpLe,
               CAST(sum(CASE WHEN y = -1 AND x <= theta THEN w ELSE 0 END) AS BIGINT) AS wnLe,
               CAST(sum(CASE WHEN y = 1 THEN w ELSE 0 END) AS BIGINT) AS wpTot,
               CAST(sum(w) AS BIGINT) AS wTot
             FROM c2 CROSS JOIN th GROUP BY theta),
      d3 AS (SELECT theta, 1 AS pol, wnLe + wpTot - wpLe AS err, wTot FROM e3
             UNION ALL
             SELECT theta, -1, wTot - (wnLe + wpTot - wpLe), wTot FROM e3),
      p3 AS (SELECT theta, pol,
               CAST(round(1e9 * ln(CAST(wTot - err AS DOUBLE) / CAST(err AS DOUBLE)) / 2) AS BIGINT) AS an,
               CAST((2 * CAST(err AS HUGEINT) * 1000000 + wTot) // (2 * wTot) AS BIGINT) AS eps_micro
             FROM d3 ORDER BY err, theta, pol LIMIT 1),

      s1 AS (SELECT p1.an * (CASE WHEN grid.x <= p1.theta THEN p1.pol ELSE -p1.pol END) AS sc,
                    grid.x, grid.y, grid.n
             FROM grid CROSS JOIN p1),
      n1 AS (SELECT CAST(sum(CASE WHEN sc * y <= 0 THEN n ELSE 0 END) AS BIGINT) AS wrong,
                    CAST(sum(n) AS BIGINT) AS tot FROM s1),
      s2 AS (SELECT s1.sc + p2.an * (CASE WHEN s1.x <= p2.theta THEN p2.pol ELSE -p2.pol END) AS sc,
                    s1.x, s1.y, s1.n
             FROM s1 CROSS JOIN p2),
      n2 AS (SELECT CAST(sum(CASE WHEN sc * y <= 0 THEN n ELSE 0 END) AS BIGINT) AS wrong,
                    CAST(sum(n) AS BIGINT) AS tot FROM s2),
      s3 AS (SELECT s2.sc + p3.an * (CASE WHEN s2.x <= p3.theta THEN p3.pol ELSE -p3.pol END) AS sc,
                    s2.y, s2.n
             FROM s2 CROSS JOIN p3),
      n3 AS (SELECT CAST(sum(CASE WHEN sc * y <= 0 THEN n ELSE 0 END) AS BIGINT) AS wrong,
                    CAST(sum(n) AS BIGINT) AS tot FROM s3)
      SELECT 1 AS round, theta, pol AS polarity,
             round(CAST(eps_micro AS DOUBLE) / 1e6, 6) AS eps, an AS alpha_nano,
             round(CAST(CAST((2 * wrong * 1000000 + tot) // (2 * tot) AS BIGINT)
                   AS DOUBLE) / 1e6, 6) AS ens_err
      FROM p1 CROSS JOIN n1
      UNION ALL
      SELECT 2, theta, pol,
             round(CAST(eps_micro AS DOUBLE) / 1e6, 6), an,
             round(CAST(CAST((2 * wrong * 1000000 + tot) // (2 * tot) AS BIGINT)
                   AS DOUBLE) / 1e6, 6)
      FROM p2 CROSS JOIN n2
      UNION ALL
      SELECT 3, theta, pol,
             round(CAST(eps_micro AS DOUBLE) / 1e6, 6), an,
             round(CAST(CAST((2 * wrong * 1000000 + tot) // (2 * tot) AS BIGINT)
                   AS DOUBLE) / 1e6, 6)
      FROM p3 CROSS JOIN n3
      ORDER BY round"""))

  // --------------------------------------------------------------- q299

  /** q299 — EM for a two-component 1-D Gaussian mixture over order
    * values (3 iterations): soft-clusters the value distribution into
    * a "small orders" and "large orders" regime with means, variances
    * and mixing weight — the model-based alternative to k-means'
    * (q74) hard assignment, and the EM loop itself is the template
    * for every latent-variable fit.
    *
    * Same engine-parity discipline as q291's Newton: each iteration
    * is ONE distributed pass accumulating the six weighted moments
    * (Σr, Σrx, Σrx² per component) as per-row nano-quantized longs —
    * responsibilities use the textually-identical Gaussian density on
    * both engines — and the M-step runs INSIDE the same plan, so the
    * parameter state between iterations is five exact nano-longs
    * (μ₁, μ₂, σ₁², σ₂², π₁). Deterministic moment-based init
    * (μ = mean ∓ sd/2, σ² = var, π₁ = ½). The oracle unrolls the
    * three E/M passes with CROSS JOINed state CTEs.
    */
  val q299 = Q("q299_em_mixture",
    (s, dir) => {
      val b = Tables.load(s, dir, "orders").select(
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"),
        (expr("CAST(round(o_totalprice * 100) AS BIGINT)").cast("double") / 1e7).as("x"))
        .localCheckpoint(false) // init moments + 3 EM passes
      // init moments accumulate EXACTLY like the iteration passes:
      // integer cents (sum fits long) and DECIMAL(38,0) for Σc² (Σ can
      // pass 2⁶³); the double mean/variance come from ONE formula over
      // the exact sums, so the seed is independent of reduction order
      // on either engine (a raw double Σx Σx² here was the module's
      // one order-dependent aggregate — a last-ulp flip would seed 3 EM
      // rounds and break the exact hash gate)
      val init = b.groupBy().agg(
        count(lit(1)).as("n"), sum("c").as("sc"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))")).as("scc"))
        .withColumn("sx", expr("CAST(sc AS DOUBLE) / 1e7"))
        .withColumn("sxx", expr("CAST(scc AS DOUBLE) / 1e14"))
        .select(
          expr("CAST(round(1e9 * (sx / n - sqrt(sxx / n - (sx / n) * (sx / n)) / 2)) AS BIGINT)").as("m1"),
          expr("CAST(round(1e9 * (sx / n + sqrt(sxx / n - (sx / n) * (sx / n)) / 2)) AS BIGINT)").as("m2"),
          expr("CAST(round(1e9 * (sxx / n - (sx / n) * (sx / n))) AS BIGINT)").as("v1"),
          expr("CAST(round(1e9 * (sxx / n - (sx / n) * (sx / n))) AS BIGINT)").as("v2"),
          expr("CAST(500000000 AS BIGINT)").as("p1"))
        .collect()(0)
      def phi(m: String, v: String) =
        s"""(exp(-(x - CAST($m AS DOUBLE) / 1e9) * (x - CAST($m AS DOUBLE) / 1e9)
            / (2.0 * CAST($v AS DOUBLE) / 1e9))
            / sqrt(CAST($v AS DOUBLE) / 1e9) / 2.5066282746310002)"""
      def r1(m1: String, m2: String, v1: String, v2: String, p1: String) =
        s"""(CAST($p1 AS DOUBLE) / 1e9 * ${phi(m1, v1)}
            / (CAST($p1 AS DOUBLE) / 1e9 * ${phi(m1, v1)}
               + (1.0 - CAST($p1 AS DOUBLE) / 1e9) * ${phi(m2, v2)}))"""
      def sums(rr: String) = Seq(
        "CAST(count(*) AS BIGINT) AS n",
        s"CAST(sum(CAST(round(1e9 * $rr) AS BIGINT)) AS BIGINT) AS sr",
        s"CAST(sum(CAST(round(1e9 * ($rr * x)) AS BIGINT)) AS BIGINT) AS srx",
        s"CAST(sum(CAST(round(1e9 * ($rr * x * x)) AS BIGINT)) AS BIGINT) AS srxx",
        "CAST(sum(CAST(round(1e9 * x) AS BIGINT)) AS BIGINT) AS stx",
        "CAST(sum(CAST(round(1e9 * (x * x)) AS BIGINT)) AS BIGINT) AS stxx")
      // M-step: μk = Σrx/Σr; σ²k = Σrx²/Σr − μk²; π₁ = Σr/n — all from
      // the exact sums, one double formula each, re-quantized to nano
      val upd = Seq(
        """CAST(round(1e9 * (CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE))) AS BIGINT) AS m1""",
        """CAST(round(1e9 * (CAST(stx - srx AS DOUBLE) / CAST(n * 1000000000 - sr AS DOUBLE))) AS BIGINT) AS m2""",
        """CAST(round(1e9 * (CAST(srxx AS DOUBLE) / CAST(sr AS DOUBLE)
             - (CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE)) * (CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE)))) AS BIGINT) AS v1""",
        """CAST(round(1e9 * (CAST(stxx - srxx AS DOUBLE) / CAST(n * 1000000000 - sr AS DOUBLE)
             - (CAST(stx - srx AS DOUBLE) / CAST(n * 1000000000 - sr AS DOUBLE))
               * (CAST(stx - srx AS DOUBLE) / CAST(n * 1000000000 - sr AS DOUBLE)))) AS BIGINT) AS v2""",
        """CAST(round(1e9 * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) / 1e9)) AS BIGINT) AS p1""")
      var st = (init.getLong(0), init.getLong(1), init.getLong(2), init.getLong(3),
        init.getLong(4))
      for (_ <- 1 to 3) {
        val rr = r1(st._1.toString, st._2.toString, st._3.toString, st._4.toString,
          st._5.toString)
        val r = b.selectExpr(sums(rr): _*).selectExpr(upd: _*).collect()(0)
        st = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      }
      b.selectExpr(
        "CAST(count(*) AS BIGINT) AS n",
        s"CAST(${st._1} AS BIGINT) AS mu1_nano",
        s"CAST(${st._2} AS BIGINT) AS mu2_nano",
        s"CAST(${st._3} AS BIGINT) AS var1_nano",
        s"CAST(${st._4} AS BIGINT) AS var2_nano",
        s"CAST(${st._5} AS BIGINT) AS pi1_nano")
    },
    Some {
      def phi(m: String, v: String) =
        s"""(exp(-(x - CAST($m AS DOUBLE) / 1e9) * (x - CAST($m AS DOUBLE) / 1e9)
            / (2.0 * CAST($v AS DOUBLE) / 1e9))
            / sqrt(CAST($v AS DOUBLE) / 1e9) / 2.5066282746310002)"""
      def r1(unused: String) =
        s"""(CAST(p1 AS DOUBLE) / 1e9 * ${phi("m1", "v1")}
            / (CAST(p1 AS DOUBLE) / 1e9 * ${phi("m1", "v1")}
               + (1.0 - CAST(p1 AS DOUBLE) / 1e9) * ${phi("m2", "v2")}))"""
      def aCte(name: String, from: String) = s"""
      $name AS (SELECT
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(round(1e9 * ${r1(name)}) AS BIGINT)) AS BIGINT) AS sr,
        CAST(sum(CAST(round(1e9 * (${r1(name)} * x)) AS BIGINT)) AS BIGINT) AS srx,
        CAST(sum(CAST(round(1e9 * (${r1(name)} * x * x)) AS BIGINT)) AS BIGINT) AS srxx,
        CAST(sum(CAST(round(1e9 * x) AS BIGINT)) AS BIGINT) AS stx,
        CAST(sum(CAST(round(1e9 * (x * x)) AS BIGINT)) AS BIGINT) AS stxx
        FROM $from)"""
      def tCte(name: String, a: String) = s"""
      $name AS (SELECT
        CAST(round(1e9 * (CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE))) AS BIGINT) AS m1,
        CAST(round(1e9 * (CAST(stx - srx AS DOUBLE) / CAST(n * 1000000000 - sr AS DOUBLE))) AS BIGINT) AS m2,
        CAST(round(1e9 * (CAST(srxx AS DOUBLE) / CAST(sr AS DOUBLE)
          - (CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE)) * (CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE)))) AS BIGINT) AS v1,
        CAST(round(1e9 * (CAST(stxx - srxx AS DOUBLE) / CAST(n * 1000000000 - sr AS DOUBLE)
          - (CAST(stx - srx AS DOUBLE) / CAST(n * 1000000000 - sr AS DOUBLE))
            * (CAST(stx - srx AS DOUBLE) / CAST(n * 1000000000 - sr AS DOUBLE)))) AS BIGINT) AS v2,
        CAST(round(1e9 * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) / 1e9)) AS BIGINT) AS p1
        FROM $a)"""
      s"""
      WITH b AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                        CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) / 1e7 AS x
                 FROM orders),
      i0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(c) AS DOUBLE) / 1e7 AS sx,
                    CAST(sum(c * c) AS DOUBLE) / 1e14 AS sxx
             FROM b),
      t0 AS (SELECT
        CAST(round(1e9 * (sx / n - sqrt(sxx / n - (sx / n) * (sx / n)) / 2)) AS BIGINT) AS m1,
        CAST(round(1e9 * (sx / n + sqrt(sxx / n - (sx / n) * (sx / n)) / 2)) AS BIGINT) AS m2,
        CAST(round(1e9 * (sxx / n - (sx / n) * (sx / n))) AS BIGINT) AS v1,
        CAST(round(1e9 * (sxx / n - (sx / n) * (sx / n))) AS BIGINT) AS v2,
        CAST(500000000 AS BIGINT) AS p1
        FROM i0),
      ${aCte("a1", "b CROSS JOIN t0")},
      ${tCte("t1", "a1")},
      ${aCte("a2", "b CROSS JOIN t1")},
      ${tCte("t2", "a2")},
      ${aCte("a3", "b CROSS JOIN t2")},
      ${tCte("t3", "a3")}
      SELECT CAST(count(*) AS BIGINT) AS n,
             max(m1) AS mu1_nano, max(m2) AS mu2_nano,
             max(v1) AS var1_nano, max(v2) AS var2_nano,
             max(p1) AS pi1_nano
      FROM b CROSS JOIN t3"""
    })

  // --------------------------------------------------------------- q307

  /** q307 — Fellegi-Sunter record-linkage EM: over nation-blocked
    * customer pairs compared on three fields (market segment,
    * $250 balance band, same last-key-digit as a noisy key proxy),
    * estimate the match-class parameters (prevalence p, per-field
    * agreement probabilities m_k among matches, u_k among
    * non-matches) by 3 EM iterations — the 1969 theory underneath
    * every production entity-resolution scorer, turning q253/q262's
    * ad-hoc similarity thresholds into calibrated match weights.
    *
    * The entire EM state lives on the 2³-row agreement-pattern
    * rollup (pattern counts are exact longs from ONE blocked
    * pair-enumeration pass — q245's combination shape, never
    * all-pairs); responsibilities are pure products of nano-quantized
    * probabilities (no transcendentals at all), the M-step runs
    * in-plan (q299's discipline), and 7 nano-longs cross the driver
    * per iteration. The oracle unrolls the same three E/M passes.
    *
    * Pair enumeration is the chunk-grid shape (bucketPairsExact's
    * discipline, carried here with field structs): each block splits
    * into id-ordered chunks of ≤ 256 rows, the (i ≤ j) chunk-pair
    * grid spreads by repartition, and each tile explodes ≤ 256²
    * agreement rows STRAIGHT into the map-side-combined pattern
    * rollup — no row ever holds a whole block (a 60k-member block at
    * 100× is ~235 tile tasks, not one 1.8 B-pair straggler row).
    */
  val q307 = Q("q307_linkage_em",
    (s, dir) => {
      // Agreement-pattern counts WITHOUT pair enumeration (r15 opt):
      // within-block pair counts per agreement pattern are pure
      // counting algebra. For a feature subset S, the number of
      // within-block pairs agreeing on ALL of S is
      //   c(S) = Σ over (blk, S-values) groups of C(m, 2)
      // — superset-closed counts, one grouped rollup each. The EXACT
      // pattern counts (agree on T, disagree on the rest) follow by
      // inclusion–exclusion: n(T) = Σ_{S ⊇ T} (−1)^{|S|−|T|} c(S).
      // Replaces the previous chunk-grid O(Σ block²) pair explosion
      // (~4.5M enumerated pairs at sf0.1) with ONE exchange of the
      // customer rows + 8 rollups over the ≤|key-space| group table —
      // linear in rows at any scale; the oracle still enumerates, and
      // both land on identical integer counts.
      val feats = Tables.load(s, dir, "customer")
        .select(col("c_nationkey").as("blk"),
          col("c_mktsegment").as("f1"),
          expr("CAST(floor(c_acctbal / 250.0) AS BIGINT)").as("f2"),
          expr("c_custkey % 10").as("f3"))
      val g = feats.groupBy("blk", "f1", "f2", "f3")
        .agg(count(lit(1)).as("m"))
        .localCheckpoint(false) // 8 subset rollups re-read it
      // c(S) for every S ⊆ {f1,f2,f3}, all 8 in ONE grouping-sets pass
      // over g (blk is in every set). Features are non-null by
      // construction, so a grouped rollup never conflates "collapsed"
      // with "null value". S rides as a bitmask derived from
      // grouping_id: gid bit = 1 ⇔ the feature was COLLAPSED, so
      // s = 7 − gid has bit 4 ⇔ f1 ∈ S, bit 2 ⇔ f2, bit 1 ⇔ f3.
      val fcols = Seq(col("f1"), col("f2"), col("f3"))
      val sets = (0 until 8).map { m =>
        col("blk") +: fcols.zipWithIndex.collect {
          case (c, i) if (m & (4 >> i)) != 0 => c }
      }
      val subsetCounts = g
        .groupingSets(sets, (col("blk") +: fcols): _*)
        .agg(sum("m").as("ms"),
          // grouping_id must name ALL grouping columns; blk is in every
          // set so its (high) bit is always 0 and gid ∈ [0, 7]
          (lit(7) - grouping_id((col("blk") +: fcols): _*)).cast("int").as("s"))
        .groupBy("s")
        .agg(coalesce(sum(expr("ms * (ms - 1) div 2")), lit(0L)).as("c"))
        .localCheckpoint(false)
      val patterns = s.range(8).select(
        col("id").cast("int").as("t"),
        ((col("id") / 4) % 2).cast("int").as("a1"),
        ((col("id") / 2) % 2).cast("int").as("a2"),
        (col("id") % 2).cast("int").as("a3"))
      val pats = patterns
        .join(broadcast(subsetCounts), expr("(s & t) = t"))
        .groupBy("a1", "a2", "a3")
        .agg(sum(when((bit_count(col("s")) - bit_count(col("t"))) % 2 === 0,
          col("c")).otherwise(-col("c"))).as("n"))
        .filter(col("n") > 0)
        .localCheckpoint(false) // 3 EM passes + the final scoring pass
      def lik(pn: Long, m: Seq[Long], u: Seq[Long]) = {
        def f(k: Int, v: Seq[Long]) =
          s"(CAST(a$k AS DOUBLE) * (CAST(${v(k - 1)} AS DOUBLE) / 1e9) " +
            s"+ CAST(1 - a$k AS DOUBLE) * (1.0 - CAST(${v(k - 1)} AS DOUBLE) / 1e9))"
        val pm = s"(CAST($pn AS DOUBLE) / 1e9 * ${f(1, m)} * ${f(2, m)} * ${f(3, m)})"
        val pu = s"((1.0 - CAST($pn AS DOUBLE) / 1e9) * ${f(1, u)} * ${f(2, u)} * ${f(3, u)})"
        s"CAST(round(1e9 * ($pm / ($pm + $pu))) AS BIGINT)"
      }
      def estep(pn: Long, m: Seq[Long], u: Seq[Long]) = {
        val w = lik(pn, m, u)
        Seq(
          "CAST(sum(n) AS BIGINT) AS nt",
          s"CAST(sum(n * $w) AS BIGINT) AS sw",
          s"CAST(sum(n * a1 * $w) AS BIGINT) AS sw1",
          s"CAST(sum(n * a2 * $w) AS BIGINT) AS sw2",
          s"CAST(sum(n * a3 * $w) AS BIGINT) AS sw3",
          s"CAST(sum(n * a1 * (1000000000 - $w)) AS BIGINT) AS su1",
          s"CAST(sum(n * a2 * (1000000000 - $w)) AS BIGINT) AS su2",
          s"CAST(sum(n * a3 * (1000000000 - $w)) AS BIGINT) AS su3")
      }
      val mstep = Seq(
        "CAST(round(1e9 * (CAST(sw AS DOUBLE) / CAST(nt AS DOUBLE) / 1e9)) AS BIGINT) AS p",
        "CAST(round(1e9 * (CAST(sw1 AS DOUBLE) / CAST(sw AS DOUBLE))) AS BIGINT) AS m1",
        "CAST(round(1e9 * (CAST(sw2 AS DOUBLE) / CAST(sw AS DOUBLE))) AS BIGINT) AS m2",
        "CAST(round(1e9 * (CAST(sw3 AS DOUBLE) / CAST(sw AS DOUBLE))) AS BIGINT) AS m3",
        "CAST(round(1e9 * (CAST(su1 AS DOUBLE) / CAST(nt * 1000000000 - sw AS DOUBLE))) AS BIGINT) AS u1",
        "CAST(round(1e9 * (CAST(su2 AS DOUBLE) / CAST(nt * 1000000000 - sw AS DOUBLE))) AS BIGINT) AS u2",
        "CAST(round(1e9 * (CAST(su3 AS DOUBLE) / CAST(nt * 1000000000 - sw AS DOUBLE))) AS BIGINT) AS u3")
      var p = 100000000L // 0.1
      var m = Seq(900000000L, 900000000L, 900000000L)
      var u = Seq(500000000L, 500000000L, 500000000L)
      for (_ <- 1 to 3) {
        val r = pats.selectExpr(estep(p, m, u): _*).selectExpr(mstep: _*).collect()(0)
        p = r.getLong(0)
        m = Seq(r.getLong(1), r.getLong(2), r.getLong(3))
        u = Seq(r.getLong(4), r.getLong(5), r.getLong(6))
      }
      pats.select(col("a1"), col("a2"), col("a3"), col("n"),
          expr(lik(p, m, u)).as("w_nano"))
        .crossJoin(broadcast(pats.selectExpr(
          (Seq(s"CAST($p AS BIGINT) AS p_nano") ++
            (1 to 3).map(k => s"CAST(${m(k - 1)} AS BIGINT) AS m$k") ++
            (1 to 3).map(k => s"CAST(${u(k - 1)} AS BIGINT) AS u$k")): _*).limit(1)))
        .orderBy("a1", "a2", "a3")
    },
    Some {
      def f(k: Int, v: String) =
        s"(CAST(a$k AS DOUBLE) * (CAST($v$k AS DOUBLE) / 1e9) " +
          s"+ CAST(1 - a$k AS DOUBLE) * (1.0 - CAST($v$k AS DOUBLE) / 1e9))"
      val pm = s"(CAST(p AS DOUBLE) / 1e9 * ${f(1, "m")} * ${f(2, "m")} * ${f(3, "m")})"
      val pu = s"((1.0 - CAST(p AS DOUBLE) / 1e9) * ${f(1, "u")} * ${f(2, "u")} * ${f(3, "u")})"
      val w = s"CAST(round(1e9 * ($pm / ($pm + $pu))) AS BIGINT)"
      def aCte(name: String, from: String) = s"""
      $name AS (SELECT
        CAST(sum(n) AS BIGINT) AS nt,
        CAST(sum(n * $w) AS BIGINT) AS sw,
        CAST(sum(n * a1 * $w) AS BIGINT) AS sw1,
        CAST(sum(n * a2 * $w) AS BIGINT) AS sw2,
        CAST(sum(n * a3 * $w) AS BIGINT) AS sw3,
        CAST(sum(n * a1 * (1000000000 - $w)) AS BIGINT) AS su1,
        CAST(sum(n * a2 * (1000000000 - $w)) AS BIGINT) AS su2,
        CAST(sum(n * a3 * (1000000000 - $w)) AS BIGINT) AS su3
        FROM $from)"""
      def tCte(name: String, a: String) = s"""
      $name AS (SELECT
        CAST(round(1e9 * (CAST(sw AS DOUBLE) / CAST(nt AS DOUBLE) / 1e9)) AS BIGINT) AS p,
        CAST(round(1e9 * (CAST(sw1 AS DOUBLE) / CAST(sw AS DOUBLE))) AS BIGINT) AS m1,
        CAST(round(1e9 * (CAST(sw2 AS DOUBLE) / CAST(sw AS DOUBLE))) AS BIGINT) AS m2,
        CAST(round(1e9 * (CAST(sw3 AS DOUBLE) / CAST(sw AS DOUBLE))) AS BIGINT) AS m3,
        CAST(round(1e9 * (CAST(su1 AS DOUBLE) / CAST(nt * 1000000000 - sw AS DOUBLE))) AS BIGINT) AS u1,
        CAST(round(1e9 * (CAST(su2 AS DOUBLE) / CAST(nt * 1000000000 - sw AS DOUBLE))) AS BIGINT) AS u2,
        CAST(round(1e9 * (CAST(su3 AS DOUBLE) / CAST(nt * 1000000000 - sw AS DOUBLE))) AS BIGINT) AS u3
        FROM $a)"""
      s"""
      WITH c AS (SELECT c_nationkey AS blk, c_custkey AS id,
                        c_mktsegment AS f1,
                        CAST(floor(c_acctbal / 250.0) AS BIGINT) AS f2,
                        c_custkey % 10 AS f3
                 FROM customer),
      pats AS MATERIALIZED (
        SELECT CASE WHEN a.f1 = b.f1 THEN 1 ELSE 0 END AS a1,
               CASE WHEN a.f2 = b.f2 THEN 1 ELSE 0 END AS a2,
               CASE WHEN a.f3 = b.f3 THEN 1 ELSE 0 END AS a3,
               CAST(count(*) AS BIGINT) AS n
        FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id
        GROUP BY 1, 2, 3),
      t0 AS (SELECT CAST(100000000 AS BIGINT) AS p,
                    CAST(900000000 AS BIGINT) AS m1, CAST(900000000 AS BIGINT) AS m2,
                    CAST(900000000 AS BIGINT) AS m3,
                    CAST(500000000 AS BIGINT) AS u1, CAST(500000000 AS BIGINT) AS u2,
                    CAST(500000000 AS BIGINT) AS u3),
      ${aCte("a1c", "pats CROSS JOIN t0")},
      ${tCte("t1", "a1c")},
      ${aCte("a2c", "pats CROSS JOIN t1")},
      ${tCte("t2", "a2c")},
      ${aCte("a3c", "pats CROSS JOIN t2")},
      ${tCte("t3", "a3c")}
      SELECT a1, a2, a3, n, $w AS w_nano,
             p AS p_nano, m1, m2, m3, u1, u2, u3
      FROM pats CROSS JOIN t3
      ORDER BY a1, a2, a3"""
    })

  // --------------------------------------------------------------- q310

  /** q310 — instrumental-variable (Wald) estimator: with a binary
    * instrument z (a deterministic key parity standing in for random
    * assignment), the causal effect of order count x on spend y is
    * β = (ȳ₁−ȳ₀)/(x̄₁−x̄₀) — reduced form over first stage, the
    * simplest 2SLS and the workhorse of encouragement-design A/B
    * analyses where compliance is partial.
    *
    * Exactness: y is exact cents, x exact counts; both mean
    * differences are cross-multiplied integer ratios
    * (Sy₁n₀ − Sy₀n₁ over n₁n₀) so β is a single rational
    * num/den in DECIMAL(38,0)/HUGEINT, micro-rounded by the
    * sign-symmetric (2a+d) div 2d recipe after normalizing the
    * denominator positive. One grouped pass per customer (LEFT join
    * keeps never-ordered customers as true zeros — dropping them
    * biases the first stage), one 2-cell conditional rollup; nothing
    * but 1 row crosses stages.
    */
  val q310 = Q("q310_iv_wald",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), expr("CAST(c_custkey % 2 AS INT)").as("z"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val per = c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey", "z")
        .agg(count(col("o_custkey")).as("x"),
          coalesce(sum("cents"), lit(0L)).as("y"))
      per.groupBy()
        .agg(sum("z").as("n1"), expr("count(*) - sum(z)").as("n0"),
          expr("sum(z * x)").as("sx1"), expr("sum((1 - z) * x)").as("sx0"),
          expr("sum(z * y)").as("sy1"), expr("sum((1 - z) * y)").as("sy0"))
        .select(col("n1"), col("n0"),
          expr("""CAST(CAST(sy1 AS DECIMAL(38,0)) * n0
                  - CAST(sy0 AS DECIMAL(38,0)) * n1 AS DECIMAL(38,0))""").as("rf"),
          expr("""CAST(CAST(sx1 AS DECIMAL(38,0)) * n0
                  - CAST(sx0 AS DECIMAL(38,0)) * n1 AS DECIMAL(38,0))""").as("fs"),
          expr("CAST(CAST(n1 AS DECIMAL(38,0)) * n0 AS DECIMAL(38,0))").as("nn"))
        .select(col("n1"), col("n0"),
          expr("""round(CAST(CASE WHEN rf < 0
                    THEN -CAST((-2 * rf * 1000000 + nn) div (2 * nn) AS BIGINT)
                    ELSE CAST((2 * rf * 1000000 + nn) div (2 * nn) AS BIGINT) END
                  AS DOUBLE) / 1e6, 6)""").as("itt_cents"),
          expr("""round(CAST(CASE WHEN fs < 0
                    THEN -CAST((-2 * fs * 1000000 + nn) div (2 * nn) AS BIGINT)
                    ELSE CAST((2 * fs * 1000000 + nn) div (2 * nn) AS BIGINT) END
                  AS DOUBLE) / 1e6, 6)""").as("first_stage"),
          expr("""round(CAST(CASE
                    WHEN (CASE WHEN fs < 0 THEN -rf ELSE rf END) < 0
                    THEN -CAST((-2 * (CASE WHEN fs < 0 THEN -rf ELSE rf END) * 1000000
                                + abs(fs)) div (2 * abs(fs)) AS BIGINT)
                    ELSE CAST((2 * (CASE WHEN fs < 0 THEN -rf ELSE rf END) * 1000000
                               + abs(fs)) div (2 * abs(fs)) AS BIGINT) END
                  AS DOUBLE) / 1e6, 6)""").as("beta_wald"))
    },
    Some("""
      WITH per AS (SELECT c.c_custkey, CAST(c.c_custkey % 2 AS INTEGER) AS z,
                          CAST(count(o.o_custkey) AS BIGINT) AS x,
                          CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)), 0)
                               AS BIGINT) AS y
                   FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                   GROUP BY 1, 2),
      w AS (SELECT CAST(sum(z) AS BIGINT) AS n1,
                   CAST(count(*) - sum(z) AS BIGINT) AS n0,
                   CAST(sum(z * x) AS BIGINT) AS sx1,
                   CAST(sum((1 - z) * x) AS BIGINT) AS sx0,
                   CAST(sum(z * y) AS BIGINT) AS sy1,
                   CAST(sum((1 - z) * y) AS BIGINT) AS sy0
            FROM per),
      r AS (SELECT n1, n0,
                   CAST(sy1 AS HUGEINT) * n0 - CAST(sy0 AS HUGEINT) * n1 AS rf,
                   CAST(sx1 AS HUGEINT) * n0 - CAST(sx0 AS HUGEINT) * n1 AS fs,
                   CAST(n1 AS HUGEINT) * n0 AS nn
            FROM w)
      SELECT n1, n0,
             round(CAST(CASE WHEN rf < 0
                     THEN -CAST((-2 * rf * 1000000 + nn) // (2 * nn) AS BIGINT)
                     ELSE CAST((2 * rf * 1000000 + nn) // (2 * nn) AS BIGINT) END
                   AS DOUBLE) / 1e6, 6) AS itt_cents,
             round(CAST(CASE WHEN fs < 0
                     THEN -CAST((-2 * fs * 1000000 + nn) // (2 * nn) AS BIGINT)
                     ELSE CAST((2 * fs * 1000000 + nn) // (2 * nn) AS BIGINT) END
                   AS DOUBLE) / 1e6, 6) AS first_stage,
             round(CAST(CASE
                     WHEN (CASE WHEN fs < 0 THEN -rf ELSE rf END) < 0
                     THEN -CAST((-2 * (CASE WHEN fs < 0 THEN -rf ELSE rf END) * 1000000
                                 + abs(fs)) // (2 * abs(fs)) AS BIGINT)
                     ELSE CAST((2 * (CASE WHEN fs < 0 THEN -rf ELSE rf END) * 1000000
                                + abs(fs)) // (2 * abs(fs)) AS BIGINT) END
                   AS DOUBLE) / 1e6, 6) AS beta_wald
      FROM r"""))

  // --------------------------------------------------------------- q311

  /** q311 — difference-in-differences: treated nations (key parity)
    * vs control, orders before vs after 1998-01-01; the DID estimate
    * (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) removes both the
    * group-level and the period-level confound — the canonical
    * quasi-experimental readout for "the policy changed in region X
    * mid-year, did spend respond?".
    *
    * Exactness: the four cell sums are exact cents/longs from ONE
    * conditional rollup; the DID combines them over the common
    * denominator nₐn_bn_cn_d in DECIMAL(38,0)/HUGEINT (magnitudes
    * ≤1e33 at sf1, inside both types), micro-rounded
    * sign-symmetrically. Cell means are (2a+d) div 2d on
    * non-negative sums. The customer→orders join is a plain shuffle
    * equi-join (AQE may broadcast at small SF); no window anywhere.
    */
  val q311 = Q("q311_did",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), expr("CAST(c_nationkey % 2 AS INT)").as("treat"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          expr("CAST(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' THEN 1 ELSE 0 END AS INT)")
            .as("post"))
      val cells = o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy().agg(
          expr("sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END)").as("na"),
          expr("sum(CASE WHEN treat = 1 AND post = 1 THEN cents ELSE 0 END)").as("sa"),
          expr("sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END)").as("nb"),
          expr("sum(CASE WHEN treat = 1 AND post = 0 THEN cents ELSE 0 END)").as("sb"),
          expr("sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END)").as("nc"),
          expr("sum(CASE WHEN treat = 0 AND post = 1 THEN cents ELSE 0 END)").as("sc"),
          expr("sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END)").as("nd"),
          expr("sum(CASE WHEN treat = 0 AND post = 0 THEN cents ELSE 0 END)").as("sd"))
      def mean(sum: String, n: String) =
        s"""round(CAST(CAST((2 * CAST($sum AS DECIMAL(38,0)) * 1000000 + $n)
            div (2 * CAST($n AS DECIMAL(38,0))) AS BIGINT) AS DOUBLE) / 1e6, 6)"""
      cells.select(col("na"), col("nb"), col("nc"), col("nd"),
        expr(mean("sa", "na")).as("m_treat_post"),
        expr(mean("sb", "nb")).as("m_treat_pre"),
        expr(mean("sc", "nc")).as("m_ctrl_post"),
        expr(mean("sd", "nd")).as("m_ctrl_pre"),
        expr("""CAST((CAST(sa AS DECIMAL(38,0)) * nb - CAST(sb AS DECIMAL(38,0)) * na)
                * nc * nd
                - (CAST(sc AS DECIMAL(38,0)) * nd - CAST(sd AS DECIMAL(38,0)) * nc)
                * na * nb AS DECIMAL(38,0))""").as("num"),
        expr("""CAST(CAST(na AS DECIMAL(38,0)) * nb * nc * nd AS DECIMAL(38,0))""").as("den"))
        .select(col("na"), col("nb"), col("nc"), col("nd"),
          col("m_treat_post"), col("m_treat_pre"), col("m_ctrl_post"), col("m_ctrl_pre"),
          expr("""round(CAST(CASE WHEN num < 0
                    THEN -CAST((-2 * num * 1000000 + den) div (2 * den) AS BIGINT)
                    ELSE CAST((2 * num * 1000000 + den) div (2 * den) AS BIGINT) END
                  AS DOUBLE) / 1e6, 6)""").as("did_cents"))
    },
    Some {
      def mean(sum: String, n: String) =
        s"""round(CAST(CAST((2 * CAST($sum AS HUGEINT) * 1000000 + $n)
            // (2 * CAST($n AS HUGEINT)) AS BIGINT) AS DOUBLE) / 1e6, 6)"""
      s"""
      WITH cells AS (SELECT
        CAST(sum(CASE WHEN c.c_nationkey % 2 = 1 AND o.o_orderdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        CAST(sum(CASE WHEN c.c_nationkey % 2 = 1 AND o.o_orderdate >= TIMESTAMP '1998-01-01' THEN CAST(round(o.o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS sa,
        CAST(sum(CASE WHEN c.c_nationkey % 2 = 1 AND o.o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        CAST(sum(CASE WHEN c.c_nationkey % 2 = 1 AND o.o_orderdate < TIMESTAMP '1998-01-01' THEN CAST(round(o.o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS sb,
        CAST(sum(CASE WHEN c.c_nationkey % 2 = 0 AND o.o_orderdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        CAST(sum(CASE WHEN c.c_nationkey % 2 = 0 AND o.o_orderdate >= TIMESTAMP '1998-01-01' THEN CAST(round(o.o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS sc,
        CAST(sum(CASE WHEN c.c_nationkey % 2 = 0 AND o.o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS nd,
        CAST(sum(CASE WHEN c.c_nationkey % 2 = 0 AND o.o_orderdate < TIMESTAMP '1998-01-01' THEN CAST(round(o.o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS sd
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
      SELECT na, nb, nc, nd,
             ${mean("sa", "na")} AS m_treat_post,
             ${mean("sb", "nb")} AS m_treat_pre,
             ${mean("sc", "nc")} AS m_ctrl_post,
             ${mean("sd", "nd")} AS m_ctrl_pre,
             round(CAST(CASE WHEN num < 0
                     THEN -CAST((-2 * num * 1000000 + den) // (2 * den) AS BIGINT)
                     ELSE CAST((2 * num * 1000000 + den) // (2 * den) AS BIGINT) END
                   AS DOUBLE) / 1e6, 6) AS did_cents
      FROM (SELECT *,
              (CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na) * nc * nd
              - (CAST(sc AS HUGEINT) * nd - CAST(sd AS HUGEINT) * nc) * na * nb AS num,
              CAST(na AS HUGEINT) * nb * nc * nd AS den
            FROM cells)"""
    })

  // --------------------------------------------------------------- q352

  /** q352 — Fleiss' kappa across THREE quality raters (q243's Cohen
    * kappa generalized to m raters — the agreement metric for
    * LLM-as-judge panels and multi-labeler curation QA). Raters are
    * three real heuristics scoring each document into 3 quality
    * buckets: A by char length (<200/<500), B by token count
    * (<40/<100), C by distinct-token ratio (lexical diversity,
    * ⌊10·distinct/total⌋ <5/<8). Because every item carries exactly
    * m=3 ratings, the per-item agreement Σ_j n_ij² collapses to a
    * closed form from the pairwise-equality count p ∈ {0,1,3}:
    * Σn² = 3 + 2p — so the whole statistic is ONE map pass + ONE
    * single-row aggregate (no per-item shuffle at all). po, pe, κ are
    * single-evaluation doubles from exact longs (q243's discipline).
    */
  val q352 = Q("q352_fleiss_kappa",
    (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("n_chars"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("nt"),
          size(array_distinct(split(trim(col("text")), "\\s+"))).cast("long").as("dt"))
        .selectExpr(
          "CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 500 THEN 1 ELSE 2 END AS a",
          "CASE WHEN nt < 40 THEN 0 WHEN nt < 100 THEN 1 ELSE 2 END AS b",
          "CASE WHEN (dt * 10) div nt < 5 THEN 0 WHEN (dt * 10) div nt < 8 THEN 1 ELSE 2 END AS c")
        .selectExpr("a", "b", "c",
          """CAST(CASE WHEN a = b THEN 1 ELSE 0 END
            |   + CASE WHEN a = c THEN 1 ELSE 0 END
            |   + CASE WHEN b = c THEN 1 ELSE 0 END AS BIGINT) AS p""".stripMargin)
        .groupBy()
        .agg(count(lit(1)).as("n"),
          sum(expr("CASE WHEN a = 0 THEN 1 ELSE 0 END + CASE WHEN b = 0 THEN 1 ELSE 0 END + CASE WHEN c = 0 THEN 1 ELSE 0 END")).as("c0"),
          sum(expr("CASE WHEN a = 1 THEN 1 ELSE 0 END + CASE WHEN b = 1 THEN 1 ELSE 0 END + CASE WHEN c = 1 THEN 1 ELSE 0 END")).as("c1"),
          sum(expr("CASE WHEN a = 2 THEN 1 ELSE 0 END + CASE WHEN b = 2 THEN 1 ELSE 0 END + CASE WHEN c = 2 THEN 1 ELSE 0 END")).as("c2"),
          sum(expr("3 + 2 * p")).as("ssum"))
        .selectExpr("n", "c0", "c1", "c2", "ssum",
          "round(CAST(ssum - 3 * n AS DOUBLE) / CAST(6 * n AS DOUBLE), 6) AS po",
          """round(CAST(c0 * c0 + c1 * c1 + c2 * c2 AS DOUBLE)
            |      / (CAST(3 * n AS DOUBLE) * CAST(3 * n AS DOUBLE)), 6) AS pe""".stripMargin,
          """round((CAST(ssum - 3 * n AS DOUBLE) / CAST(6 * n AS DOUBLE)
            |        - CAST(c0 * c0 + c1 * c1 + c2 * c2 AS DOUBLE)
            |          / (CAST(3 * n AS DOUBLE) * CAST(3 * n AS DOUBLE)))
            |      / (1.0 - CAST(c0 * c0 + c1 * c1 + c2 * c2 AS DOUBLE)
            |               / (CAST(3 * n AS DOUBLE) * CAST(3 * n AS DOUBLE))), 6)
            |  AS kappa""".stripMargin)
    },
    Some(s"""
      WITH r AS (SELECT n_chars,
                        CAST(len($duckTokens) AS BIGINT) AS nt,
                        CAST(len(list_distinct($duckTokens)) AS BIGINT) AS dt
                 FROM documents),
      v AS (SELECT CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 500 THEN 1
                        ELSE 2 END AS a,
                   CASE WHEN nt < 40 THEN 0 WHEN nt < 100 THEN 1 ELSE 2 END AS b,
                   CASE WHEN (dt * 10) // nt < 5 THEN 0
                        WHEN (dt * 10) // nt < 8 THEN 1 ELSE 2 END AS c
            FROM r),
      w AS (SELECT a, b, c,
                   CAST(CASE WHEN a = b THEN 1 ELSE 0 END
                      + CASE WHEN a = c THEN 1 ELSE 0 END
                      + CASE WHEN b = c THEN 1 ELSE 0 END AS BIGINT) AS p
            FROM v),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN a = 0 THEN 1 ELSE 0 END
                          + CASE WHEN b = 0 THEN 1 ELSE 0 END
                          + CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
                   CAST(sum(CASE WHEN a = 1 THEN 1 ELSE 0 END
                          + CASE WHEN b = 1 THEN 1 ELSE 0 END
                          + CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                   CAST(sum(CASE WHEN a = 2 THEN 1 ELSE 0 END
                          + CASE WHEN b = 2 THEN 1 ELSE 0 END
                          + CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
                   CAST(sum(3 + 2 * p) AS BIGINT) AS ssum
            FROM w)
      SELECT n, c0, c1, c2, ssum,
             round(CAST(ssum - 3 * n AS DOUBLE) / CAST(6 * n AS DOUBLE), 6) AS po,
             round(CAST(c0 * c0 + c1 * c1 + c2 * c2 AS DOUBLE)
                   / (CAST(3 * n AS DOUBLE) * CAST(3 * n AS DOUBLE)), 6) AS pe,
             round((CAST(ssum - 3 * n AS DOUBLE) / CAST(6 * n AS DOUBLE)
                     - CAST(c0 * c0 + c1 * c1 + c2 * c2 AS DOUBLE)
                       / (CAST(3 * n AS DOUBLE) * CAST(3 * n AS DOUBLE)))
                   / (1.0 - CAST(c0 * c0 + c1 * c1 + c2 * c2 AS DOUBLE)
                            / (CAST(3 * n AS DOUBLE) * CAST(3 * n AS DOUBLE))), 6)
               AS kappa
      FROM m"""))

  val all: Seq[Q] = Seq(q237, q238, q239, q240, q241, q242, q243, q244,
    q254, q255, q256, q257, q258, q259, q275, q276, q277, q278,
    q280, q281, q282, q289, q290, q291, q292, q298, q299, q307, q310, q311,
    q352)
}
