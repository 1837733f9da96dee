package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, GraphOps}
import graft.queries.Q.duckHash64

/** Round-3 batch 3 — distribution and propagation operators: token
  * Shannon entropy (the repetitiveness/quality signal rule-based
  * scores miss), MAD-based robust outlier detection (median absolute
  * deviation — resistant to the very outliers a z-score lets distort
  * its own threshold), an equi-depth histogram built the scale-safe
  * way (broadcast quantile boundaries + map-side bucketing, NOT a
  * global-window ntile), and one PageRank iteration over the
  * customer→supplier graph (the sparse matrix-vector product that is
  * the unit of every iterative graph-centrality / web-quality job).
  *
  * Determinism policy follows the module family: ln() through the
  * round(x*1eK)::long fixed-point recipe the gate proves for
  * q57/q77/q107, exact long accumulation for every multi-row sum,
  * and a total ORDER BY on each output.
  */
object StatQueries {

  private val duckTokens = "string_split_regex(trim(text), '\\s+')"

  // --------------------------------------------------------------- q107

  /** q107 — unigram Shannon entropy per document: H = ln(n) − Σ c·ln(c)/n
    * over per-token occurrence counts c. Low entropy = a few tokens
    * dominate = boilerplate/spam/keyword-stuffing; it is the standard
    * cheap companion to the LM score (q77) in corpus quality gates
    * (Gopher's "repetition" rules are thresholded versions of this).
    *
    * Plan shape: one compiled-kernel pass emits 8-byte token hashes
    * (shuffle bytes ∝ token stream, never the strings), one
    * (doc_id, hash) count, one doc_id re-group — two linear shuffles,
    * nothing pairwise, nothing driver-side. Σ c·ln(c) accumulates as
    * exact longs via the fixed-point ln recipe, so the result is
    * partition-order independent; ln(n) and the final division are
    * single-value double ops replayed identically by the oracle.
    */
  val q107 = Q("q107_token_entropy",
    (s, dir) => {
      val cnt = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(call_function("graft_shingle_hash_list", col("text"), lit(1))).as("uh"))
        .groupBy("doc_id", "uh").agg(count(lit(1)).as("c"))
      cnt.groupBy("doc_id")
        .agg(sum("c").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(round(log(col("c").cast("double")) * 1e6).cast("long") * col("c")).as("_s"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          round(log(col("n_tokens").cast("double"))
            - col("_s").cast("double") / col("n_tokens") / 1e6, 6).as("entropy"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      tok AS (SELECT doc_id,
                unnest(list_transform(range(1, len(w)+1),
                  i -> ${duckHash64("w[i]")} & ${Dedup.MinhashP})) AS uh
              FROM t),
      c AS (SELECT doc_id, uh, count(*) AS c FROM tok GROUP BY 1, 2)
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct,
             round(ln(CAST(sum(c) AS DOUBLE))
               - CAST(sum(CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT) * c)
                      AS DOUBLE) / sum(c) / 1000000.0, 6) AS entropy
      FROM c GROUP BY doc_id ORDER BY doc_id"""))

  // --------------------------------------------------------------- q108

  /** q108 — MAD robust outliers: per event_type, median and median
    * absolute deviation, then count values beyond the 3σ-equivalent
    * fence |v − med| > 3·1.4826·MAD. Unlike q100's z-score, the fence
    * itself is immune to the outliers it hunts — the estimator every
    * data-quality sweep reaches for when the column is heavy-tailed.
    *
    * Plan shape: two grouped exact-percentile passes with a broadcast
    * join between them (group cardinality = |event_type|, tiny), then
    * one counting pass. Exact `percentile` buffers each group's values
    * (fine at |group| ≤ a few hundred million rows / executor memory).
    * Doubles compare, never accumulate, so cross-engine parity is
    * exact (percentile parity proven by q50).
    */
  val q108 = Q("q108_mad_outliers",
    (s, dir) => {
      def median(c: String) = expr(s"percentile($c, 0.5)")
      val e = Tables.load(s, dir, "events").select(col("event_type"), col("value"))
      val med = e.groupBy("event_type")
        .agg(median("value").as("med"))
      val dev = e.join(broadcast(med), Seq("event_type"))
        .withColumn("_dev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(median("_dev").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(min("med"), 6).as("median_value"),
          round(min("mad"), 6).as("mad_value"),
          sum(when(col("_dev") > lit(4.4478) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy("event_type")
    },
    Some("""
      WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                   FROM events GROUP BY 1),
      dev AS (SELECT e.event_type, abs(e.value - med.med) AS dev, med.med
              FROM events e JOIN med USING (event_type)),
      mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
              FROM dev GROUP BY 1)
      SELECT dev.event_type, count(*) AS n_events,
             round(min(dev.med), 6) AS median_value,
             round(min(mad.mad), 6) AS mad_value,
             CAST(sum(CASE WHEN dev.dev > 4.4478 * mad.mad
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dev JOIN mad USING (event_type)
      GROUP BY dev.event_type ORDER BY dev.event_type"""))

  // --------------------------------------------------------------- q109

  /** q109 — equi-depth histogram of order totals: 8 buckets bounded by
    * the exact 12.5%-step interpolated quantiles, each row assigned
    * map-side by counting boundaries strictly below its value. This is
    * the optimizer-statistics / data-layout primitive (DuckDB, Spark
    * CBO, and Delta clustering all keep equi-depth histograms), built
    * the way it must be built at 100 TB: ONE exact-percentile
    * aggregation produces a 7-value boundary row, broadcast to every
    * task; assignment is a codegen'd array scan per row; the per-bucket
    * rollup is one linear shuffle on an 8-value key. The naive form —
    * `ntile(8) OVER (ORDER BY v)` — funnels the whole table through a
    * single-task global sort and is exactly what this operator avoids.
    * Ties at a boundary go to the lower bucket in both engines
    * (strict `>` comparison on identical doubles), so bucket counts
    * are only approximately n/8 under heavy ties — the real histogram
    * semantics, not a defect.
    *
    * Fixed-point totals (cents as longs) keep the per-bucket sum
    * reduction-order independent.
    */
  val q109 = Q("q109_equidepth_hist",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders").select(col("o_totalprice").as("v"))
      val bounds = o.agg(expr(
        "percentile(v, array(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875))").as("bs"))
      o.crossJoin(broadcast(bounds))
        .select(col("v"),
          size(filter(col("bs"), b => col("v") > b)).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          round(min("v"), 2).as("min_price"),
          round(max("v"), 2).as("max_price"),
          (sum(round(col("v") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_price"))
        .orderBy("bucket")
    },
    Some("""
      WITH o AS (SELECT o_totalprice AS v FROM orders),
      b AS (SELECT quantile_cont(v, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
            FROM o),
      asg AS (SELECT v, len(list_filter(bs, x -> v > x)) AS bucket FROM o CROSS JOIN b)
      SELECT bucket, count(*) AS n_rows,
             round(min(v), 2) AS min_price,
             round(max(v), 2) AS max_price,
             CAST(sum(CAST(round(v * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
      FROM asg GROUP BY bucket ORDER BY bucket"""))

  // --------------------------------------------------------------- q110

  /** q110 — one PageRank iteration over the customer→supplier purchase
    * graph (edge = "customer bought from supplier", distinct pairs from
    * orders ⋈ lineitem): rank(s) = (1−d)/N + d·(Σ_{c→s} r₀/deg(c) +
    * dangling/N) with d = 0.85 and uniform r₀ = 1/N. The sparse
    * matrix-vector product here is the unit step of every iterative
    * graph-centrality job — web-graph quality weighting for corpus
    * curation (Common Crawl harmonic/PageRank filtering) runs exactly
    * this shape per iteration.
    *
    * Plan shape: the edge list is one fact⋈fact equi-join on orderkey
    * + distinct (both shuffles on the join/edge key); out-degrees and
    * incoming sums are linear groupBys; N and the dangling mass ride a
    * broadcast 1-row frame. Nothing is ever collected to the driver —
    * iterating just re-feeds ranks as the next round's r₀ (the q58
    * connected-components loop shows the localCheckpoint cadence).
    * Per-edge contributions 1/(N·deg) round to 1e-12 fixed-point longs
    * and sum exactly, so the result is partition-order independent;
    * suppliers are the only rank sinks (customers have no in-edges)
    * and all-supplier dangling mass redistributes uniformly.
    */
  val q110 = Q("q110_pagerank_iter",
    (s, dir) => {
      // three consumers (contributions, degrees, sizes) — cut the
      // join+distinct lineage once or the fact join runs three times
      val edges = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
        .distinct()
        .localCheckpoint(false)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val sizes = edges.agg(
        countDistinct(col("src")).as("nc"),
        countDistinct(col("dst")).as("ns"))
      edges.join(deg, Seq("src"))
        .crossJoin(broadcast(sizes))
        .select(col("dst"), col("ns"),
          ((col("nc") + col("ns")).cast("double")).as("n"),
          round(lit(1e12) / ((col("nc") + col("ns")) * col("deg")).cast("double"))
            .cast("long").as("_c"))
        .groupBy("dst")
        .agg(count(lit(1)).as("in_deg"),
          round(lit(0.15) / min(col("n"))
            + lit(0.85) * (sum(col("_c")).cast("double") / 1e12
              + min(col("ns")).cast("double") / min(col("n")) / min(col("n"))), 9)
            .as("rank"))
        .select(col("dst").as("s_suppkey"), col("in_deg"), col("rank"))
        .orderBy("s_suppkey")
    },
    Some("""
      WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      z AS (SELECT count(DISTINCT src) AS nc, count(DISTINCT dst) AS ns FROM e)
      SELECT e.dst AS s_suppkey, count(*) AS in_deg,
             round(0.15 / min(CAST(z.nc + z.ns AS DOUBLE))
               + 0.85 * (CAST(sum(CAST(round(1e12
                     / CAST((z.nc + z.ns) * d.deg AS DOUBLE)) AS BIGINT)) AS DOUBLE) / 1e12
                 + CAST(min(z.ns) AS DOUBLE)
                   / min(CAST(z.nc + z.ns AS DOUBLE))
                   / min(CAST(z.nc + z.ns AS DOUBLE))), 9) AS rank
      FROM e JOIN d USING (src) CROSS JOIN z
      GROUP BY e.dst ORDER BY e.dst"""))

  // --------------------------------------------------------------- q111

  /** q111 — population-stability-index drift report: split orders at
    * the median order date, bucket both cohorts by the REFERENCE
    * cohort's equi-depth price boundaries (q109's machinery), and emit
    * the per-bucket PSI term (p−q)·ln(p/q) with Laplace smoothing.
    * PSI is the production data-drift gate — a new ingest batch whose
    * feature distribution drifts past ~0.2 total gets quarantined
    * before it poisons training.
    *
    * Plan shape: two single-row percentile aggregations (median date,
    * 7 price boundaries) ride broadcasts; bucketing is a codegen'd
    * array scan per row; the rollup keys on 8 bucket values. Two
    * linear scans, zero wide shuffles. The PSI arithmetic happens on
    * count ratios — exact rationals — with ln on identical doubles
    * rounded at 1e-9 (the q57/q77 recipe), so cohort totals of any
    * size reproduce bit-for-bit.
    */
  val q111 = Q("q111_psi_drift",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(unix_micros(col("o_orderdate")).as("us"), col("o_totalprice").as("v"))
      val thr = o.agg(expr("percentile(us, 0.5)").as("thr"))
      val tagged = o.crossJoin(broadcast(thr))
        .select(col("v"), (col("us") < col("thr")).as("is_ref"))
      val bounds = tagged.filter(col("is_ref")).agg(expr(
        "percentile(v, array(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875))").as("bs"))
      val counts = tagged.crossJoin(broadcast(bounds))
        .select(size(filter(col("bs"), b => col("v") > b)).as("bucket"), col("is_ref"))
        .groupBy("bucket")
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
      val totals = counts.agg(sum("n_ref").as("tr"), sum("n_cur").as("tc"))
      counts.crossJoin(broadcast(totals))
        .select(col("bucket"), col("n_ref"), col("n_cur"),
          round(((col("n_ref") + 1).cast("double") / (col("tr") + 8)
              - (col("n_cur") + 1).cast("double") / (col("tc") + 8))
            * log(((col("n_ref") + 1).cast("double") / (col("tr") + 8))
              / ((col("n_cur") + 1).cast("double") / (col("tc") + 8))), 9)
            .as("psi_term"))
        .orderBy("bucket")
    },
    Some("""
      WITH o AS (SELECT epoch_us(o_orderdate) AS us, o_totalprice AS v FROM orders),
      thr AS (SELECT quantile_cont(us, 0.5) AS thr FROM o),
      tg AS (SELECT v, us < thr AS is_ref FROM o CROSS JOIN thr),
      b AS (SELECT quantile_cont(v, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
            FROM tg WHERE is_ref),
      asg AS (SELECT len(list_filter(bs, x -> v > x)) AS bucket, is_ref
              FROM tg CROSS JOIN b),
      c AS (SELECT bucket,
              sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
              sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
            FROM asg GROUP BY 1),
      t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM c)
      SELECT bucket, CAST(n_ref AS BIGINT) AS n_ref,
             CAST(n_cur AS BIGINT) AS n_cur,
             round((CAST(n_ref + 1 AS DOUBLE) / (tr + 8)
                 - CAST(n_cur + 1 AS DOUBLE) / (tc + 8))
               * ln((CAST(n_ref + 1 AS DOUBLE) / (tr + 8))
                 / (CAST(n_cur + 1 AS DOUBLE) / (tc + 8))), 9) AS psi_term
      FROM c CROSS JOIN t ORDER BY bucket"""))

  // --------------------------------------------------------------- q112

  /** q112 — domain vocabulary overlap: token-set Jaccard between every
    * pair of sources. The corpus-mixing diagnostic behind domain
    * weighting (q86) — two "different" domains with 0.9 vocabulary
    * overlap are one domain for mixture purposes, and a crawl snapshot
    * whose overlap with an existing source jumps is a duplicate feed.
    *
    * Plan shape: the inverted (source, token-hash) relation is one
    * distinct over the compiled-kernel hash stream (linear, 8-byte
    * values); the self-join on token hash emits at most
    * |domains|²/2 pairs PER TOKEN and aggregates to a |domains|²-keyed
    * rollup — linear shuffle volume with a bounded output regardless
    * of corpus size, because domain count, not document count, bounds
    * the fan-out. Set sizes re-enter as a broadcast.
    */
  val q112 = Q("q112_domain_overlap",
    (s, dir) => {
      // four consumers (both join sides + two size lookups) — cut the
      // explode+distinct lineage once or the token pass runs four times
      val st = Tables.load(s, dir, "documents")
        .select(col("source"),
          explode(call_function("graft_shingle_hash_list", col("text"), lit(1))).as("uh"))
        .distinct()
        .localCheckpoint(false)
      val sizes = st.groupBy("source").agg(count(lit(1)).as("n_tok"))
      st.as("a").join(st.as("b"),
          col("a.uh") === col("b.uh") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(sizes.withColumnRenamed("source", "src_a")
          .withColumnRenamed("n_tok", "n_a")), Seq("src_a"))
        .join(broadcast(sizes.withColumnRenamed("source", "src_b")
          .withColumnRenamed("n_tok", "n_b")), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_common"),
          round(col("n_common").cast("double")
            / (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
        .orderBy("src_a", "src_b")
    },
    Some(s"""
      WITH t AS (SELECT source, $duckTokens AS w FROM documents),
      tok AS (SELECT DISTINCT source,
                unnest(list_transform(range(1, len(w)+1),
                  i -> ${duckHash64("w[i]")} & ${Dedup.MinhashP})) AS uh
              FROM t),
      sz AS (SELECT source, count(*) AS n_tok FROM tok GROUP BY 1),
      p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
            FROM tok a JOIN tok b ON a.uh = b.uh AND a.source < b.source
            GROUP BY 1, 2)
      SELECT src_a, src_b, n_common,
             round(CAST(n_common AS DOUBLE)
               / (za.n_tok + zb.n_tok - n_common), 6) AS jaccard
      FROM p JOIN sz za ON src_a = za.source JOIN sz zb ON src_b = zb.source
      ORDER BY src_a, src_b"""))

  // --------------------------------------------------------------- q113

  /** q113 — time-decayed aggregation: per user, Σ value·2^(−age_days)
    * with age measured back from the corpus watermark — the
    * feature-store primitive behind "recent activity" features, where
    * yesterday counts double tomorrow's weight. Day-granular halving
    * keeps the weights EXACT powers of two (both engines compute
    * pow(0.5, k) for integer k without a libm rounding hazard), and
    * each weighted term rounds to 1e-6 fixed-point longs before the
    * exact sum — partition-order independent, so the same feature
    * values come off 32 threads or 1000 executors.
    *
    * Plan shape: one-row watermark broadcast, per-row weight math in
    * codegen, one linear groupBy on the user key. Incremental refresh
    * at scale: yesterday's decayed sums halve and add today's
    * partition — the q104 merge pattern.
    */
  val q113 = Q("q113_decayed_agg",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("value"), unix_micros(col("ts")).as("us"))
      val wm = e.agg(max("us").as("mx"))
      e.crossJoin(broadcast(wm))
        .select(col("user_id"),
          round(col("value")
            * pow(lit(0.5), floor((col("mx") - col("us")).cast("double") / 86400e6))
            * 1e6).cast("long").as("_t"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum("_t").cast("double") / 1e6, 6).as("decayed_sum"))
        .orderBy("user_id")
    },
    Some("""
      WITH e AS (SELECT user_id, value, epoch_us(ts) AS us FROM events),
      wm AS (SELECT max(us) AS mx FROM e),
      t AS (SELECT user_id,
              CAST(round(value
                * power(0.5, floor(CAST(mx - us AS DOUBLE) / 86400000000.0))
                * 1000000.0) AS BIGINT) AS t
            FROM e CROSS JOIN wm)
      SELECT user_id, count(*) AS n_events,
             round(CAST(sum(t) AS DOUBLE) / 1000000.0, 6) AS decayed_sum
      FROM t GROUP BY user_id ORDER BY user_id"""))

  // --------------------------------------------------------------- q115

  /** q115 — count-min sketch calibration: a d=4 × w=512 CMS over the
    * corpus token stream, read back against the exact counts of the
    * top-20 tokens. The CMS is THE fixed-memory frequency sketch for
    * streams too wide to count exactly — 2 KB of counters regardless
    * of vocabulary size, one-sided error (never underestimates), and
    * counter tables that MERGE by addition, so per-partition sketches
    * combine exactly like partial aggregates.
    *
    * Plan shape: the token pass emits (row, bucket) pairs through the
    * affine hash family (4 per occurrence) and aggregates to the
    * 2,048-key counter table — bounded output, linear shuffle. The
    * top-20 report joins the broadcast counter table back to the
    * exact counts. Everything is integer arithmetic on md5-derived
    * hashes; the oracle replays the sketch bit-for-bit.
    */
  val q115 = Q("q115_countmin",
    (s, dir) => {
      val coeffs = Dedup.minhashCoeffs(4)
      val toks = Tables.load(s, dir, "documents")
        .select(explode(call_function("graft_shingle_hash_list", col("text"), lit(1))).as("uh"))
      val cms = toks.select(explode(array(coeffs.zipWithIndex.map { case ((a, b), i) =>
          struct(lit(i).as("row"),
            pmod(lit(a) * col("uh") + lit(b), lit(Dedup.MinhashP)).mod(512).as("bucket"))
        }: _*)).as("rb"))
        .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val top = toks.groupBy("uh").agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("uh").asc).limit(20)
      val probes = top.select(col("uh"), col("exact"),
        explode(array(coeffs.zipWithIndex.map { case ((a, b), i) =>
          struct(lit(i).as("row"),
            pmod(lit(a) * col("uh") + lit(b), lit(Dedup.MinhashP)).mod(512).as("bucket"))
        }: _*)).as("rb"))
        .select(col("uh"), col("exact"),
          col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      probes.join(broadcast(cms), Seq("row", "bucket"))
        .groupBy("uh", "exact")
        .agg(min("cnt").as("estimate"))
        .select(col("uh").as("token_hash"), col("exact"), col("estimate"),
          (col("estimate") - col("exact")).as("overestimate"))
        .orderBy(col("exact").desc, col("token_hash").asc)
    },
    Some {
      val coeffs = Dedup.minhashCoeffs(4)
      val bucketExprs = coeffs.zipWithIndex.map { case ((a, b), i) =>
        s"SELECT $i AS row, (($a * uh + $b) % ${Dedup.MinhashP}) % 512 AS bucket, uh FROM tok"
      }.mkString("\n            UNION ALL ")
      s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      tok AS (SELECT unnest(list_transform(range(1, len(w)+1),
                i -> ${duckHash64("w[i]")} & ${Dedup.MinhashP})) AS uh
              FROM t),
      rb AS ($bucketExprs),
      cms AS (SELECT row, bucket, count(*) AS cnt FROM rb GROUP BY 1, 2),
      top AS (SELECT uh, count(*) AS exact FROM tok GROUP BY 1
              ORDER BY exact DESC, uh ASC LIMIT 20),
      probes AS (SELECT DISTINCT top.uh, top.exact, rb.row, rb.bucket
                 FROM top JOIN rb ON top.uh = rb.uh)
      SELECT probes.uh AS token_hash, probes.exact,
             min(cms.cnt) AS estimate,
             min(cms.cnt) - probes.exact AS overestimate
      FROM probes JOIN cms USING (row, bucket)
      GROUP BY probes.uh, probes.exact
      ORDER BY probes.exact DESC, token_hash ASC"""
    })

  // --------------------------------------------------------------- q116

  /** q116 — bounded edit-distance join: LSH candidates (the q36/q38
    * machinery) exact-verified with Levenshtein, kept when the distance
    * is within 50% of the longer text. Edit distance is the
    * entity-resolution/OCR-dedup verifier n-gram Jaccard approximates;
    * the O(len²) DP is affordable precisely BECAUSE it only ever runs
    * on the linearly-generated candidate pairs, never all-pairs.
    */
  val q116 = Q("q116_editdist_join",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val txt = docs.select(col("doc_id"), col("text"))
      Dedup.minhashLshPairs(docs, "doc_id", "text",
          n = 2, k = 12, rowsPerBand = 2, threshold = 0.2)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        .join(txt.select(col("doc_id").as("doc_a"), col("text").as("_ta")), Seq("doc_a"))
        .join(txt.select(col("doc_id").as("doc_b"), col("text").as("_tb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          // threshold-bounded DP: O(k·n) band instead of the O(n·m)
          // full matrix, returns -1 past the bound. 300 dominates
          // max_len/2 for this corpus (max text 600 chars), so the
          // output is exactly the unbounded join's; at production
          // document lengths the bound is what keeps the verify step
          // linear in text size.
          levenshtein(col("_ta"), col("_tb"), 300).as("edit_dist"),
          greatest(length(col("_ta")), length(col("_tb"))).as("max_len"))
        .filter(col("edit_dist") >= 0 && col("edit_dist") * 2 <= col("max_len"))
        .select(col("doc_a"), col("doc_b"), col("edit_dist"),
          round(col("edit_dist").cast("double") / col("max_len"), 6).as("edit_ratio"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""
      WITH ${DataQueries.duckMinhashPairCtes},
      p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.2),
      e AS (SELECT doc_a, doc_b,
              levenshtein(da.text, db.text) AS edit_dist,
              greatest(length(da.text), length(db.text)) AS max_len
            FROM p JOIN documents da ON doc_a = da.doc_id
                   JOIN documents db ON doc_b = db.doc_id)
      SELECT doc_a, doc_b, edit_dist,
             round(CAST(edit_dist AS DOUBLE) / max_len, 6) AS edit_ratio
      FROM e WHERE edit_dist * 2 <= max_len
      ORDER BY doc_a, doc_b"""))

  // --------------------------------------------------------------- q117

  /** q117 — stratified exact-k sample: the k=5 documents per source
    * with the smallest salted doc_id hashes — the deterministic
    * "carve a fixed-size eval set per domain" primitive. Hash-rank
    * ordering makes the sample a function of the data, not the scan
    * order: reruns, engine swaps, and backfills pick the same rows.
    *
    * Plan shape: rank ≤ k windows compile to WindowGroupLimit
    * (spec-asserted) — each task keeps a k-row heap per group BEFORE
    * the shuffle, so the exchange carries ~k rows per (partition ×
    * group), not the corpus.
    */
  val q117 = Q("q117_stratified_sample",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.load(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          graft.functions.Hashing.hash64(concat(lit("strat|"), col("doc_id"))).as("_h"))
        .withColumn("sample_rank", row_number().over(
          Window.partitionBy("source").orderBy(col("_h").asc, col("doc_id").asc)))
        .filter(col("sample_rank") <= 5)
        .select(col("source"), col("sample_rank"), col("doc_id"))
        .orderBy("source", "sample_rank")
    },
    Some(s"""
      WITH h AS (SELECT source, doc_id,
                   ${duckHash64("'strat|' || doc_id")} AS h
                 FROM documents)
      SELECT source, sample_rank, doc_id FROM (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC)
                 AS sample_rank
        FROM h)
      WHERE sample_rank <= 5
      ORDER BY source, sample_rank"""))

  // --------------------------------------------------------------- q123

  /** q123 — temporal split with embargo: train = events before the 80th
    * time percentile, test = events after an embargo gap past it, the
    * gap itself quarantined. Hash splits (q94) leak for time-series
    * targets — a model must not train on the minute before its test
    * window — so forecasting/trading/ops pipelines split on the clock
    * with an embargo at least as long as the label horizon. One
    * single-row percentile broadcast + map-side classification + a
    * per-split rollup; the cutoff is data-derived, so reruns and
    * backfills reproduce it exactly.
    */
  val q123 = Q("q123_temporal_split",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
      val cut = e.agg(expr("percentile(us, 0.8)").as("cut"))
      val embargoUs = 12L * 3600 * 1000000 // 12 hours
      e.crossJoin(broadcast(cut))
        .select(col("event_type"), col("value"),
          when(col("us").cast("double") < col("cut"), "train")
            .when(col("us").cast("double") >= col("cut") + lit(embargoUs.toDouble), "test")
            .otherwise("embargo").as("split"))
        .groupBy("split", "event_type")
        .agg(count(lit(1)).as("n_events"),
          (sum(round(col("value") * 1e4).cast("long")).cast("double") / 1e4)
            .as("sum_value"))
        .orderBy("split", "event_type")
    },
    Some("""
      WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
      c AS (SELECT quantile_cont(us, 0.8) AS cut FROM e),
      t AS (SELECT event_type, value,
              CASE WHEN CAST(us AS DOUBLE) < cut THEN 'train'
                   WHEN CAST(us AS DOUBLE) >= cut + 43200000000.0 THEN 'test'
                   ELSE 'embargo' END AS split
            FROM e CROSS JOIN c)
      SELECT split, event_type, count(*) AS n_events,
             CAST(sum(CAST(round(value * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0
               AS sum_value
      FROM t GROUP BY 1, 2 ORDER BY 1, 2"""))

  // --------------------------------------------------------------- q124

  /** q124 — k-anonymity risk report: group customers by their
    * quasi-identifier tuple (market segment × nation) and report, per
    * group-size band, how many individuals sit in groups smaller than
    * k — the re-identification audit a dataset must pass before
    * release. Two linear aggregations (tuple → size, size → band);
    * the quasi-identifier cardinality bounds the intermediate, never
    * the row count.
    */
  val q124 = Q("q124_k_anonymity",
    (s, dir) => {
      val k = 10L
      Tables.load(s, dir, "customer")
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("_gsz"))
        .groupBy((col("_gsz") >= k).as("anonymous"))
        .agg(count(lit(1)).as("n_groups"),
          sum("_gsz").as("n_individuals"),
          min("_gsz").as("min_group"),
          max("_gsz").as("max_group"))
        .orderBy("anonymous")
    },
    Some("""
      WITH g AS (SELECT c_mktsegment, c_nationkey, count(*) AS gsz
                 FROM customer GROUP BY 1, 2)
      SELECT gsz >= 10 AS anonymous, count(*) AS n_groups,
             CAST(sum(gsz) AS BIGINT) AS n_individuals,
             min(gsz) AS min_group, max(gsz) AS max_group
      FROM g GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q125

  /** q125 — two-sample Kolmogorov–Smirnov distance between the first
    * two sources' quality-score distributions: D = max |F_a − F_b| over
    * the pooled sample. The distribution-shape companion to PSI (q111):
    * PSI needs pre-chosen buckets, KS does not, so it catches shape
    * drift between domains that bucketed tests smear out.
    *
    * Exact and scale-shaped: the sample first collapses to per-DISTINCT-
    * VALUE counts (one linear shuffle; quality scores round to 1e-6 in
    * [0,1], so the value table is bounded at ~1e6 rows regardless of
    * corpus size — calendar-sized, like q118's day table), then the CDF
    * running sums window over that bounded table. Evaluating F only at
    * distinct values is also the correct tie semantics — per-row
    * running counts would report inflated mid-tie prefixes. Counts are
    * integers, so F_a − F_b is an exact rational and the max is
    * order-independent; group sizes ride a one-row broadcast.
    */
  val q125 = Q("q125_ks_test",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"),
          graft.operators.TextAnalysis
            .qualityScore(col("text"), Seq("the", "a", "of", "and")).as("q"))
      val byVal = docs.groupBy("q").agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("da"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("db"))
      val sizes = docs.groupBy().agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("na"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("nb"))
      val w = Window.orderBy(col("q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byVal.crossJoin(broadcast(sizes))
        .withColumn("_ca", sum("da").over(w))
        .withColumn("_cb", sum("db").over(w))
        .select((abs(col("_ca") * col("nb") - col("_cb") * col("na"))).as("_num"),
          (col("na") * col("nb")).as("_den"))
        .agg(max(col("_num")).as("_maxnum"), min("_den").as("_d"))
        .select(round(col("_maxnum").cast("double") / col("_d"), 9).as("ks_distance"),
          col("_maxnum").cast("long").as("ks_numerator"),
          col("_d").cast("long").as("ks_denominator"))
    },
    Some(s"""
      WITH d AS (
        SELECT source,
               round(0.4 * least(1.0, len($duckTokens)::DOUBLE / 100.0)
                 + 0.3 * (1.0 - round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(text), 6))
                 + 0.3 * round(len(list_filter($duckTokens,
                     x -> list_contains(['the','a','of','and'], x)))::DOUBLE
                     / len($duckTokens), 6), 6) AS q
        FROM documents WHERE source IN ('src0', 'src1')),
      v AS (SELECT q,
              sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS da,
              sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS db
            FROM d GROUP BY q),
      z AS (SELECT sum(da) AS na, sum(db) AS nb FROM v),
      c AS (SELECT q,
              sum(da) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
              sum(db) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
            FROM v)
      SELECT round(CAST(max(abs(ca * nb - cb * na)) AS DOUBLE) / (min(na * nb)), 9)
               AS ks_distance,
             CAST(max(abs(ca * nb - cb * na)) AS BIGINT) AS ks_numerator,
             CAST(min(na * nb) AS BIGINT) AS ks_denominator
      FROM c CROSS JOIN z"""))

  // --------------------------------------------------------------- q190

  /** q190 — multi-source BFS hop distances ([[GraphOps.bfsDistances]])
    * on the undirected customer↔supplier purchase graph (q110's edge
    * set, symmetrized; customers encoded as 2c, suppliers as 2s+1 so
    * both key spaces share one node id space): exact minimum hops
    * from the seed suppliers (s_suppkey ≡ 1 mod 100) to every node,
    * unreached nodes pinned at −1 — the landmark-distance /
    * blast-radius primitive (supply-chain exposure, contamination
    * reach, affiliate rings). Per round the FRONTIER alone joins the
    * edge list (one shuffle + min-groupBy + anti-join), O(diameter)
    * rounds with an empty-frontier short-circuit; the oracle is an
    * independent recursive-CTE BFS over the same encoded graph with
    * the same 20-hop cap.
    */
  val q190 = Q("q190_bfs_distances",
    (s, dir) => {
      import graft.operators.GraphOps
      // consumers: symmetrized edges (x2), sources, node universe (x2)
      val e = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
        .localCheckpoint(false)
      val sym = e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
      val sources = e.select(col("b").as("id")).distinct()
        .filter(expr("((id - 1) div 2) % 100 = 1"))
      val dist = GraphOps.bfsDistances(sym, "src", "dst", sources, "id",
        maxIter = 20)
      val nodes = e.select(col("a").as("id"))
        .union(e.select(col("b").as("id"))).distinct()
      nodes.join(dist, Seq("id"), "left")
        .select(
          when(col("id") % 2 === 0, lit("c")).otherwise(lit("s")).as("kind"),
          expr("id div 2").as("node_key"),
          coalesce(col("dist"), lit(-1L)).as("dist"))
        .orderBy("kind", "node_key")
    },
    Some("""
      WITH RECURSIVE
      e AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      ed AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
      srcs AS (SELECT DISTINCT b AS v FROM e WHERE ((b - 1) // 2) % 100 = 1),
      bfs(v, d) AS (
        SELECT v, 0 FROM srcs
        UNION
        SELECT ed.dst, bfs.d + 1 FROM bfs JOIN ed ON bfs.v = ed.src
        WHERE bfs.d < 20),
      md AS (SELECT v, min(d) AS dist FROM bfs GROUP BY v),
      -- explicit DISTINCT: inside a WITH RECURSIVE list DuckDB keeps
      -- bag semantics for a plain UNION in a non-recursive CTE
      n AS (SELECT DISTINCT v
            FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e))
      SELECT CASE WHEN n.v % 2 = 0 THEN 'c' ELSE 's' END AS kind,
             n.v // 2 AS node_key,
             CAST(coalesce(md.dist, -1) AS BIGINT) AS dist
      FROM n LEFT JOIN md ON n.v = md.v
      ORDER BY kind, node_key"""))

  // --------------------------------------------------------------- q191

  /** q191 — exact covariance matrix of the embedding dimensions (the
    * d×d second-moment structure behind PCA whitening, decorrelation
    * checks, and dead/duplicated-dimension detection on an embedding
    * corpus). Upper triangle only (2080 cells at d=64).
    *
    * Determinism: per-row products are quantized to 1e-9 fixed-point
    * longs (the q57/q77/q107 recipe) and sum EXACTLY, so Σxy, Σx, Σy
    * are partition-order independent; the covariance assembles from
    * those exact sums in one identical double expression per engine.
    *
    * Plan/scale: one explode of the per-row upper-triangle product
    * array → groupBy(i,j) — partial aggregation collapses every
    * partition to ≤2080 cells BEFORE the exchange, so the shuffle is
    * O(partitions·d²) no matter the corpus row count; the per-dim
    * sums (64 rows) broadcast-join back. No driver-side math, no d×d
    * matrix on any single row.
    */
  val q191 = Q("q191_cov_matrix",
    (s, dir) => {
      // r16: fan the unsplittable scan ONCE (lazy checkpoint) — both
      // Gram passes (per-dim sums + tri-products) otherwise fuse into
      // a one-task scan stage: 1.85 s of CPU on a single task measured
      val emb = graft.operators.ScaleOps.fanIfNarrow(
        Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        col("vec_id")).localCheckpoint(false)
      val dims = emb
        .select(posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("i").cast("long").as("i"),
          expr("CAST(round(CAST(x AS DOUBLE) * 1e9) AS BIGINT)").as("xq"))
        .groupBy("i").agg(sum("xq").as("sx"), count(lit(1)).as("n"))
      val pairs = emb
        .select(explode(
          call_function("graft_tri_products", col("embedding"))).as("p"))
        .select(col("p.i").as("i"), col("p.j").as("j"), col("p.pq").as("pq"))
        .groupBy("i", "j").agg(sum("pq").as("sxy"))
      pairs
        .join(broadcast(dims.select(col("i"), col("sx").as("_sxi"), col("n"))), Seq("i"))
        .join(broadcast(dims.select(col("i").as("j"), col("sx").as("_sxj"))), Seq("j"))
        .select(col("i"), col("j"),
          round((col("sxy").cast("double") / 1e9
            - (col("_sxi").cast("double") / 1e9)
              * (col("_sxj").cast("double") / 1e9) / col("n"))
            / col("n"), 6).plus(lit(0.0)).as("cov")) // +0.0: fold -0.0 to +0.0 (sign-sensitive hash compare)
        .orderBy("i", "j")
    },
    Some("""
      WITH si AS (SELECT vec_id, embedding,
                    unnest(range(len(embedding))) AS i FROM embeddings),
      dims AS (SELECT i,
                 sum(CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e9) AS BIGINT)) AS sx,
                 count(*) AS n
               FROM si GROUP BY i),
      sij AS (SELECT vec_id, embedding, i,
                unnest(range(i, len(embedding))) AS j FROM si),
      pq AS (SELECT i, j,
               sum(CAST(round(CAST(embedding[i + 1] AS DOUBLE)
                            * CAST(embedding[j + 1] AS DOUBLE)
                            * 1e9) AS BIGINT)) AS sxy
             FROM sij GROUP BY i, j)
      SELECT pq.i, pq.j,
             round((CAST(sxy AS DOUBLE) / 1e9
               - (CAST(a.sx AS DOUBLE) / 1e9)
                 * (CAST(b.sx AS DOUBLE) / 1e9) / a.n) / a.n, 6) + 0 AS cov
      FROM pq JOIN dims a ON pq.i = a.i JOIN dims b ON pq.j = b.i
      ORDER BY pq.i, pq.j"""))

  // --------------------------------------------------------------- q192

  /** q192 — top principal component by POWER ITERATION on the q191
    * covariance matrix (the PCA/whitening primitive: dominant
    * direction, its eigenvalue, and variance-explained). The
    * data-scaled work is building A (same partial-agg explode as
    * q191); the iteration then runs on the d×d matrix itself —
    * 12 fixed rounds of v ← A·v/‖A·v‖ as join + groupBy with the
    * per-round norm broadcast back, the [[graft.operators.FixpointLoop]]
    * discipline (no driver-side math, O(d²) rows per round regardless
    * of corpus size).
    *
    * Determinism: every Σ over matrix/vector terms quantizes its
    * products to 1e-15 fixed-point longs first, so each round's v is
    * bit-identical across engines and partitionings — which is what
    * lets the oracle replay ALL 12 rounds in a recursive CTE and
    * hash-match the loadings even where the spectrum is too flat for
    * the iteration to have converged (parity, not convergence, is the
    * gate; λ = v'Av is exact for whatever direction v is).
    */
  val q192 = Q("q192_pca_power",
    (s, dir) => {
      // r16: fan the unsplittable scan once for both Gram passes
      // (same one-task fusion as q191)
      val emb = graft.operators.ScaleOps.fanIfNarrow(
        Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        col("vec_id")).localCheckpoint(false)
      val dims = emb
        .select(posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("i").cast("long").as("i"),
          expr("CAST(round(CAST(x AS DOUBLE) * 1e9) AS BIGINT)").as("xq"))
        .groupBy("i").agg(sum("xq").as("sx"), count(lit(1)).as("n"))
      val pq = emb
        .select(explode(
          call_function("graft_tri_products", col("embedding"))).as("p"))
        .select(col("p.i").as("i"), col("p.j").as("j"), col("p.pq").as("pq"))
        .groupBy("i", "j").agg(sum("pq").as("sxy"))
      // r16: the iteration state is a d-row vector over a d×d matrix —
      // bounded by the embedding WIDTH, never the corpus (d ≤ 1024
      // enforced below, BEFORE the d(d+1)/2 pq rows reach the driver:
      // ~525k rows at the bound, where 4096 allowed ~8.4M). Collect both
      // aggregates once and run the 12 quantized rounds driver-side —
      // the public RowMatrix.computePrincipalComponents shape:
      // distribute the Gram accumulation (the only O(corpus) stage),
      // iterate on the tiny matrix locally. Replaces 12 rounds of
      // (broadcast build + join + groupBy + global window + local
      // checkpoint) whose per-round JOB LATENCY, not compute, was the
      // wall (driver record: 3.70 s at sf0.1 for d=64). The arithmetic
      // below replicates the previous plan operation-for-operation —
      // same double expression tree for a_ij, the same
      // round-HALF_UP(x·1e15)→long quantization (Spark's Round on
      // DoubleType is BigDecimal(x).setScale(0, HALF_UP)), exact long
      // sums (order-free) — so the result is bit-identical; the
      // DuckDB oracle replays all 12 rounds independently and gates it.
      val dimRows = dims.select(col("i"), col("sx"), col("n")).collect()
      val d = dimRows.length
      require(d <= 1024,
        s"q192_pca_power: embedding dim $d exceeds the driver-side d*d bound")
      val pqRows = pq.select(col("i").cast("long").as("i"),
        col("j").cast("long").as("j"), col("sxy")).collect()
      val idx = dimRows.map(_.getLong(0)).sorted
      val pos = idx.zipWithIndex.toMap
      val sxA = new Array[Long](d)
      val nA = new Array[Long](d)
      dimRows.foreach { r =>
        val p = pos(r.getLong(0)); sxA(p) = r.getLong(1); nA(p) = r.getLong(2)
      }
      // Spark Round(double, 0) semantics, exactly, while |x| < 2^53.
      // Above 2^53 it can diverge from the old CAST(round(x) AS BIGINT)
      // path: BigDecimal(x) holds x's shortest decimal string, not its
      // binary value; the old path went back through a double and
      // recovered the binary value, .toLong keeps the string's digits
      // (an error below one ulp of x). The oracle replay gates the data.
      def rnd(x: Double): Long =
        BigDecimal(x).setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
      val a = Array.ofDim[Double](d, d)
      pqRows.foreach { r =>
        val pi = pos(r.getLong(0)); val pj = pos(r.getLong(1))
        val nI = nA(pi).toDouble
        val v = (r.getLong(2).toDouble / 1e9
          - (sxA(pi).toDouble / 1e9) * (sxA(pj).toDouble / 1e9) / nI) / nI
        a(pi)(pj) = v
        if (pi != pj) a(pj)(pi) = v
      }
      def mulQ(vec: Array[Double]): Array[Double] = {
        val w = new Array[Double](d)
        var i = 0
        while (i < d) {
          var acc = 0L
          var j = 0
          while (j < d) { acc += rnd(a(i)(j) * vec(j) * 1e15); j += 1 }
          w(i) = acc.toDouble / 1e15
          i += 1
        }
        w
      }
      var v = Array.fill(d)(0.125)
      for (_ <- 1 to 12) {
        val w = mulQ(v)
        var nq = 0L
        var i = 0
        while (i < d) { nq += rnd(w(i) * w(i) * 1e15); i += 1 }
        val nrm = math.sqrt(nq.toDouble / 1e15)
        v = w.map(_ / nrm)
      }
      val w13 = mulQ(v)
      var lq = 0L
      var tq = 0L
      var i = 0
      while (i < d) {
        lq += rnd(w13(i) * v(i) * 1e15)
        tq += rnd(a(i)(i) * 1e15)
        i += 1
      }
      val lam = lq.toDouble / 1e15
      val tr = tq.toDouble / 1e15
      // final rounding stays IN Spark expressions (round/±0.0 fold),
      // so output formatting semantics are untouched
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("i",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("l",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.DoubleType, nullable = true)))
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](d)
      idx.indices.foreach(p =>
        rows.add(org.apache.spark.sql.Row(idx(p), v(p), lam, tr)))
      s.createDataFrame(rows, schema)
        .select(col("i"),
          (round(col("v"), 6) + lit(0.0)).as("loading"), // fold -0.0
          round(col("l"), 6).as("eigenvalue"),
          round(col("l") / col("t"), 6).as("var_explained"))
        .orderBy("i")
    },
    Some("""
      WITH RECURSIVE
      si AS (SELECT vec_id, embedding,
               unnest(range(len(embedding))) AS i FROM embeddings),
      dims AS (SELECT i,
                 sum(CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e9) AS BIGINT)) AS sx,
                 count(*) AS n
               FROM si GROUP BY i),
      sij AS (SELECT vec_id, embedding, i,
                unnest(range(i, len(embedding))) AS j FROM si),
      pq AS (SELECT i, j,
               sum(CAST(round(CAST(embedding[i + 1] AS DOUBLE)
                            * CAST(embedding[j + 1] AS DOUBLE)
                            * 1e9) AS BIGINT)) AS sxy
             FROM sij GROUP BY i, j),
      cu AS (SELECT pq.i, pq.j,
               (CAST(sxy AS DOUBLE) / 1e9
                 - (CAST(a.sx AS DOUBLE) / 1e9)
                   * (CAST(b.sx AS DOUBLE) / 1e9) / a.n) / a.n AS a
             FROM pq JOIN dims a ON pq.i = a.i JOIN dims b ON pq.j = b.i),
      amat AS (SELECT i, j, a FROM cu
               UNION ALL SELECT j, i, a FROM cu WHERE i <> j),
      pv(iter, i, v) AS (
        SELECT 0, i, CAST(0.125 AS DOUBLE) FROM dims
        UNION ALL
        SELECT iter + 1, i,
               w / sqrt(CAST(sum(CAST(round(w*w*1e15) AS BIGINT)) OVER () AS DOUBLE)/1e15)
        FROM (
          SELECT p.iter AS iter, a.i AS i,
                 CAST(sum(CAST(round(a.a * p.v * 1e15) AS BIGINT)) AS DOUBLE)/1e15 AS w
          FROM pv p JOIN amat a ON a.j = p.i
          WHERE p.iter < 12
          GROUP BY p.iter, a.i)),
      vt AS (SELECT i, v FROM pv WHERE iter = 12),
      av AS (SELECT a.i, CAST(sum(CAST(round(a.a * v.v * 1e15) AS BIGINT)) AS DOUBLE)/1e15 AS w
             FROM amat a JOIN vt v ON a.j = v.i GROUP BY a.i),
      lam AS (SELECT CAST(sum(CAST(round(av.w * v.v * 1e15) AS BIGINT)) AS DOUBLE)/1e15 AS l
              FROM av JOIN vt v ON av.i = v.i),
      tr AS (SELECT CAST(sum(CAST(round(a * 1e15) AS BIGINT)) AS DOUBLE)/1e15 AS t
             FROM cu WHERE i = j)
      SELECT vt.i, round(vt.v, 6) + 0 AS loading,
             round(lam.l, 6) AS eigenvalue,
             round(lam.l / tr.t, 6) AS var_explained
      FROM vt, lam, tr ORDER BY vt.i"""))

  // --------------------------------------------------------------- q198

  /** q198 — k-core extraction ([[GraphOps.kCore]], k=12) on q190's
    * encoded customer↔supplier graph: the maximal subgraph where every
    * node keeps degree ≥ 12 after iterative peeling — the dense-part
    * extractor (link-farm mining, community seeding, sparsifying a
    * graph before an expensive all-pairs stage). Output is each core
    * node's IN-CORE degree — the number that changed from its raw
    * degree is exactly what peeling did.
    *
    * The k-core is unique and peel-order-independent (peeling is
    * confluent), so Spark's run-to-fixpoint loop and the oracle's
    * fixed 12-round recursive-CTE unroll land on the same set — the
    * extra oracle rounds past the fixpoint re-emit it unchanged.
    */
  val q198 = Q("q198_kcore",
    (s, dir) => {
      import graft.operators.GraphOps
      val e = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
        .localCheckpoint(false)
      val sym = e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
      GraphOps.kCore(sym, "src", "dst", k = 12)
        .groupBy("src").agg(count(lit(1)).as("core_deg"))
        .select(
          when(col("src") % 2 === 0, lit("c")).otherwise(lit("s")).as("kind"),
          expr("src div 2").as("node_key"),
          col("core_deg"))
        .orderBy("kind", "node_key")
    },
    Some("""
      WITH RECURSIVE
      e AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      ed AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
      kc(r, src, dst) AS (
        SELECT 0, src, dst FROM ed
        UNION ALL
        SELECT r + 1, src, dst FROM (
          SELECT r, src, dst,
            count(*) OVER (PARTITION BY r, src) AS ds,
            count(*) OVER (PARTITION BY r, dst) AS dd
          FROM kc)
        WHERE r < 12 AND ds >= 12 AND dd >= 12)
      SELECT CASE WHEN src % 2 = 0 THEN 'c' ELSE 's' END AS kind,
             src // 2 AS node_key,
             CAST(count(*) AS BIGINT) AS core_deg
      FROM kc WHERE r = 12
      GROUP BY src ORDER BY kind, node_key"""))

  // --------------------------------------------------------------- q199

  /** q199 — deterministic label-propagation communities
    * ([[GraphOps.labelPropagation]], 4 synchronous rounds) on the same
    * encoded graph: plurality vote over neighbor labels plus one
    * self-vote, ties to the smallest label. Randomized-order LPA is
    * irreproducible by construction; the synchronous + exact-count +
    * min-tie-break variant is a pure function of the edge set, which
    * is what lets an independent engine replay all 4 rounds and match
    * per-node labels bit-for-bit (the `max(struct(votes, −label))`
    * argmax is the same lexicographic comparison in both engines).
    */
  val q199 = Q("q199_label_propagation",
    (s, dir) => {
      import graft.operators.GraphOps
      val e = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
        .localCheckpoint(false)
      val sym = e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
      GraphOps.labelPropagation(sym, "src", "dst", rounds = 4)
        .select(
          when(col("id") % 2 === 0, lit("c")).otherwise(lit("s")).as("kind"),
          expr("id div 2").as("node_key"),
          when(col("community") % 2 === 0, lit("c")).otherwise(lit("s")).as("community_kind"),
          expr("community div 2").as("community_key"))
        .orderBy("kind", "node_key")
    },
    Some("""
      WITH RECURSIVE
      e AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      ed AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
      n AS (SELECT DISTINCT v
            FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)),
      ed2 AS (SELECT src, dst FROM ed UNION ALL SELECT v, v FROM n),
      lp(r, v, lab) AS (
        SELECT 0, v, v FROM n
        UNION ALL
        SELECT r + 1, v, -((mx).nl) FROM (
          SELECT r, dst AS v, max({'c': cnt, 'nl': -lab}) AS mx FROM (
            SELECT l.r AS r, ed2.dst AS dst, l.lab AS lab,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM lp l JOIN ed2 ON l.v = ed2.src
            WHERE l.r < 4
            GROUP BY 1, 2, 3)
          GROUP BY 1, 2))
      SELECT CASE WHEN v % 2 = 0 THEN 'c' ELSE 's' END AS kind,
             v // 2 AS node_key,
             CASE WHEN lab % 2 = 0 THEN 'c' ELSE 's' END AS community_kind,
             lab // 2 AS community_key
      FROM lp WHERE r = 4 ORDER BY kind, node_key"""))

  // --------------------------------------------------------------- q202

  /** q202 — Adamic-Adar link prediction over the customer↔supplier
    * bipartite graph: for supplier pairs, Σ over common customers of
    * 1/ln(customer's supplier-degree) — common neighbors weighted so a
    * promiscuous hub certifies little (the classic link-prediction /
    * record-linkage-affinity score). Top 100 pairs, ≥3 common
    * customers.
    *
    * Scale: the quadratic hazard is per-customer pair fan-out, so the
    * enumeration caps each customer at its 50 SMALLEST supplier ids
    * (deterministic, mirrored in the oracle) — fan-out ≤ C(50,2) rows
    * per customer regardless of hub size, the q36 hot-bucket
    * discipline. Pairs expand from one sorted per-customer array
    * (single groupBy exchange, no self-join re-shuffle); degrees are
    * computed on the UNCAPPED set (the true AA weight) and join back
    * broadcast-sized. Weights take the proven round(1e6/ln)::long
    * recipe, so the aggregated score is an exact integer sum.
    */
  val q202 = Q("q202_adamic_adar",
    (s, dir) => {
      val cs = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
      // r15 opt: degree + the 50 smallest suppliers ride ONE hash
      // aggregate — graft_top_k_longs is the O(k)-state bounded top-k
      // aggregate (map-side partial, ≤50 values per customer cross the
      // exchange), replacing the window sort + separate degree rollup
      // + join (3 exchanges + a per-partition sort → 2 exchanges, no
      // sort, no join; the distinct's checkpoint goes with its second
      // consumer)
      cs.groupBy("c").agg(count(lit(1)).as("dc"),
          call_function("graft_top_k_longs", col("sp"), lit(50)).as("ss"))
        // dc = 1 customers hold one supplier and expand to zero pairs,
        // but ANSI mode still evaluates w on their rows — and ln(1)=0
        // would divide by zero. The guard value never reaches a pair.
        .withColumn("w", expr(
          "CASE WHEN dc < 2 THEN 0 ELSE CAST(round(1000000 / ln(dc)) AS BIGINT) END"))
        // compiled pair kernel: the interpreted transform/slice HOF
        // chain copied the array tail once per outer index (r15 opt)
        .select(col("w"),
          explode(call_function("graft_pairs_long", col("ss"))).as("p"))
        .groupBy(col("p.a").as("s1"), col("p.b").as("s2"))
        .agg(sum("w").as("aa_micro"), count(lit(1)).as("common"))
        .filter(col("common") >= 3)
        .orderBy(desc("aa_micro"), col("s1"), col("s2"))
        .limit(100)
    },
    Some("""
      WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      deg AS (SELECT c, CAST(count(*) AS BIGINT) AS dc FROM cs GROUP BY c),
      cap AS (SELECT c, sp FROM (
                SELECT c, sp, row_number() OVER (PARTITION BY c ORDER BY sp) AS rn
                FROM cs) WHERE rn <= 50),
      p AS (SELECT a.c, a.sp AS s1, b.sp AS s2
            FROM cap a JOIN cap b ON a.c = b.c AND a.sp < b.sp),
      w AS (SELECT p.s1, p.s2,
                   CAST(round(1000000 / ln(deg.dc)) AS BIGINT) AS w
            FROM p JOIN deg ON p.c = deg.c)
      SELECT s1, s2, CAST(sum(w) AS BIGINT) AS aa_micro,
             CAST(count(*) AS BIGINT) AS common
      FROM w GROUP BY s1, s2 HAVING count(*) >= 3
      ORDER BY aa_micro DESC, s1, s2 LIMIT 100"""))

  // --------------------------------------------------------------- q203

  /** q203 — Benford first-significant-digit fingerprint of
    * `o_totalprice` per order priority: observed digit counts vs the
    * Benford expectation with the per-digit χ² contribution — the
    * classic fabricated-/synthetic-data smell test (real multi-scale
    * monetary data follows log-uniform mantissas; generated or
    * tampered columns usually don't, and the per-digit χ² says WHERE
    * they deviate). The engine reports the statistic; judging
    * conformance is the caller's threshold.
    *
    * Engine-portability details: the first digit comes from the
    * DECIMAL-exact integer cents value via its decimal-string length
    * (integer→string is unambiguous in every engine — no log10() on
    * doubles, whose last-ulp behavior is libm-specific), and the nine
    * Benford probabilities are spelled as identical literals on both
    * sides rather than computed, so the χ² arithmetic is the same
    * IEEE expression everywhere. One groupBy, map-side partials; the
    * 9-digit expectation join is a literal inline table.
    */
  val q203 = Q("q203_benford",
    (s, dir) => {
      val benford = Seq(
        1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
        3 -> 0.12493873660829993, 4 -> 0.09691001300805642,
        5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
        7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
        9 -> 0.04575749056067514)
      import s.implicits._
      val exp = benford.toDF("digit", "p_benford")
      val obs = Tables.load(s, dir, "orders")
        .withColumn("_cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .withColumn("digit",
          expr("CAST(_cents div CAST(pow(10, length(CAST(_cents AS STRING)) - 1) AS BIGINT) AS INT)"))
        .groupBy(col("o_orderpriority").as("priority"), col("digit"))
        .agg(count(lit(1)).as("observed"))
      val tot = obs.groupBy("priority").agg(sum("observed").as("_n"))
      obs.join(broadcast(exp), Seq("digit"))
        .join(tot, Seq("priority"))
        .select(col("priority"), col("digit"), col("observed"),
          round(col("_n") * col("p_benford"), 6).as("expected"),
          round(pow(col("observed") - col("_n") * col("p_benford"), 2)
            / (col("_n") * col("p_benford")), 6).as("chi2_term"))
        .orderBy("priority", "digit")
    },
    Some("""
      WITH exp0(digit, p0) AS (VALUES
        (1, 0.3010299956639812), (2, 0.17609125905568124),
        (3, 0.12493873660829993), (4, 0.09691001300805642),
        (5, 0.07918124604762482), (6, 0.06694678963061322),
        (7, 0.05799194697768673), (8, 0.05115252244738129),
        (9, 0.04575749056067514)),
      exp AS (SELECT digit, CAST(p0 AS DOUBLE) AS p_benford FROM exp0),
      c AS (SELECT o_orderpriority AS priority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders),
      o AS (SELECT priority,
                   CAST(cents // CAST(pow(10, length(CAST(cents AS VARCHAR)) - 1) AS BIGINT) AS INT) AS digit,
                   CAST(count(*) AS BIGINT) AS observed
            FROM c GROUP BY 1, 2),
      t AS (SELECT priority, CAST(sum(observed) AS BIGINT) AS n FROM o GROUP BY 1)
      SELECT o.priority, o.digit, o.observed,
             round(t.n * e.p_benford, 6) AS expected,
             round(pow(o.observed - t.n * e.p_benford, 2)
                   / (t.n * e.p_benford), 6) AS chi2_term
      FROM o JOIN exp e ON o.digit = e.digit
      JOIN t ON o.priority = t.priority
      ORDER BY o.priority, o.digit"""))

  // --------------------------------------------------------------- q207

  /** q207 — bootstrap confidence interval for the mean order value per
    * priority, by the POISSON bootstrap: instead of materializing B
    * resamples of n draws each (O(n·B) shuffled index lookups and an
    * n-row global rank — the textbook method, unusable at corpus
    * scale), every row independently draws a Poisson(1) weight per
    * replicate — the classic single-pass approximation whose replicate
    * sizes concentrate at n (Chamandy et al., "Estimating Uncertainty
    * for Massive Data Streams", the standard massive-data bootstrap).
    * One map-side explode of B=100 weights per row, one groupBy — no
    * per-replicate pass, no global window.
    *
    * Determinism: the Poisson draw inverts the CDF against literal
    * integer thresholds in the 30-bit domain — each 60-bit
    * hash64('bs|'||key||'|'||pb) digest yields TWO independent 30-bit
    * uniforms (top and bottom halves), so 50 digests drive 100
    * replicates; the digest is the per-row cost that dominates this
    * query, and halving it plus dropping the w=0 rows INSIDE the
    * per-row array (explode ships only surviving weights) cut the
    * fan-out stage ~2×. Weights are exact small integers, the
    * weighted sums are exact longs, and each replicate mean is
    * (1e6·Σwx) div Σw — so the oracle replays every replicate
    * bit-for-bit. CI bounds are the 3rd and 98th of the 100 sorted
    * replicate means (2.5%/97.5% for B=100), ranked by a per-priority
    * window over exactly 100 rows.
    */
  val q207 = Q("q207_bootstrap_ci",
    (s, dir) => {
      // cumulative Poisson(1) thresholds for w = 0..5 (≥6 beyond),
      // scaled to the 30-bit uniform domain: floor(cdf_k · 2^30)
      val thr = Seq(395007542L, 790015084L, 987518855L, 1053353445L,
        1069812093L, 1073103822L)
      def caseW(u: String): String =
        s"""CASE WHEN $u < ${thr(0)} THEN CAST(0 AS BIGINT)
            WHEN $u < ${thr(1)} THEN CAST(1 AS BIGINT)
            WHEN $u < ${thr(2)} THEN CAST(2 AS BIGINT)
            WHEN $u < ${thr(3)} THEN CAST(3 AS BIGINT)
            WHEN $u < ${thr(4)} THEN CAST(4 AS BIGINT)
            WHEN $u < ${thr(5)} THEN CAST(5 AS BIGINT)
            ELSE CAST(6 AS BIGINT) END"""
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority").as("priority"), col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        // orders is one small parquet file = ONE input split; without
        // this shuffle the whole 50-digest-per-row fan-out below runs
        // single-task. The partition count is EXPLICIT because AQE
        // would coalesce a ~5 MB shuffle back to one partition — it
        // sizes on shuffle bytes and cannot see the 50× explode
        // downstream.
        .repartition(s.sparkContext.defaultParallelism, col("o_orderkey"))
        .localCheckpoint(false) // feeds the point estimate and 100 replicates
      val point = orders.groupBy("priority")
        .agg(expr("(1000000 * sum(cents)) div count(*)").as("point_micro"))
      val weighted = orders
        .select(col("priority"), col("o_orderkey"), col("cents"),
          explode(sequence(lit(0), lit(49))).as("pb"))
        .withColumn("_h", call_function("graft_hash64",
          concat(lit("bs|"), col("o_orderkey").cast("string"),
            lit("|"), col("pb").cast("string"))))
        // plain array + explode + row filter — deliberately NOT a
        // filter() HOF: higher-order lambdas are CodegenFallback
        // (interpreted per element) and would break the whole-stage
        // pipeline this 7.5M-row stage lives in
        .select(col("priority"), col("cents"), explode(expr(
          s"""array(
                named_struct('b', CAST(2 * pb AS BIGINT),
                             'w', ${caseW("(_h div 1073741824)")}),
                named_struct('b', CAST(2 * pb + 1 AS BIGINT),
                             'w', ${caseW("(_h % 1073741824)")}))""")).as("p"))
        .filter(col("p.w") > 0)
        .select(col("priority"), col("p.b").as("b"), col("p.w").as("w"),
          col("cents"))
      val means = weighted.groupBy("priority", "b")
        .agg(expr("(1000000 * sum(w * cents)) div sum(w)").as("mean_micro"))
        // |groups|·B rows; cut — the CI lo/hi branches would otherwise
        // each re-run the full n·B hash pass
        .localCheckpoint(false)
      val ranked = means.withColumn("_rn",
        row_number().over(Window.partitionBy("priority")
          .orderBy(col("mean_micro").asc, col("b").asc)))
      point
        .join(ranked.filter(col("_rn") === 3)
          .select(col("priority"), col("mean_micro").as("ci_lo_micro")), Seq("priority"))
        .join(ranked.filter(col("_rn") === 98)
          .select(col("priority"), col("mean_micro").as("ci_hi_micro")), Seq("priority"))
        .orderBy("priority")
    },
    Some(s"""
      WITH o AS (SELECT o_orderpriority AS priority, o_orderkey,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders),
      pt AS (SELECT priority,
                    (1000000 * CAST(sum(cents) AS BIGINT)) // count(*) AS point_micro
             FROM o GROUP BY 1),
      x AS (SELECT priority, o_orderkey, cents, u.pb AS pb,
                   ${duckHash64("concat('bs|', CAST(o_orderkey AS VARCHAR), '|', CAST(u.pb AS VARCHAR))")}
                     AS hh
            FROM o, unnest(range(0, 50)) AS u(pb)),
      x2 AS (SELECT priority, cents, 2 * pb + hf.half AS b,
                    CASE WHEN hf.half = 0 THEN hh // 1073741824
                         ELSE hh % 1073741824 END AS uu
             FROM x, (SELECT unnest([0, 1]) AS half) hf),
      wgt AS (SELECT priority, b, cents,
                     CASE WHEN uu < 395007542 THEN 0
                          WHEN uu < 790015084 THEN 1
                          WHEN uu < 987518855 THEN 2
                          WHEN uu < 1053353445 THEN 3
                          WHEN uu < 1069812093 THEN 4
                          WHEN uu < 1073103822 THEN 5
                          ELSE 6 END AS w
              FROM x2),
      m AS (SELECT priority, b,
                   (1000000 * CAST(sum(w * cents) AS BIGINT))
                     // CAST(sum(w) AS BIGINT) AS mean_micro
            FROM wgt WHERE w > 0 GROUP BY 1, 2),
      r AS (SELECT priority, b, mean_micro,
                   row_number() OVER (PARTITION BY priority
                                      ORDER BY mean_micro ASC, b ASC) AS rn
            FROM m)
      SELECT pt.priority, pt.point_micro,
             lo.mean_micro AS ci_lo_micro, hi.mean_micro AS ci_hi_micro
      FROM pt
      JOIN (SELECT priority, mean_micro FROM r WHERE rn = 3) lo
        ON pt.priority = lo.priority
      JOIN (SELECT priority, mean_micro FROM r WHERE rn = 98) hi
        ON pt.priority = hi.priority
      ORDER BY pt.priority"""))

  // --------------------------------------------------------------- q209

  /** q209 — weighted single-source shortest paths
    * ([[GraphOps.ssspDistances]]: frontier-pruned Bellman-Ford) from
    * q190's seed suppliers over the encoded customer↔supplier graph
    * with per-edge costs w = 1 + (a+b) mod 3 — the weighted
    * generalization of q190's BFS (cheapest-route exposure, weighted
    * blast radius). Unreached nodes pin at −1.
    *
    * Oracle strategy: plain recursive CTEs explode on weighted path
    * sums (every path has a near-unique cost, so UNION dedup never
    * prunes) — UNLESS weights are small integers: then (node, dist)
    * pairs dedup into at most |V|·maxDist states and the recursion is
    * polynomial. That is why the costs here live in {1,2,3} with a
    * distance cap of 60 — far above the true eccentricities, so the
    * capped oracle and the run-to-fixpoint engine agree exactly.
    */
  val q209 = Q("q209_sssp",
    (s, dir) => {
      import graft.operators.GraphOps
      val e = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
        .localCheckpoint(false)
      val sym = e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
        .withColumn("w", lit(1L) + (col("src") + col("dst")) % 3)
      val sources = e.select(col("b").as("id")).distinct()
        .filter(expr("((id - 1) div 2) % 100 = 1"))
      val dist = GraphOps.ssspDistances(sym, "src", "dst", "w", sources, "id")
      val nodes = e.select(col("a").as("id"))
        .union(e.select(col("b").as("id"))).distinct()
      nodes.join(dist, Seq("id"), "left")
        .select(
          when(col("id") % 2 === 0, lit("c")).otherwise(lit("s")).as("kind"),
          expr("id div 2").as("node_key"),
          coalesce(col("dist"), lit(-1L)).as("dist"))
        .orderBy("kind", "node_key")
    },
    Some("""
      WITH RECURSIVE
      e AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      ed AS (SELECT src, dst, 1 + (src + dst) % 3 AS w FROM (
               SELECT a AS src, b AS dst FROM e
               UNION ALL SELECT b, a FROM e)),
      srcs AS (SELECT DISTINCT b AS v FROM e WHERE ((b - 1) // 2) % 100 = 1),
      sp(v, d) AS (
        SELECT v, CAST(0 AS BIGINT) FROM srcs
        UNION
        SELECT ed.dst, sp.d + ed.w FROM sp JOIN ed ON sp.v = ed.src
        WHERE sp.d < 60),
      md AS (SELECT v, min(d) AS dist FROM sp GROUP BY v),
      n AS (SELECT DISTINCT v
            FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e))
      SELECT CASE WHEN n.v % 2 = 0 THEN 'c' ELSE 's' END AS kind,
             n.v // 2 AS node_key,
             CAST(coalesce(md.dist, -1) AS BIGINT) AS dist
      FROM n LEFT JOIN md ON n.v = md.v
      ORDER BY kind, node_key"""))

  // --------------------------------------------------------------- q210

  /** q210 — isotonic regression (monotone calibration) of
    * P(status = 'F') against order value, per priority: the standard
    * score-calibration step (Platt's rival) a training pipeline runs
    * before thresholding a model score. Raw rows first roll up into
    * ≤100 value bins per group — at corpus scale you CANNOT sort the
    * raw score column, and binned PAVA is how production calibration
    * actually runs; the isotonic fit then lives on the bounded bin
    * table.
    *
    * The fit is computed through the minimax identity
    * fit(i) = max_{j≤i} min_{k≥i} avg(y_j..y_k) — O(m³) on m ≤ 100
    * bins is trivial, embarrassingly parallel, and (unlike the O(m)
    * pool-adjacent-violators stack) has no sequential merge loop to
    * replay, so BOTH engines evaluate the same closed form: bin
    * averages as exact (1e6·Σy) div Σc integers, min/max over
    * integers. An algorithm-independent gate: the spec separately
    * checks the fit against a real stack-based PAVA.
    */
  val q210 = Q("q210_isotonic",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority").as("g"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
      val mx = o.agg(max("cents").as("_mx"))
      val bins = o.crossJoin(broadcast(mx))
        .withColumn("b", least(lit(99L), expr("(cents * 100) div (_mx + 1)")))
        .groupBy("g", "b")
        .agg(count(lit(1)).as("c"), sum("y").as("p"))
      val wg = Window.partitionBy("g").orderBy("b")
      val idx = bins
        .withColumn("i", row_number().over(wg))
        .withColumn("cc", sum("c").over(
          wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cp", sum("p").over(
          wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .localCheckpoint(false) // feeds pairs (x2 sides) and the output join
      val base = idx.select(col("g"), col("i"), col("cc"), col("cp"))
      val prev = base.select(col("g"), (col("i") + 1).as("j"),
        col("cc").as("pcc"), col("cp").as("pcp"))
      val pairs = base
        .join(base.select(col("g"), col("i").as("j")), Seq("g"))
        .filter(col("j") <= col("i"))
        .join(prev, Seq("g", "j"), "left")
        .select(col("g"), col("j"), col("i").as("k"),
          expr("(1000000 * (cp - coalesce(pcp, 0L))) div (cc - coalesce(pcc, 0L))")
            .as("avg_micro"))
      val fit = pairs
        .select(col("g"), col("j"), col("k"), col("avg_micro"),
          explode(sequence(col("j"), col("k"))).as("i"))
        .groupBy("g", "j", "i").agg(min("avg_micro").as("m"))
        .groupBy("g", "i").agg(max("m").as("fit_micro"))
      idx.join(fit, Seq("g", "i"))
        .select(col("g"), col("i"), col("b"), col("c"), col("p"),
          expr("(1000000 * p) div c").as("rate_micro"), col("fit_micro"))
        .orderBy("g", "i")
    },
    Some("""
      WITH o AS (SELECT o_orderpriority AS g,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                        CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
                 FROM orders),
      mx AS (SELECT max(cents) AS m FROM o),
      bins AS (SELECT g, least(99, (cents * 100) // (mx.m + 1)) AS b,
                      CAST(count(*) AS BIGINT) AS c, CAST(sum(y) AS BIGINT) AS p
               FROM o, mx GROUP BY 1, 2),
      idx AS (SELECT g, b, c, p,
                     row_number() OVER w AS i,
                     sum(c) OVER (w ROWS UNBOUNDED PRECEDING) AS cc,
                     sum(p) OVER (w ROWS UNBOUNDED PRECEDING) AS cp
              FROM bins WINDOW w AS (PARTITION BY g ORDER BY b)),
      pairs AS (SELECT k.g, j.i AS j, k.i AS k,
                       (1000000 * (k.cp - coalesce(pj.cp, 0)))
                         // (k.cc - coalesce(pj.cc, 0)) AS avg_micro
                FROM idx k
                JOIN idx j ON j.g = k.g AND j.i <= k.i
                LEFT JOIN idx pj ON pj.g = k.g AND pj.i = j.i - 1),
      m1 AS (SELECT g, j, u.i AS i, min(avg_micro) AS m
             FROM pairs, unnest(generate_series(j, k)) AS u(i)
             GROUP BY 1, 2, 3),
      fit AS (SELECT g, i, max(m) AS fit_micro FROM m1 GROUP BY 1, 2)
      SELECT idx.g, CAST(idx.i AS INT) AS i, idx.b, idx.c, idx.p,
             (1000000 * idx.p) // idx.c AS rate_micro,
             CAST(fit.fit_micro AS BIGINT) AS fit_micro
      FROM idx JOIN fit ON idx.g = fit.g AND idx.i = fit.i
      ORDER BY idx.g, idx.i"""))

  // --------------------------------------------------------------- q211

  /** q211 — Kaplan-Meier survival curves (user churn) per acquisition
    * cohort: duration = first→last activity in hours; a user whose
    * last event falls in the final 48 h of the observation window is
    * CENSORED (still alive when the data ends), everyone else churned
    * at their duration — the right-censoring that separates survival
    * analysis from a plain histogram, and the estimator product
    * S(t) = Π_{u≤t} (1 − d_u/n_u) over the at-risk counts.
    *
    * Determinism: the product goes through exp(Σ ln(1 − d/n)) with
    * each ln term quantized to a 1e9 long (the proven q57/q77 recipe)
    * — the cumulative sum is integer-exact in any order, and exp +
    * round run once per output row. If d = n (everyone at risk dies)
    * the survival pins to exactly 0 on both sides instead of ln(0).
    *
    * Scale: one groupBy(user) for lifetimes, one groupBy(cohort,
    * duration) rollup, then windows partitioned BY COHORT over ≤
    * |distinct durations| rows — bounded, never corpus-global. The
    * observation-window max is a broadcast 1-row aggregate.
    */
  val q211 = Q("q211_kaplan_meier",
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
      val wmax = ev.agg(max("_sec").as("_wmax"))
      val lives = users.crossJoin(broadcast(wmax))
        .select(col("cohort"),
          expr("(last_sec - first_sec) div 3600").as("dur_h"),
          when(col("last_sec") < col("_wmax") - 48L * 3600, 1L).otherwise(0L).as("died"))
      val grid = lives.groupBy("cohort", "dur_h")
        .agg(count(lit(1)).as("n_at"), sum("died").as("deaths"))
      val wc = Window.partitionBy("cohort").orderBy(col("dur_h").asc)
      val curve = grid
        .withColumn("n_risk", sum("n_at").over(
          wc.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .withColumn("_lnq",
          when(col("deaths") === col("n_risk"), lit(null))
            .otherwise(expr(
              "CAST(round(ln(1.0 - CAST(deaths AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1e9) AS BIGINT)")))
        .withColumn("_cum", sum("_lnq").over(
          wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("_dead_all", max(when(col("deaths") === col("n_risk"), 1)
          .otherwise(0)).over(wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      curve.select(col("cohort"), col("dur_h"), col("n_risk"), col("deaths"),
          when(col("_dead_all") === 1, 0.0)
            .otherwise(expr("round(exp(CAST(_cum AS DOUBLE) / 1e9), 6)"))
            .as("survival"))
        .orderBy("cohort", "dur_h")
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
             FROM u JOIN fe ON u.user_id = fe.user_id AND fe.rn = 1),
      wm AS (SELECT max(sec) AS wmax FROM e),
      lives AS (SELECT cohort,
                       (last_sec - first_sec) // 3600 AS dur_h,
                       CASE WHEN last_sec < wm.wmax - 48 * 3600 THEN 1 ELSE 0 END AS died
                FROM uc, wm),
      grid AS (SELECT cohort, dur_h, CAST(count(*) AS BIGINT) AS n_at,
                      CAST(sum(died) AS BIGINT) AS deaths
               FROM lives GROUP BY 1, 2),
      curve AS (SELECT cohort, dur_h, deaths,
                       sum(n_at) OVER (PARTITION BY cohort ORDER BY dur_h ASC
                                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                         AS n_risk
                FROM grid),
      lnq AS (SELECT cohort, dur_h, n_risk, deaths,
                     CASE WHEN deaths = n_risk THEN NULL
                          ELSE CAST(round(ln(1.0 - CAST(deaths AS DOUBLE)
                                               / CAST(n_risk AS DOUBLE)) * 1e9) AS BIGINT)
                     END AS t
              FROM curve),
      acc AS (SELECT cohort, dur_h, n_risk, deaths,
                     sum(t) OVER w AS cum,
                     max(CASE WHEN deaths = n_risk THEN 1 ELSE 0 END) OVER w AS dead_all
              FROM lnq
              WINDOW w AS (PARTITION BY cohort ORDER BY dur_h ASC
                           ROWS UNBOUNDED PRECEDING))
      SELECT cohort, dur_h, CAST(n_risk AS BIGINT) AS n_risk, deaths,
             CASE WHEN dead_all = 1 THEN 0.0
                  ELSE round(exp(CAST(cum AS DOUBLE) / 1e9), 6) END AS survival
      FROM acc ORDER BY cohort, dur_h"""))

  // --------------------------------------------------------------- q214

  /** q214 — HyperLogLog distinct-count sketch (m=64 registers) per
    * event_type, gated EXACTLY: the register table is a deterministic
    * function of the data (md5-derived hash → register = h mod 64,
    * rho = leading-zero rank of the remaining 54 bits), so the oracle
    * recomputes every register, the harmonic sum, and the integer
    * estimate bit-for-bit — no "approximate results can't be gated"
    * cop-out. The exact distinct count rides along so the output
    * certifies the sketch's own error.
    *
    * WHY a sketch when countDistinct exists: HLL registers are
    * MERGEABLE (max per register) — the shape that turns a 100 TB
    * distinct-count into map-side partial maxes over 64·|groups| cells
    * instead of a shuffle of every distinct key. The groupBy(type,
    * register).max IS the mergeable partial: Spark's partial
    * aggregation computes per-partition register maxes before the one
    * tiny shuffle.
    *
    * Exactness: harmonic sum Z = Σ 2^(−M_j) is kept integer as
    * T = Σ 2^(55−M_j) (empty registers contribute 2^55); the estimate
    * α·m²/Z becomes (α_micro · 4096 · 2^55) div T with the product in
    * DECIMAL(38,0)/HUGEINT (q184's recipe). α_micro = 709374
    * (0.7213/(1+1.079/64), the standard m=64 constant) is the same
    * literal on both sides. All divisions run on non-negative
    * operands, so Spark `div` ≡ DuckDB `//`.
    *
    * Small-range correction: the raw estimator biases high when most
    * registers are empty, so below 2.5m (raw ≤ 160e6 micro, V > 0)
    * the standard LinearCounting branch m·ln(m/V) applies — the
    * branch condition is integer (both engines agree exactly) and the
    * one ln() is micro-quantized through round(), the q57/q211 recipe.
    */
  val q214 = Q("q214_hll_sketch",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events").select("event_type", "user_id")
      val reg = ev
        .withColumn("_h", graft.functions.Hashing.hash64(col("user_id").cast("string")))
        .withColumn("_j", col("_h") % 64)
        .withColumn("_w", expr("_h div 64"))
        .withColumn("_rho", expr(
          "CAST(CASE WHEN _w = 0 THEN 55 ELSE 55 - length(bin(_w)) END AS INT)"))
        .groupBy("event_type", "_j").agg(max("_rho").as("m"))
      val sk = reg.groupBy("event_type")
        .agg(count(lit(1)).as("z_registers"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - m)")).as("_tp"))
        .withColumn("t_sum",
          col("_tp") + (lit(64L) - col("z_registers")) * lit(36028797018963968L))
        .withColumn("_raw", expr(
          """CAST((CAST(709374 AS DECIMAL(38,0)) * 4096 *
             CAST(36028797018963968 AS DECIMAL(38,0)))
             div CAST(t_sum AS DECIMAL(38,0)) AS BIGINT)"""))
        .withColumn("est_micro", expr(
          """CASE WHEN z_registers < 64 AND _raw <= 160000000
             THEN CAST(round(64 * ln(64.0 / (64 - z_registers)) * 1000000) AS BIGINT)
             ELSE _raw END"""))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      sk.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_exact"), col("z_registers"),
          col("t_sum"), col("est_micro"),
          expr("(abs(est_micro - 1000000 * n_exact) * 100) div (1000000 * n_exact)")
            .as("err_pct"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH e AS (SELECT event_type, user_id FROM events),
      h AS (SELECT event_type, user_id,
              ${duckHash64("CAST(user_id AS VARCHAR)")} AS h
            FROM e),
      r AS (SELECT event_type, h % 64 AS j,
              CASE WHEN h // 64 = 0 THEN 55
                   ELSE 55 - length(bin(h // 64)) END AS rho
            FROM h),
      m AS (SELECT event_type, j, max(rho) AS m FROM r GROUP BY 1, 2),
      sk AS (SELECT event_type,
               CAST(count(*) AS BIGINT) AS z_registers,
               CAST(sum(CAST(1 AS BIGINT) << (55 - m)) AS BIGINT)
                 + (64 - CAST(count(*) AS BIGINT)) * 36028797018963968
                 AS t_sum
             FROM m GROUP BY 1),
      x AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM e GROUP BY 1),
      raw AS (SELECT sk.event_type, x.n_exact, sk.z_registers, sk.t_sum,
                CAST((CAST(709374 AS HUGEINT) * 4096 * 36028797018963968)
                     // sk.t_sum AS BIGINT) AS r
              FROM sk JOIN x ON sk.event_type = x.event_type),
      est AS (SELECT event_type, n_exact, z_registers, t_sum,
                CASE WHEN z_registers < 64 AND r <= 160000000
                  THEN CAST(round(64 * ln(64.0 / (64 - z_registers)) * 1000000) AS BIGINT)
                  ELSE r END AS est_micro
              FROM raw)
      SELECT event_type, n_exact, z_registers, t_sum, est_micro,
             (abs(est_micro - 1000000 * n_exact) * 100)
               // (1000000 * n_exact) AS err_pct
      FROM est ORDER BY event_type"""))

  // --------------------------------------------------------------- q216

  /** q216 — Kendall tau-b rank correlation between per-user click and
    * purchase activity: the tie-aware rank correlation that
    * complements Spearman (q131's family) when the variables are
    * small discrete counts — exactly where Spearman's midrank
    * arithmetic is noisiest and tau-b's explicit tie correction
    * matters.
    *
    * Scale shape: the O(n²) pair comparison collapses onto the JOINT
    * FREQUENCY GRID — one groupBy(user) pass, one groupBy(x, y) cell
    * rollup (cells are bounded: activity counts, not raw values),
    * then concordant/discordant counted by a self-join of the tiny
    * cell table (broadcast, |cells|² products of precomputed
    * frequencies — never user×user). Ties come from the marginals.
    *
    * Exactness: C, D, and the tie terms are exact int64 products of
    * cell counts; tau-b's square root is avoided by reporting the
    * SIGNED SQUARED statistic sign(C−D)·(1e12·(C−D)²) div
    * ((n0−n1)(n0−n2)) with products in DECIMAL(38,0)/HUGEINT — all
    * divisions on non-negative operands.
    */
  val q216 = Q("q216_kendall_tau",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val ux = ev.groupBy("user_id")
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val cells = ux.groupBy("x", "y").agg(count(lit(1)).as("f"))
      val c2 = cells.select(col("x").as("x2"), col("y").as("y2"), col("f").as("f2"))
      val pairs = cells.join(broadcast(c2), col("x") < col("x2"))
        .agg(
          coalesce(sum(when(col("y") < col("y2"), col("f") * col("f2"))
            .otherwise(0L)), lit(0L)).as("c_pairs"),
          coalesce(sum(when(col("y") > col("y2"), col("f") * col("f2"))
            .otherwise(0L)), lit(0L)).as("d_pairs"))
      val tot = cells.agg(
        sum("f").as("n"),
        sum(expr("f * (f - 1) div 2")).as("_tie_xy"))
      val tx = cells.groupBy("x").agg(sum("f").as("fx"))
        .agg(sum(expr("fx * (fx - 1) div 2")).as("n1"))
      val ty = cells.groupBy("y").agg(sum("f").as("fy"))
        .agg(sum(expr("fy * (fy - 1) div 2")).as("n2"))
      pairs.crossJoin(broadcast(tot)).crossJoin(broadcast(tx))
        .crossJoin(broadcast(ty))
        .withColumn("n0", expr("n * (n - 1) div 2"))
        .select(col("c_pairs"), col("d_pairs"), col("n0"), col("n1"), col("n2"),
          expr("""CASE WHEN n0 = n1 OR n0 = n2 THEN NULL ELSE
            CAST(CASE WHEN c_pairs < d_pairs THEN -1 ELSE 1 END *
              ((CAST(1000000000000 AS DECIMAL(38,0)) *
                CAST(c_pairs - d_pairs AS DECIMAL(38,0)) *
                CAST(c_pairs - d_pairs AS DECIMAL(38,0)))
               div (CAST(n0 - n1 AS DECIMAL(38,0)) *
                    CAST(n0 - n2 AS DECIMAL(38,0)))) AS BIGINT) END""")
            .as("tau2_pico"))
    },
    Some("""
      WITH ux AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1),
      cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS f FROM ux GROUP BY 1, 2),
      pairs AS (
        SELECT
          CAST(coalesce(sum(CASE WHEN a.y < b.y THEN a.f * b.f END), 0) AS BIGINT) AS c_pairs,
          CAST(coalesce(sum(CASE WHEN a.y > b.y THEN a.f * b.f END), 0) AS BIGINT) AS d_pairs
        FROM cells a JOIN cells b ON a.x < b.x),
      tot AS (SELECT CAST(sum(f) AS BIGINT) AS n FROM cells),
      tx AS (SELECT CAST(sum(fx * (fx - 1) // 2) AS BIGINT) AS n1
             FROM (SELECT sum(f) AS fx FROM cells GROUP BY x)),
      ty AS (SELECT CAST(sum(fy * (fy - 1) // 2) AS BIGINT) AS n2
             FROM (SELECT sum(f) AS fy FROM cells GROUP BY y))
      SELECT p.c_pairs, p.d_pairs,
             t.n * (t.n - 1) // 2 AS n0, tx.n1, ty.n2,
             CASE WHEN t.n * (t.n - 1) // 2 = tx.n1
                    OR t.n * (t.n - 1) // 2 = ty.n2 THEN NULL ELSE
               CAST(CASE WHEN p.c_pairs < p.d_pairs THEN -1 ELSE 1 END *
                 ((CAST(1000000000000 AS HUGEINT) *
                   (p.c_pairs - p.d_pairs) * (p.c_pairs - p.d_pairs))
                  // (CAST(t.n * (t.n - 1) // 2 - tx.n1 AS HUGEINT) *
                     (t.n * (t.n - 1) // 2 - ty.n2))) AS BIGINT) END AS tau2_pico
      FROM pairs p, tot t, tx, ty"""))

  // --------------------------------------------------------------- q217

  /** q217 — mutual information between event_type and day-of-week:
    * the feature-selection / dependence-mining primitive ("does
    * behavior depend on the weekday, and how much?") computed from
    * the contingency table, with both marginal entropies and the
    * normalized MI riding along.
    *
    * Exactness: every per-cell ln((n·c)/(r·cC)) and per-marginal
    * ln(n/r) goes through the proven round(x·1e9)::long quantization
    * (textually identical double expressions both sides, q57/q211's
    * recipe), accumulated as exact longs weighted by integer counts;
    * the final divisions are sign-symmetric CASEs (the MI sum can
    * round slightly negative near independence). Normalized MI
    * divides by the smaller marginal entropy, NULL if degenerate.
    *
    * Scale: one |types|·7-cell contingency rollup (map-side
    * partials), marginals and total re-aggregated from the CELLS (not
    * the raw events), everything after the first groupBy is broadcast
    * joins over bounded tables. No windows at all.
    */
  val q217 = Q("q217_mutual_info",
    (s, dir) => {
      val tdivN = "CASE WHEN %s < 0 THEN -((-(%s)) div n) ELSE (%s) div n END"
      val cells = Tables.load(s, dir, "events")
        .select(col("event_type").as("t"),
          dayofweek(to_date(col("ts"))).as("d"))
        .groupBy("t", "d").agg(count(lit(1)).as("c"))
      val r = cells.groupBy("t").agg(sum("c").as("r"))
      val cc = cells.groupBy("d").agg(sum("c").as("cc"))
      val n = cells.agg(sum("c").as("n"))
      val mi = cells.join(broadcast(r), Seq("t")).join(broadcast(cc), Seq("d"))
        .crossJoin(broadcast(n))
        .withColumn("term", expr(
          "c * CAST(round(ln((CAST(n AS DOUBLE) * c) / (CAST(r AS DOUBLE) * cc)) * 1e9) AS BIGINT)"))
        .agg(sum("term").as("term_sum"), count(lit(1)).as("n_cells"))
      val ht = r.crossJoin(broadcast(n)).agg(sum(expr(
        "r * CAST(round(ln(CAST(n AS DOUBLE) / r) * 1e9) AS BIGINT)")).as("ht_sum"))
      val hd = cc.crossJoin(broadcast(n)).agg(sum(expr(
        "cc * CAST(round(ln(CAST(n AS DOUBLE) / cc) * 1e9) AS BIGINT)")).as("hd_sum"))
      mi.crossJoin(broadcast(ht)).crossJoin(broadcast(hd)).crossJoin(broadcast(n))
        .withColumn("mi_nano", expr(tdivN.format("term_sum", "term_sum", "term_sum")))
        .withColumn("h_type_nano", expr("ht_sum div n"))
        .withColumn("h_dow_nano", expr("hd_sum div n"))
        .withColumn("nmi_micro", expr(
          """CASE WHEN least(h_type_nano, h_dow_nano) <= 0 THEN NULL
             WHEN mi_nano < 0 THEN -((-(1000000 * mi_nano)) div least(h_type_nano, h_dow_nano))
             ELSE (1000000 * mi_nano) div least(h_type_nano, h_dow_nano) END"""))
        .select("n", "n_cells", "mi_nano", "h_type_nano", "h_dow_nano", "nmi_micro")
    },
    Some("""
      WITH e AS (SELECT event_type AS t,
                        CAST(dayofweek(CAST(ts AS DATE)) AS INT) + 1 AS d
                 FROM events),
      cells AS (SELECT t, d, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
      r AS (SELECT t, CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY 1),
      cc AS (SELECT d, CAST(sum(c) AS BIGINT) AS cc FROM cells GROUP BY 1),
      n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
      mi AS (SELECT CAST(sum(c * CAST(round(ln((CAST(n.n AS DOUBLE) * c)
                      / (CAST(r.r AS DOUBLE) * cc.cc)) * 1e9) AS BIGINT)) AS BIGINT)
                      AS term_sum,
                    CAST(count(*) AS BIGINT) AS n_cells
             FROM cells JOIN r USING (t) JOIN cc USING (d) CROSS JOIN n),
      ht AS (SELECT CAST(sum(r * CAST(round(ln(CAST(n.n AS DOUBLE) / r) * 1e9)
                      AS BIGINT)) AS BIGINT) AS ht_sum
             FROM r CROSS JOIN n),
      hd AS (SELECT CAST(sum(cc * CAST(round(ln(CAST(n.n AS DOUBLE) / cc) * 1e9)
                      AS BIGINT)) AS BIGINT) AS hd_sum
             FROM cc CROSS JOIN n),
      fin AS (SELECT n.n, mi.n_cells,
                CASE WHEN mi.term_sum < 0 THEN -((-(mi.term_sum)) // n.n)
                     ELSE mi.term_sum // n.n END AS mi_nano,
                ht.ht_sum // n.n AS h_type_nano,
                hd.hd_sum // n.n AS h_dow_nano
              FROM mi CROSS JOIN ht CROSS JOIN hd CROSS JOIN n)
      SELECT n, n_cells, mi_nano, h_type_nano, h_dow_nano,
             CASE WHEN least(h_type_nano, h_dow_nano) <= 0 THEN NULL
                  WHEN mi_nano < 0
                    THEN -((-(1000000 * mi_nano)) // least(h_type_nano, h_dow_nano))
                  ELSE (1000000 * mi_nano) // least(h_type_nano, h_dow_nano) END
               AS nmi_micro
      FROM fin"""))

  // --------------------------------------------------------------- q218

  /** q218 — binned Lorenz curve / Gini concentration per market
    * segment: how unequally is order revenue distributed across a
    * segment's customers — the heavy-tail audit behind "1% of
    * customers drive 40% of revenue" and, on corpora, "1% of domains
    * drive 40% of tokens".
    *
    * Scale shape: at corpus scale you cannot globally SORT customers
    * by revenue, so revenue bins FIRST (map-side: 1000 fixed-width
    * bins against a broadcast global max) and the Lorenz/Gini math
    * runs on the bounded per-segment bin table — the grouped-data
    * Gini G = 1 − Σ n_b·(2·CumS_before + s_b)/(N·S), windows
    * partitioned BY SEGMENT over ≤1000 bins. Within-bin order doesn't
    * enter the grouped formula, so the statistic is exact FOR THE
    * BINNED distribution and deterministic.
    *
    * Exactness: revenue in integer cents (round(price·100), q203's
    * recipe), all cumulative sums exact longs, the Gini numerator in
    * DECIMAL(38,0)/HUGEINT (n_b·CumS products overflow int64 at
    * scale), every division on non-negative operands.
    */
  val q218 = Q("q218_gini_concentration",
    (s, dir) => {
      val rev = Tables.load(s, dir, "orders")
        .withColumn("_cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .groupBy("o_custkey").agg(sum("_cents").as("rev"))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val base = cust.join(rev, col("c_custkey") === col("o_custkey"), "left")
        .select(col("segment"), coalesce(col("rev"), lit(0L)).as("rev"))
      val mx = base.agg(max("rev").as("_mx"))
      val bins = base.crossJoin(broadcast(mx))
        .withColumn("bin", expr("(rev * 1000) div (_mx + 1)"))
        .groupBy("segment", "bin")
        .agg(count(lit(1)).as("n_b"), sum("rev").as("s_b"))
      val ws = Window.partitionBy("segment").orderBy("bin")
      bins
        .withColumn("_cum_before",
          coalesce(sum("s_b").over(ws.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("_num", expr(
          "CAST(n_b AS DECIMAL(38,0)) * (2 * CAST(_cum_before AS DECIMAL(38,0)) + s_b)"))
        .groupBy("segment")
        .agg(sum("n_b").as("n_customers"), sum("s_b").as("total_cents"),
          sum("_num").as("_num_sum"),
          sum(when(col("bin") >= 900, col("s_b")).otherwise(0L)).as("_top_band"))
        .select(col("segment"), col("n_customers"), col("total_cents"),
          expr("""CAST(1000000 - (CAST(1000000 AS DECIMAL(38,0)) * _num_sum)
                 div (CAST(n_customers AS DECIMAL(38,0)) * total_cents) AS BIGINT)""")
            .as("gini_micro"),
          expr("(1000000 * _top_band) div total_cents").as("top_band_share_micro"))
        .orderBy("segment")
    },
    Some("""
      WITH rev AS (
        SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
        FROM orders GROUP BY 1),
      base AS (
        SELECT c.c_mktsegment AS segment, coalesce(r.rev, 0) AS rev
        FROM customer c LEFT JOIN rev r ON c.c_custkey = r.o_custkey),
      mx AS (SELECT max(rev) AS mx FROM base),
      bins AS (
        SELECT segment, (rev * 1000) // (mx.mx + 1) AS bin,
               CAST(count(*) AS BIGINT) AS n_b, CAST(sum(rev) AS BIGINT) AS s_b
        FROM base CROSS JOIN mx GROUP BY 1, 2),
      cum AS (
        SELECT segment, bin, n_b, s_b,
               CAST(coalesce(sum(s_b) OVER (PARTITION BY segment ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS cum_before
        FROM bins),
      agg AS (
        SELECT segment,
               CAST(sum(n_b) AS BIGINT) AS n_customers,
               CAST(sum(s_b) AS BIGINT) AS total_cents,
               sum(CAST(n_b AS HUGEINT) * (2 * CAST(cum_before AS HUGEINT) + s_b))
                 AS num_sum,
               CAST(sum(CASE WHEN bin >= 900 THEN s_b ELSE 0 END) AS BIGINT)
                 AS top_band
        FROM cum GROUP BY 1)
      SELECT segment, n_customers, total_cents,
             CAST(1000000 - (CAST(1000000 AS HUGEINT) * num_sum)
               // (CAST(n_customers AS HUGEINT) * total_cents) AS BIGINT)
               AS gini_micro,
             (1000000 * top_band) // total_cents AS top_band_share_micro
      FROM agg ORDER BY segment"""))

  // --------------------------------------------------------------- q222

  /** q222 — market-basket affinity: part pairs that co-occur in
    * orders far more than chance, scored by lift = P(x,y)/(P(x)P(y))
    * — the association-rule primitive behind "frequently bought
    * together" and, on corpora, tag/domain co-occurrence mining.
    *
    * Scale: the quadratic hazard is per-order pair fan-out, so each
    * order caps at its 50 smallest part ids before expansion (q202's
    * hot-bucket discipline, mirrored in the oracle) and pairs expand
    * from one sorted per-order array — single groupBy exchange, no
    * self-join. Single-part supports are the TRUE uncapped counts
    * (they join back onto the support-filtered pair tail, which AQE
    * broadcasts). Lift products run in DECIMAL(38,0)/HUGEINT.
    *
    * Output: top-50 by lift (support ≥ 3), exact integer micro-lift,
    * total tie-break.
    */
  val q222 = Q("q222_basket_lift",
    (s, dir) => {
      val op = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
        .localCheckpoint(false) // feeds support, the N scalar, and pairs
      val supp = op.groupBy("p").agg(count(lit(1)).as("sp"))
      val n = op.select("o").distinct().agg(count(lit(1)).as("_n"))
      // r15 opt: the 50 smallest parts per order via the bounded top-k
      // aggregate (O(k) state, map-side partial) instead of a window
      // sort + collect_list — one exchange, no per-partition sort
      val pairs = op
        .groupBy("o").agg(
          call_function("graft_top_k_longs", col("p"), lit(50)).as("ps"))
        .select(explode(call_function("graft_pairs_long", col("ps"))).as("pr"))
        .groupBy(col("pr.a").as("x"), col("pr.b").as("y"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 3)
      pairs
        .join(supp.select(col("p").as("x"), col("sp").as("sx")), Seq("x"))
        .join(supp.select(col("p").as("y"), col("sp").as("sy")), Seq("y"))
        .crossJoin(broadcast(n))
        .select(col("x"), col("y"), col("support"), col("sx"), col("sy"),
          expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * support * _n)
                 div (CAST(sx AS DECIMAL(38,0)) * sy) AS BIGINT)""").as("lift_micro"))
        .orderBy(col("lift_micro").desc, col("x"), col("y"))
        .limit(50)
    },
    Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      supp AS (SELECT p, CAST(count(*) AS BIGINT) AS sp FROM op GROUP BY 1),
      n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM op),
      cap AS (SELECT o, p FROM (
                SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) AS rn
                FROM op) WHERE rn <= 50),
      pr AS (SELECT a.p AS x, b.p AS y
             FROM cap a JOIN cap b ON a.o = b.o AND a.p < b.p),
      ps AS (SELECT x, y, CAST(count(*) AS BIGINT) AS support
             FROM pr GROUP BY 1, 2 HAVING count(*) >= 3)
      SELECT ps.x, ps.y, ps.support, sx.sp AS sx, sy.sp AS sy,
             CAST((CAST(1000000 AS HUGEINT) * ps.support * n.n)
               // (CAST(sx.sp AS HUGEINT) * sy.sp) AS BIGINT) AS lift_micro
      FROM ps
      JOIN supp sx ON ps.x = sx.p
      JOIN supp sy ON ps.y = sy.p
      CROSS JOIN n
      ORDER BY lift_micro DESC, ps.x, ps.y LIMIT 50"""))

  // --------------------------------------------------------------- q223

  /** q223 — inter-event rhythm per event type: each user's gaps
    * between consecutive same-type events, aggregated per type into
    * mean gap and the squared coefficient of variation — the
    * point-process health check (CoV² ≈ 1 reads as Poisson/memoryless
    * arrivals; ≫ 1 reads as bursty bot-or-batch traffic; ≪ 1 as
    * heartbeat/cron regularity).
    *
    * Scale: one (user, type)-keyed lag window — bounded per user —
    * then one |types| rollup with map-side partials. The Σg² sums run
    * in DECIMAL(38,0)/HUGEINT from the first row (gap² at year-scale
    * epochs overflows int64 sums long before the rollup finishes).
    * CoV² = (n·Σg² − (Σg)²)·1e6 div (Σg)², all non-negative integer
    * arithmetic; types with fewer than 2 gaps or an all-zero gap sum
    * are excluded (no variance to report).
    */
  val q223 = Q("q223_interarrival_rhythm",
    (s, dir) => {
      val wu = Window.partitionBy("user_id", "event_type")
        .orderBy(col("_sec").asc, col("event_id").asc)
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").cast("long").as("_sec"))
        .withColumn("_gap", col("_sec") - lag(col("_sec"), 1).over(wu))
        .filter(col("_gap").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          sum("_gap").as("_sg"),
          sum(expr("CAST(_gap AS DECIMAL(38,0)) * _gap")).as("_sg2"))
        .filter(col("n_gaps") >= 2 && col("_sg") > 0)
        .select(col("event_type"), col("n_gaps"),
          expr("_sg div n_gaps").as("mean_gap_sec"),
          expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) *
                 (CAST(n_gaps AS DECIMAL(38,0)) * _sg2 - CAST(_sg AS DECIMAL(38,0)) * _sg))
                 div (CAST(_sg AS DECIMAL(38,0)) * _sg) AS BIGINT)""").as("cov2_micro"))
        .orderBy("event_type")
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
                        epoch_us(ts) // 1000000 AS sec FROM events),
      g AS (SELECT event_type,
                   sec - lag(sec) OVER (PARTITION BY user_id, event_type
                                        ORDER BY sec ASC, event_id ASC) AS gap
            FROM e),
      a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
                   CAST(sum(gap) AS BIGINT) AS sg,
                   sum(CAST(gap AS HUGEINT) * gap) AS sg2
            FROM g WHERE gap IS NOT NULL GROUP BY 1)
      SELECT event_type, n_gaps, sg // n_gaps AS mean_gap_sec,
             CAST((CAST(1000000 AS HUGEINT) *
               (CAST(n_gaps AS HUGEINT) * sg2 - CAST(sg AS HUGEINT) * sg))
               // (CAST(sg AS HUGEINT) * sg) AS BIGINT) AS cov2_micro
      FROM a WHERE n_gaps >= 2 AND sg > 0
      ORDER BY event_type"""))

  // --------------------------------------------------------------- q226

  /** q226 — HyperBall: per-supplier 2-hop neighborhood size
    * (co-purchase reach over the customer↔supplier graph) estimated
    * by PROPAGATING HLL REGISTERS instead of enumerating pairs — the
    * neighborhood-function algorithm that computes ball sizes on
    * billion-edge graphs where q202's capped pair expansion (let
    * alone a self-join) is impossible. Two rounds of
    * join + groupBy(node, register).max move O(|E|·64) registers
    * total; nothing ever materializes a neighbor SET.
    *
    * Exactly gated like q214: the register table after two
    * propagation rounds is a deterministic function of the graph, so
    * the oracle recomputes every register by its own (naive) 2-hop
    * expansion and must land on the same (z, T, estimate) triple —
    * the sketch transport is verified bit-for-bit even though the
    * estimate itself is approximate. Same m=64 layout, integer
    * harmonic sum, DECIMAL(38,0) estimate, LinearCounting branch on
    * an integer condition. The spec measures estimate-vs-exact error
    * against a brute-force ball on the small graph.
    */
  val q226 = Q("q226_hyperball",
    (s, dir) => {
      val cs = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
      val init = cs.select("sp").distinct()
        .withColumn("_h", graft.functions.Hashing.hash64(
          concat(lit("hb|"), col("sp").cast("string"))))
        .withColumn("j", col("_h") % 64)
        .withColumn("rho", expr(
          "CAST(CASE WHEN _h div 64 = 0 THEN 55 ELSE 55 - length(bin(_h div 64)) END AS INT)"))
        .select("sp", "j", "rho")
      val creg = cs.join(init, Seq("sp"))
        .groupBy("c", "j").agg(max("rho").as("rho"))
      val sreg = cs.join(creg, Seq("c"))
        .groupBy("sp", "j").agg(max("rho").as("m"))
      sreg.groupBy("sp")
        .agg(count(lit(1)).as("z_registers"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - m)")).as("_tp"))
        .withColumn("t_sum",
          col("_tp") + (lit(64L) - col("z_registers")) * lit(36028797018963968L))
        .withColumn("_raw", expr(
          """CAST((CAST(709374 AS DECIMAL(38,0)) * 4096 *
             CAST(36028797018963968 AS DECIMAL(38,0)))
             div CAST(t_sum AS DECIMAL(38,0)) AS BIGINT)"""))
        .select(col("sp"), col("z_registers"), col("t_sum"),
          expr("""CASE WHEN z_registers < 64 AND _raw <= 160000000
                 THEN CAST(round(64 * ln(64.0 / (64 - z_registers)) * 1000000) AS BIGINT)
                 ELSE _raw END""").as("est_micro"))
        .orderBy("sp")
    },
    Some(s"""
      WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      ball AS (SELECT DISTINCT a.sp AS sp, b.sp AS nb
               FROM cs a JOIN cs b ON a.c = b.c),
      h AS (SELECT sp, nb,
              ${duckHash64("concat('hb|', CAST(nb AS VARCHAR))")} AS hh
            FROM ball),
      r AS (SELECT sp, hh % 64 AS j,
              CASE WHEN hh // 64 = 0 THEN 55
                   ELSE 55 - length(bin(hh // 64)) END AS rho
            FROM h),
      m AS (SELECT sp, j, max(rho) AS m FROM r GROUP BY 1, 2),
      sk AS (SELECT sp,
               CAST(count(*) AS BIGINT) AS z_registers,
               CAST(sum(CAST(1 AS BIGINT) << (55 - m)) AS BIGINT)
                 + (64 - CAST(count(*) AS BIGINT)) * 36028797018963968 AS t_sum
             FROM m GROUP BY 1),
      est AS (SELECT sp, z_registers, t_sum,
                CAST((CAST(709374 AS HUGEINT) * 4096 * 36028797018963968)
                     // t_sum AS BIGINT) AS r
              FROM sk)
      SELECT sp, z_registers, t_sum,
             CASE WHEN z_registers < 64 AND r <= 160000000
               THEN CAST(round(64 * ln(64.0 / (64 - z_registers)) * 1000000) AS BIGINT)
               ELSE r END AS est_micro
      FROM est ORDER BY sp"""))

  // --------------------------------------------------------------- q234

  /** q234 — weighted quantiles per group: the median and p90 of
    * lineitem price weighted by QUANTITY (each row counts as its
    * shipped units, not once) — the "median unit actually sold at"
    * statistic that an unweighted median misstates whenever cheap
    * items ship in bulk.
    *
    * Scale shape: prices bin to $10 cells map-side (the q218/q210
    * argument — at corpus scale you cannot sort raw values, and the
    * binned weighted CDF is how production quantiles run), then the
    * weighted CDF scan is a per-group window over ≤ |bins| rows.
    * Quantile rule: smallest bin with k·cumW ≥ q·totW — all integer,
    * both engines replay it exactly.
    */
  val q234 = Q("q234_weighted_quantiles",
    (s, dir) => {
      val grid = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT) div 1000").as("bin"),
          expr("CAST(l_quantity AS BIGINT)").as("w"))
        .groupBy("flag", "bin").agg(sum("w").as("bw"))
      val wc = Window.partitionBy("flag").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy("flag")
      grid
        .withColumn("_cum", sum("bw").over(wc))
        .withColumn("_tot", sum("bw").over(wn))
        .groupBy("flag")
        .agg(max("_tot").as("total_units"),
          min(when(lit(2) * col("_cum") >= col("_tot"), col("bin"))).as("median_bin"),
          min(when(lit(10) * col("_cum") >= lit(9) * col("_tot"), col("bin"))).as("p90_bin"))
        .select(col("flag"), col("total_units"),
          (col("median_bin") * 10).as("median_usd"),
          (col("p90_bin") * 10).as("p90_usd"))
        .orderBy("flag")
    },
    Some("""
      WITH g AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100) AS BIGINT) // 1000 AS bin,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem),
      grid AS (SELECT flag, bin, CAST(sum(w) AS BIGINT) AS bw
               FROM g GROUP BY 1, 2),
      c AS (SELECT flag, bin, bw,
                   sum(bw) OVER (PARTITION BY flag ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   sum(bw) OVER (PARTITION BY flag) AS tot
            FROM grid)
      SELECT flag, CAST(max(tot) AS BIGINT) AS total_units,
             min(CASE WHEN 2 * cum >= tot THEN bin END) * 10 AS median_usd,
             min(CASE WHEN 10 * cum >= 9 * tot THEN bin END) * 10 AS p90_usd
      FROM c GROUP BY flag ORDER BY flag"""))

  // --------------------------------------------------------------- q295

  /** q295 — personalized PageRank (random walk with restart) on the
    * co-purchase part graph (q163's edge set): 3 power iterations
    * with restart mass 0.15 concentrated on a SEED set (every 97th
    * part) instead of q110's uniform vector — the "more like these"
    * graph-expansion primitive behind related-item feeds and
    * seed-based corpus expansion.
    *
    * All arithmetic is pico-fixed-point integer (restart base and
    * per-edge contributions use truncating DIV on non-negative
    * operands, identical in both engines), so every rank vector is
    * exact and partition-order independent — the oracle unrolls the
    * same 3 sparse matrix-vector products. Per iteration: one
    * rank⋈edges equi-join + one grouped sum; the seed table and
    * degree rollup ride broadcasts. Top-20 by TakeOrdered.
    */
  val q295 = Q("q295_ppr",
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
      val edges = pairs.select(col("pa").as("src"), col("pb").as("dst"))
        .unionByName(pairs.select(col("pb").as("src"), col("pa").as("dst")))
        .localCheckpoint(false) // deg + 3 iteration joins
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .localCheckpoint(false)
      val seeds = deg.select(col("src").as("v"))
        .filter(pmod(col("v"), lit(97)) === 0)
      val base = seeds.groupBy().agg(count(lit(1)).as("ns"))
        .select(col("ns"),
          expr("(15 * (1000000000000 DIV ns)) DIV 100").as("restart"),
          expr("1000000000000 DIV ns").as("r0"))
      var ranks = seeds.crossJoin(broadcast(base))
        .select(col("v"), col("r0").as("r"))
        .localCheckpoint(false)
      for (_ <- 1 to 3) {
        val contrib = ranks
          .join(edges, col("v") === col("src"))
          .join(broadcast(deg), Seq("src"))
          .select(col("dst"), expr("r DIV deg").as("c"))
          .groupBy("dst").agg(sum("c").as("inflow"))
        ranks = contrib
          .join(seeds.withColumn("is_seed", lit(1L)),
            col("dst") === col("v"), "full_outer")
          .crossJoin(broadcast(base))
          .select(coalesce(col("dst"), col("v")).as("v"),
            (when(col("is_seed") === 1L, col("restart")).otherwise(0L)
              + expr("(85 * coalesce(inflow, 0)) DIV 100")).as("r"))
          .localCheckpoint(false)
      }
      ranks
        .orderBy(desc("r"), col("v"))
        .limit(20)
        .select(col("v").as("p_partkey"), col("r").as("ppr_pico"))
    },
    Some("""
      WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      p0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
             FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
                              AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2 HAVING count(*) >= 2),
      e AS (SELECT pa AS src, pb AS dst FROM p0
            UNION ALL SELECT pb, pa FROM p0),
      d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      seeds AS (SELECT src AS v FROM d WHERE src % 97 = 0),
      base AS (SELECT CAST(count(*) AS BIGINT) AS ns,
                      (15 * (1000000000000 // count(*))) // 100 AS restart,
                      1000000000000 // count(*) AS r0
               FROM seeds),
      r1s AS (SELECT e.dst, CAST(sum((SELECT r0 FROM base) // d.deg) AS BIGINT) AS inflow
              FROM seeds JOIN e ON seeds.v = e.src JOIN d ON e.src = d.src
              GROUP BY e.dst),
      r1 AS (SELECT coalesce(r1s.dst, seeds.v) AS v,
                    CASE WHEN seeds.v IS NOT NULL THEN (SELECT restart FROM base)
                         ELSE 0 END
                    + (85 * coalesce(inflow, 0)) // 100 AS r
             FROM r1s FULL OUTER JOIN seeds ON r1s.dst = seeds.v),
      r2s AS (SELECT e.dst, CAST(sum(r1.r // d.deg) AS BIGINT) AS inflow
              FROM r1 JOIN e ON r1.v = e.src JOIN d ON e.src = d.src
              GROUP BY e.dst),
      r2 AS (SELECT coalesce(r2s.dst, seeds.v) AS v,
                    CASE WHEN seeds.v IS NOT NULL THEN (SELECT restart FROM base)
                         ELSE 0 END
                    + (85 * coalesce(inflow, 0)) // 100 AS r
             FROM r2s FULL OUTER JOIN seeds ON r2s.dst = seeds.v),
      r3s AS (SELECT e.dst, CAST(sum(r2.r // d.deg) AS BIGINT) AS inflow
              FROM r2 JOIN e ON r2.v = e.src JOIN d ON e.src = d.src
              GROUP BY e.dst),
      r3 AS (SELECT coalesce(r3s.dst, seeds.v) AS v,
                    CASE WHEN seeds.v IS NOT NULL THEN (SELECT restart FROM base)
                         ELSE 0 END
                    + (85 * coalesce(inflow, 0)) // 100 AS r
             FROM r3s FULL OUTER JOIN seeds ON r3s.dst = seeds.v)
      SELECT v AS p_partkey, r AS ppr_pico
      FROM r3 ORDER BY r DESC, v LIMIT 20"""))

  // --------------------------------------------------------------- q306

  /** q306 — sampled-source Brandes betweenness (6-hop horizon) on the
    * co-purchase part graph: exact shortest-path counts σ by 6
    * unrolled BFS levels from the q295 seed set, then the backward
    * dependency accumulation δ(v) = Σ_{w∈succ(v)} σ_v·(1+δ_w)/σ_w —
    * the bridge-detection centrality (who sits BETWEEN communities)
    * that degree/PageRank measures miss entirely. Sampling sources is
    * THE standard scale answer (Brandes-Pich): per-source cost is a
    * BFS, so the fleet picks k sources, not O(V) of them.
    *
    * Exactness: σ is an exact integer (level-frontier sums with
    * anti-join dedup); δ rides nano-scaled longs with truncating
    * integer division per EDGE term (operands non-negative, so DIV
    * and // agree — the division order is part of the statistic's
    * definition, spelled identically in both engines); DECIMAL/
    * HUGEINT guards the σ·(1e9+δ) products. Both directions are
    * fixed 6-step unrolls — no data-dependent driver decisions.
    */
  val q306 = Q("q306_betweenness",
    (s, dir) => {
      val items = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val p0 = items.groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_partkey"))).as("ids"))
        .filter(size(col("ids")) >= 2)
        // compiled pair kernel instead of the interpreted HOF chain
        .select(explode(call_function("graft_pairs_long", col("ids"))).as("p"))
        .groupBy(col("p.a").as("pa"), col("p.b").as("pb"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
      // 12 traversal joins on src — pre-partitioned+sorted checkpoint
      // (r15 opt) so only the per-level frontier frames move per round
      val edges = org.apache.spark.sql.graft.GraftSqlBridge.localCheckpointByKey(
        p0.select(col("pa").as("src"), col("pb").as("dst"))
          .unionByName(p0.select(col("pb").as("src"), col("pa").as("dst"))),
        Seq("src"))
      val seeds = edges.select(col("src").as("v")).distinct()
        .filter(pmod(col("v"), lit(97)) === 0)
      // forward: exact shortest-path counts per (source, node, level)
      var levels = List(seeds.select(col("v").as("s"), col("v"), lit(1L).as("sigma"))
        .localCheckpoint(false))
      var visited = levels.head.select("s", "v").localCheckpoint(false)
      for (_ <- 1 to 6) {
        val nxt = levels.head.join(edges, col("v") === col("src"))
          .select(col("s"), col("dst").as("v"), col("sigma"))
          .join(visited, Seq("s", "v"), "left_anti")
          .groupBy("s", "v").agg(sum("sigma").as("sigma"))
          .localCheckpoint(false)
        levels = nxt :: levels
        visited = visited.union(nxt.select("s", "v")).localCheckpoint(false)
      }
      // backward: dependency accumulation from the deepest level
      val fwd = levels.reverse.toIndexedSeq // (level 0 .. 6)
      var deltas = List(fwd(6).withColumn("dw", lit(0L)))
      for (l <- 5 to 0 by -1) {
        val nxtLvl = deltas.head.select(col("s"), col("v").as("_w"),
          col("sigma").as("sw"), col("dw"))
        val lvl = fwd(l)
        val dl = lvl
          .join(edges, col("v") === col("src"), "left")
          .join(nxtLvl, lvl("s") === nxtLvl("s") && col("dst") === col("_w"), "left")
          .select(lvl("s").as("s"), col("v"), col("sigma"),
            expr("""CAST(CAST(sigma AS DECIMAL(38,0)) * (1000000000 + dw)
                    div sw AS BIGINT)""").as("term"))
          .groupBy("s", "v", "sigma")
          .agg(coalesce(sum("term"), lit(0L)).as("dw"))
          .localCheckpoint(false)
        deltas = dl :: deltas
      }
      // betweenness contribution: levels 1..5 (sources excluded, the
      // horizon level carries dw = 0 by construction)
      deltas.drop(1).dropRight(1).map(_.select(col("v"), col("dw")))
        .reduce(_ unionByName _)
        .groupBy("v").agg(sum("dw").as("bc_nano"))
        .orderBy(desc("bc_nano"), col("v"))
        .limit(20)
        .select(col("v").as("p_partkey"), col("bc_nano"),
          round(col("bc_nano").cast("double") / 1e9, 6).as("betweenness"))
    },
    Some {
      val fwd = (1 to 6).map { l =>
        s"""
      f$l AS MATERIALIZED (SELECT f${l - 1}.s, e.dst AS v, CAST(sum(f${l - 1}.sigma) AS BIGINT) AS sigma
              FROM f${l - 1} JOIN e ON f${l - 1}.v = e.src
              WHERE NOT EXISTS (SELECT 1 FROM v${l - 1} p
                                WHERE p.s = f${l - 1}.s AND p.v = e.dst)
              GROUP BY 1, 2),
      v$l AS MATERIALIZED (SELECT s, v FROM v${l - 1} UNION ALL SELECT s, v FROM f$l)"""
      }.mkString(",")
      val bwd = (5 to 0 by -1).map { l =>
        s"""
      b$l AS MATERIALIZED (SELECT f$l.s, f$l.v, f$l.sigma,
                CAST(coalesce(sum(CAST(CAST(f$l.sigma AS HUGEINT)
                       * (1000000000 + b${l + 1}.dw) // b${l + 1}.sigma AS BIGINT)), 0)
                     AS BIGINT) AS dw
              FROM f$l LEFT JOIN e ON f$l.v = e.src
                       LEFT JOIN b${l + 1} ON b${l + 1}.s = f$l.s
                                          AND b${l + 1}.v = e.dst
              GROUP BY 1, 2, 3)"""
      }.mkString(",")
      val uni = (1 to 5).map(l => s"SELECT v, dw FROM b$l").mkString("\n             UNION ALL ")
      s"""
      WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      p0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
             FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
                              AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2 HAVING count(*) >= 2),
      e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM p0
            UNION ALL SELECT pb, pa FROM p0),
      f0 AS MATERIALIZED (SELECT DISTINCT src AS s, src AS v, CAST(1 AS BIGINT) AS sigma
             FROM e WHERE src % 97 = 0),
      v0 AS MATERIALIZED (SELECT s, v FROM f0),$fwd,
      b6 AS (SELECT s, v, sigma, CAST(0 AS BIGINT) AS dw FROM f6),$bwd,
      bc AS (SELECT v, CAST(sum(dw) AS BIGINT) AS bc_nano
             FROM ($uni)
             GROUP BY v)
      SELECT v AS p_partkey, bc_nano,
             round(CAST(bc_nano AS DOUBLE) / 1e9, 6) AS betweenness
      FROM bc ORDER BY bc_nano DESC, v LIMIT 20"""
    })

  // --------------------------------------------------------------- q308

  /** q308 — Borůvka minimum spanning tree of the inter-nation trade
    * graph: nodes are the 25 nations, an edge's weight is inverse
    * trade volume (heavier trade = shorter distance), and the MST is
    * the cheapest backbone connecting every nation — the classic
    * network-design / single-linkage-clustering primitive. Borůvka is
    * THE distributed MST algorithm (GraphX/Pregel lineage): every
    * component picks its minimum outgoing edge simultaneously, so
    * components at least halve per round and O(log V) rounds suffice
    * at any scale — unlike Prim/Kruskal, whose sequential edge picks
    * cannot fan out.
    *
    * Uniqueness/exactness: weights are packed longs
    * `(1e9 - cnt)*1000 + a*30 + b` — strictly distinct per pair, so
    * the MST is unique and the oracle may compute it with a DIFFERENT
    * algorithm (24 unrolled Prim cut-picks over a LIST-carried
    * visited set, every CTE MATERIALIZED per the q306 rule). A
    * consecutive-nation sentinel ring at weight 2e12+i guarantees
    * connectivity on any draw of the data, so both sides always span
    * all 25 nodes. The loop is the generic
    * [[graft.operators.GraphOps.boruvkaMst]] (spec-pinned ≡ Kruskal):
    * per-round min-edge pick + alternating-star component merge,
    * self-terminating when no cross-component edges remain; Bench
    * measures its rounds-vs-|V| scaling empirically
    * (boruvka_scale_* extras).
    */
  val q308 = Q("q308_boruvka_mst",
    (s, dir) => {
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("cn"))
      val supp = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").as("sn"))
      val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val trade = li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .filter(col("cn") =!= col("sn"))
        .select(least(col("cn"), col("sn")).as("a"), greatest(col("cn"), col("sn")).as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
        .select(col("a"), col("b"),
          expr("(1000000000 - cnt) * 1000 + a * 30 + b").as("w"))
      val nat = Tables.load(s, dir, "nation").select(col("n_nationkey"))
      val ring = nat.select(col("n_nationkey").as("a"))
        .join(nat.select(col("n_nationkey").as("b")), col("b") === col("a") + 1)
        .select(col("a"), col("b"),
          expr("CAST(2000000000 AS BIGINT) * 1000 + a * 30 + b").as("w"))
      val edges = trade.unionByName(ring)
        .groupBy("a", "b").agg(min("w").as("w"))
      // the generic quiesce-detecting loop (GraphOps.boruvkaMst) — the
      // sentinel ring guarantees connectivity, so the result spans all
      // 25 nations; rounds self-terminate (≤ ⌈log₂ 25⌉ merge rounds)
      GraphOps.boruvkaMst(edges, "a", "b", "w")
        .orderBy("w")
        .select(col("a").as("n_a"), col("b").as("n_b"), col("w").as("w_packed"))
    },
    Some {
      val steps = (1 to 24).map { k =>
        s"""
      p$k AS MATERIALIZED (SELECT e.a, e.b, e.w FROM e, s${k - 1}
             WHERE list_contains(s${k - 1}.vis, e.a) <> list_contains(s${k - 1}.vis, e.b)
             ORDER BY e.w LIMIT 1),
      s$k AS MATERIALIZED (SELECT list_append(s${k - 1}.vis,
               CASE WHEN list_contains(s${k - 1}.vis, p$k.a) THEN p$k.b ELSE p$k.a END) AS vis
             FROM s${k - 1}, p$k)"""
      }.mkString(",")
      val uni = (1 to 24).map(k => s"SELECT a, b, w FROM p$k").mkString("\n             UNION ALL ")
      s"""
      WITH tr AS (SELECT least(c.c_nationkey, s.s_nationkey) AS a,
                         greatest(c.c_nationkey, s.s_nationkey) AS b,
                         CAST(count(*) AS BIGINT) AS cnt
                  FROM lineitem l
                       JOIN orders o ON l.l_orderkey = o.o_orderkey
                       JOIN customer c ON o.o_custkey = c.c_custkey
                       JOIN supplier s ON l.l_suppkey = s.s_suppkey
                  WHERE c.c_nationkey <> s.s_nationkey
                  GROUP BY 1, 2),
      ring AS (SELECT n1.n_nationkey AS a, n2.n_nationkey AS b,
                      CAST(2000000000 AS BIGINT) * 1000
                        + n1.n_nationkey * 30 + n2.n_nationkey AS w
               FROM nation n1 JOIN nation n2 ON n2.n_nationkey = n1.n_nationkey + 1),
      e AS MATERIALIZED (SELECT a, b, CAST(min(w) AS BIGINT) AS w
           FROM (SELECT a, b, (1000000000 - cnt) * 1000 + a * 30 + b AS w FROM tr
                 UNION ALL SELECT a, b, w FROM ring)
           GROUP BY 1, 2),
      s0 AS MATERIALIZED (SELECT [CAST(0 AS INTEGER)] AS vis),$steps
      SELECT a AS n_a, b AS n_b, w AS w_packed
      FROM ($uni)
      ORDER BY w_packed"""
    })

  // --------------------------------------------------------------- q376

  /** q376 — Kolmogorov–Smirnov two-sample test WITH significance, on
    * the scale path: the unbounded-axis companion to q125. q125's KS
    * distance windows its cumulative over a provably BOUNDED value
    * table (quality scores quantized into [0,1]); here the axis is raw
    * n_chars — unbounded cardinality in general — so the cumulative
    * must not ride a partition-less window at all. Per distinct x, the
    * signed step c₁·n₂ − c₂·n₁ accumulates in x-order through
    * [[graft.operators.Relational.orderedPrefixSum]] (two-phase carry:
    * per-partition partials → one Long each to the driver → exclusive
    * offsets broadcast back — q373's operator), and D_num = max |cum|
    * with D = D_num/(n₁·n₂) exact. What q125 doesn't report at all:
    * the asymptotic p-value (Kolmogorov series, 100 terms), following
    * the house float discipline — λ from IEEE-exact sqrt/mul/div with
    * identical expression text both engines, each series term
    * exp(−2k²λ²) quantized to 1e9 integers BEFORE the signed sum.
    *
    * Scale shape: the only corpus-sized shuffle is the groupBy on
    * distinct x (map-side combined); everything after runs on the
    * distinct-value relation, orders of magnitude smaller.
    */
  val q376 = Q("q376_ks_two_sample",
    (s, dir) => {
      val g = Tables.load(s, dir, "documents")
        .selectExpr("CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g",
          "n_chars AS x")
      val counts = g.groupBy("x")
        .agg(sum("g").as("c1"), sum(expr("1 - g")).as("c2"))
      val tot = g.agg(sum("g").as("n1"), sum(expr("1 - g")).as("n2"))
      val delta = counts.crossJoin(broadcast(tot))
        // the integer-exact cross-products need n1·n2 < 2^63 (both
        // samples ≲ 3.0e9 when balanced); beyond that the fix is the
        // DECIMAL(38,0) recipe, but the carry operator sums Longs — so
        // fail LOUDLY instead of wrapping silently (assert_true raises
        // at run time; it returns NULL on pass, hence the IS NULL filter)
        .filter(expr(
          """assert_true(n1 >= 1 AND n2 >= 1
            | AND n1 <= 9223372036854775807 div greatest(n2, 1),
            | 'q376: empty sample or n1*n2 exceeds int64 - the KS statistic
            | needs both samples non-empty and their product in range')"""
            .stripMargin).isNull)
        .selectExpr("x", "c1 * n2 - c2 * n1 AS delta", "n1", "n2")
      val cum = graft.operators.Relational
        .orderedPrefixSum(delta, "delta", "cum", col("x"))
      cum.groupBy("n1", "n2").agg(max(abs(col("cum"))).as("d_num"))
        .withColumn("lam", expr(
          """(sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
            | / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) + 0.12
            | + 0.11 / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
            | / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
            | * (CAST(d_num AS DOUBLE)
            | / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))""".stripMargin))
        .withColumn("k", explode(expr("sequence(1, 100)")))
        .withColumn("tq", expr(
          "CAST(round(exp(-2.0 * k * k * lam * lam) * 1000000000.0) AS BIGINT)"))
        .groupBy("n1", "n2", "d_num", "lam")
        .agg(sum(expr("CASE WHEN k % 2 = 1 THEN tq ELSE -tq END")).as("sq"))
        .selectExpr("n1", "n2", "d_num",
          """round(CAST(d_num AS DOUBLE)
            | / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS d_stat"""
            .stripMargin,
          "round(lam, 6) AS lambda_stat",
          """round(least(1.0, greatest(0.0,
            | 2.0 * CAST(sq AS DOUBLE) / 1000000000.0)), 6) AS p_value"""
            .stripMargin)
        .orderBy("n1")
    },
    Some("""
      WITH d AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g,
                        n_chars AS x FROM documents),
      c AS (SELECT x, CAST(SUM(g) AS BIGINT) AS c1,
                   CAST(SUM(1 - g) AS BIGINT) AS c2 FROM d GROUP BY x),
      t AS (SELECT CAST(SUM(g) AS BIGINT) AS n1,
                   CAST(SUM(1 - g) AS BIGINT) AS n2 FROM d),
      cum AS (SELECT x, n1, n2,
                     CAST(sum(c1 * n2 - c2 * n1) OVER (ORDER BY x) AS BIGINT) AS cum
              FROM c CROSS JOIN t),
      m AS (SELECT max(n1) AS n1, max(n2) AS n2,
                   CAST(max(abs(cum)) AS BIGINT) AS d_num FROM cum),
      l AS (SELECT *,
              (sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) + 0.12
                + 0.11 / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
                * (CAST(d_num AS DOUBLE)
                / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS lam
            FROM m),
      s AS (SELECT n1, n2, d_num, lam,
                   CAST(SUM(CASE WHEN k % 2 = 1 THEN tq ELSE -tq END) AS BIGINT) AS sq
            FROM (SELECT l.*, r.k,
                         CAST(round(exp(-2.0 * k * k * lam * lam)
                           * 1000000000.0) AS BIGINT) AS tq
                  FROM l, (SELECT range AS k FROM range(1, 101)) r)
            GROUP BY 1, 2, 3, 4)
      SELECT n1, n2, d_num,
             round(CAST(d_num AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS d_stat,
             round(lam, 6) AS lambda_stat,
             round(least(1.0, greatest(0.0,
               2.0 * CAST(sq AS DOUBLE) / 1000000000.0)), 6) AS p_value
      FROM s ORDER BY n1"""))

  val all: Seq[Q] = Seq(q107, q108, q109, q110, q111, q112, q113, q115, q116, q117,
    q123, q124, q125, q190, q191, q192, q198, q199, q202, q203, q207, q209, q210,
    q211, q214, q216, q217, q218, q222, q223, q226, q234, q295, q306, q308, q376)
}
