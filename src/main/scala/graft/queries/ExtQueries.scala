package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.{Dedup, GraphOps, Similarity}
import graft.queries.Q.duckHash64

/** Round-4 batch — graph label-doubling, exact set-similarity join,
  * regression / χ² / skyline / PMI statistics, and CDC apply:
  *
  *  - q126: connected components via alternating large-star/small-star
  *    (O(log n) rounds — the web-scale replacement for q58's
  *    O(diameter) min-label propagation, same output contract).
  *  - q127: per-group OLS regression assembled from exact integer /
  *    decimal moments (the q69 recipe extended to slope/intercept/r²).
  *  - q128: EXACT Jaccard set-similarity join via prefix filtering
  *    (PPJoin-style) — the deterministic complement to q36's
  *    probabilistic LSH: no false negatives at any scale.
  *  - q129: two-cohort χ² homogeneity test over a categorical column.
  *  - q130: 2-D Pareto frontier (skyline) with the two-level banded
  *    prefix-max — no single-partition global window.
  *  - q131: PMI collocation mining (top bigrams by pointwise mutual
  *    information), the classic phrase-discovery signal.
  *  - q132: CDC apply / MERGE INTO — upserts, deletes, and inserts
  *    folded into a snapshot in one keyed reduction.
  *
  * Determinism policy as elsewhere: exact integer/decimal accumulation
  * for every multi-row sum, per-row double expressions shared verbatim
  * with the oracle, fixed-point rounding before any cross-row double
  * fold, total ORDER BY on each output.
  */
object ExtQueries {

  private val duckTokens = "string_split_regex(trim(text), '\\s+')"

  // --------------------------------------------------------------- q126

  /** q126 — near-dup clustering by alternating large-star/small-star
    * connected components over the same LSH candidate pairs as q58.
    * Same labels, different asymptotics: min-label propagation (q58)
    * needs O(diameter) rounds — fine for shallow near-dup families,
    * fatal for quote chains and mirror cascades — while the
    * alternating algorithm contracts depth multiplicatively and
    * converges in O(log n) rounds on ANY topology (see
    * GraphOps.connectedComponentsAlternating; the deep-chain spec
    * shows a graph where q58's default round budget throws and this
    * converges in 4). The oracle is the q58 recursive CTE — both
    * algorithms must land on identical cluster labels.
    */
  val q126 = Q("q126_cc_alternating",
    (s, dir) => {
      val pairs = Dedup.minhashLshPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 2, k = 12, rowsPerBand = 2, threshold = 0.2)
      GraphOps.connectedComponentsAlternating(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE ${DataQueries.duckMinhashPairCtes},
      pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.2),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach(id, r) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)
      SELECT id AS doc_id, least(id, min(r)) AS cluster_id
      FROM reach GROUP BY id ORDER BY doc_id"""))

  // --------------------------------------------------------------- q127

  /** q127 — per-group ordinary least squares (price ~ quantity per
    * return flag): slope, intercept and r² assembled from six
    * decomposable moments, the q69 discipline extended to the full
    * regression family. Built-in regr_slope-style aggregates fold
    * doubles in partition order (answer depends on partition count);
    * here every moment is an exact integer/decimal sum — quantity is
    * integral, price becomes floor-cents, squared terms ride
    * DECIMAL(38,0) because Σy² at 100 TB row counts overflows a long —
    * and the final assembly is one per-row double expression replayed
    * verbatim by the oracle. One shuffle on a 3-value key.
    */
  val q127 = Q("q127_ols_regression",
    (s, dir) => {
      val b = Tables.load(s, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        col("l_quantity").cast("long").as("x"),
        floor(col("l_extendedprice") * 100).cast("long").as("y"))
      val m = b.groupBy("g").agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum((col("x") * col("y")).cast(DecimalType(38, 0))).as("sxy"),
        sum((col("y") * col("y")).cast(DecimalType(38, 0))).as("syy"))
      val nd = col("n").cast("double"); val sxd = col("sx").cast("double")
      val syd = col("sy").cast("double"); val sxxd = col("sxx").cast("double")
      val sxyd = col("sxy").cast("double"); val syyd = col("syy").cast("double")
      val covn = nd * sxyd - sxd * syd   // n·Σxy − Σx·Σy
      val varx = nd * sxxd - sxd * sxd   // n·Σx² − (Σx)²
      val vary = nd * syyd - syd * syd
      m.select(col("g").as("l_returnflag"), col("n"),
          round(covn / varx / 100.0, 6).as("slope"),
          round((syd - covn / varx * sxd) / nd / 100.0, 6).as("intercept"),
          round(covn * covn / (varx * vary), 6).as("r2"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH b AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
                        CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
                 FROM lineitem),
      m AS (SELECT g, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x*x) AS sxx,
                   sum(CAST(x*y AS DECIMAL(38,0))) AS sxy,
                   sum(CAST(y*y AS DECIMAL(38,0))) AS syy
            FROM b GROUP BY g),
      d AS (SELECT g, n,
                   CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
                   CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
                   CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
            FROM m)
      SELECT g AS l_returnflag, n,
             round((nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd) / 100.0, 6) AS slope,
             round((syd - (nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd) * sxd) / nd / 100.0, 6)
               AS intercept,
             round((nd*sxyd - sxd*syd) * (nd*sxyd - sxd*syd)
                   / ((nd*sxxd - sxd*sxd) * (nd*syyd - syd*syd)), 6) AS r2
      FROM d ORDER BY l_returnflag"""))

  // --------------------------------------------------------------- q128

  /** q128 — exact set-similarity join (Jaccard ≥ 0.6 over distinct
    * word-trigram shingle-hash sets) via prefix filtering, the PPJoin family
    * (Xiao et al., WWW'08): order every document's tokens by global
    * rarity (document frequency, then hash — a total order), keep only
    * the first |s| − ⌈t·|s|⌉ + 1 rarest tokens as the "prefix", and
    * generate candidates from shared prefix tokens only. Any pair with
    * J ≥ t is guaranteed to share a prefix token, so unlike LSH (q36)
    * there are NO false negatives — this is the exact join at scale.
    * Candidates are verified with the native intersect-count kernel and
    * an integer-exact threshold test (10·|∩| ≥ 6·|∪| — no float
    * boundary hazard).
    *
    * Scale shape: token-frequency table is one linear agg; prefixes
    * shrink the candidate key stream to the rare end of the vocabulary
    * (stop words never generate candidates unless a document consists
    * of nothing else); pair generation reuses Dedup.bucketPairs'
    * in-bucket enumeration (no self-join recompute). The prefix length
    * is computed in pure integer arithmetic so the same document gets
    * the same prefix on every engine and partition layout.
    */
  val q128 = Q("q128_setsim_join",
    (s, dir) => {
      // conf-widened hash space (Dedup.ShingleBitsKey): exact set
      // similarity is exactly where 31-bit collisions at >10M grams
      // show up as phantom intersections; the committed oracle replays
      // the 31-bit default, non-default widths are ShingleWidthSpec's
      // r16: fan the (unsplittable single-file) scan before the
      // shingle-hash kernel — the whole tokenize+hash pass otherwise
      // fuses into a one-task scan stage; no-op on multi-split sources
      val docs = graft.operators.ScaleOps.fanIfNarrow(
          Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"),
          sort_array(Dedup.shingleHashesWide(s, col("text"), 3)).as("hs"))
      graft.operators.SetSimJoin.pairs(s, docs, 6, 10).orderBy("id_a", "id_b")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      sh AS (SELECT doc_id,
               CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                    ELSE list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
               END AS g
             FROM t),
      hh AS (SELECT doc_id,
               list_distinct(list_transform(list_distinct(g),
                 x -> ${duckHash64("x")} & ${Dedup.MinhashP})) AS hs
             FROM sh),
      e AS (SELECT doc_id, unnest(hs) AS h FROM hh),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id),
      j AS (SELECT id_a, id_b,
              len(list_intersect(x.hs, y.hs)) AS it,
              len(x.hs) AS sa, len(y.hs) AS sb
            FROM cand JOIN hh x ON id_a = x.doc_id JOIN hh y ON id_b = y.doc_id)
      SELECT id_a, id_b,
             round(CAST(it AS DOUBLE) / (sa + sb - it), 6) AS jaccard
      FROM j WHERE 10 * it >= 6 * (sa + sb - it)
      ORDER BY id_a, id_b"""))

  // --------------------------------------------------------------- q129

  /** q129 — χ² homogeneity test: do two user cohorts draw their events
    * from the same event-type distribution? The categorical drift gate
    * that complements q111's PSI (binned continuous) and q125's KS
    * (continuous CDF). Cell counts are exact integers from one linear
    * shuffle; every remaining relation is bounded by
    * |cohorts|×|categories|, so marginals ride broadcast joins. Cell
    * terms (o−e)²/e quantize to 1e-9 fixed-point longs before the
    * cross-cell sum — the χ² statistic is partition-order independent.
    */
  val q129 = Q("q129_chi2_homogeneity",
    (s, dir) => {
      val cells = Tables.load(s, dir, "events")
        .select(when(pmod(col("user_id"), lit(2)) === 0, "a").otherwise("b").as("cohort"),
          col("event_type"))
        .groupBy("cohort", "event_type").agg(count(lit(1)).as("c"))
      val rowT = cells.groupBy("cohort").agg(sum("c").as("rt"))
      val colT = cells.groupBy("event_type").agg(sum("c").as("ct"))
      val tot = cells.groupBy().agg(sum("c").as("nn"))
      val dof = rowT.groupBy().agg(count(lit(1)).as("_r"))
        .crossJoin(broadcast(colT.groupBy().agg(count(lit(1)).as("_k"))))
        .select(((col("_r") - 1) * (col("_k") - 1)).as("dof"))
      val e = (col("rt") * col("ct")).cast("double") / col("nn")
      val term = (col("c") - e) * (col("c") - e) / e
      cells.join(broadcast(rowT), "cohort")
        .join(broadcast(colT), "event_type")
        .crossJoin(broadcast(tot))
        .agg(sum(round(term * 1e9).cast("long")).as("_s"), max(col("nn")).as("n"))
        .crossJoin(broadcast(dof))
        .select(round(col("_s").cast("double") / 1e9, 6).as("chi2"),
          col("dof"), col("n"))
    },
    Some("""
      WITH cells AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS cohort,
                            event_type, count(*) AS c
                     FROM events GROUP BY 1, 2),
      rt AS (SELECT cohort, sum(c) AS rt FROM cells GROUP BY cohort),
      ct AS (SELECT event_type, sum(c) AS ct FROM cells GROUP BY event_type),
      tot AS (SELECT sum(c) AS nn FROM cells),
      dof AS (SELECT (count(DISTINCT cohort) - 1) * (count(DISTINCT event_type) - 1) AS dof
              FROM cells),
      terms AS (SELECT CAST(round(
                  (c - CAST(rt.rt * ct.ct AS DOUBLE) / nn)
                  * (c - CAST(rt.rt * ct.ct AS DOUBLE) / nn)
                  / (CAST(rt.rt * ct.ct AS DOUBLE) / nn) * 1e9) AS BIGINT) AS q,
                  nn
                FROM cells JOIN rt USING (cohort) JOIN ct USING (event_type)
                CROSS JOIN tot)
      SELECT round(CAST(sum(q) AS DOUBLE) / 1e9, 6) AS chi2,
             (SELECT dof FROM dof) AS dof,
             CAST(max(nn) AS BIGINT) AS n
      FROM terms"""))

  // --------------------------------------------------------------- q130

  /** q130 — 2-D Pareto frontier (skyline): the parts no other part
    * beats on BOTH price (lower better) and size (higher better) —
    * the multi-objective shortlist query (cheapest-per-capability,
    * best-quality-per-cost corpus picks). Naive skyline is an
    * all-pairs dominance anti-join; the sort-based form needs a
    * running "best size so far" over ALL smaller prices — a global
    * window, i.e. one partition. Here the global prefix-max splits
    * into two levels (the q84 recipe): per-price reduction, then a
    * 64-band banded running max (bands partition the window; the
    * 64-row band-max table's own prefix scan is trivially small and
    * broadcast back). Keep a price point iff its best size strictly
    * beats everything cheaper.
    */
  val q130 = Q("q130_skyline",
    (s, dir) => {
      val g = Tables.load(s, dir, "part")
        .groupBy(col("p_retailprice").as("price"))
        .agg(max("p_size").as("p_size"))
      val mm = g.groupBy().agg(min("price").as("_mn"), max("price").as("_mx"))
      val banded = g.crossJoin(broadcast(mm))
        .withColumn("_band",
          when(col("_mx") > col("_mn"),
            least(lit(63), floor((col("price") - col("_mn"))
              / ((col("_mx") - col("_mn")) / 64)).cast("int")))
            .otherwise(0))
      val wIn = Window.partitionBy("_band").orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bandMax = banded.groupBy("_band").agg(max("p_size").as("_bmax"))
      val wB = Window.orderBy("_band").rowsBetween(Window.unboundedPreceding, -1)
      val prefix = bandMax.select(col("_band"), max("_bmax").over(wB).as("_pmax"))
      banded
        .withColumn("_runmax", max("p_size").over(wIn))
        .join(broadcast(prefix), Seq("_band"))
        .filter(coalesce(col("p_size") > greatest(col("_runmax"), col("_pmax")), lit(true)))
        .select(col("price"), col("p_size"))
        .orderBy("price")
    },
    Some("""
      WITH g AS (SELECT p_retailprice AS price, max(p_size) AS p_size
                 FROM part GROUP BY 1)
      SELECT price, p_size FROM g a
      WHERE NOT EXISTS (
        SELECT 1 FROM g b
        WHERE b.price <= a.price AND b.p_size >= a.p_size
          AND (b.price < a.price OR b.p_size > a.p_size))
      ORDER BY price"""))

  // --------------------------------------------------------------- q131

  /** q131 — PMI collocation mining: the top word bigrams by pointwise
    * mutual information ln(p(x,y)/(p(x)p(y))) with a minimum-count
    * support floor — the classic phrase/compound discovery signal
    * (tokenizer merge seeding, stop-phrase lists, NER gazetteers).
    * Unigram and bigram counts are two linear aggregations; the PMI
    * assembles per-row from five exact integers in LOG space (the
    * integer product c_xy·N² overflows a long at corpus scale, a sum
    * of lns never does), totals ride a one-row broadcast, and the
    * result is a TakeOrdered top-20 on the 6-dp-rounded score with a
    * full lexicographic tiebreak.
    */
  val q131 = Q("q131_pmi_bigrams",
    (s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      val uni = toks.select(explode(col("w")).as("x"))
        .groupBy("x").agg(count(lit(1)).as("cx"))
      val big = toks.filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS x, w[i + 1] AS y))")).as("p"))
        .select(col("p.x").as("x"), col("p.y").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
        .filter(col("cxy") >= 5)
      val tot = uni.groupBy().agg(sum("cx").as("nn"))
        .crossJoin(broadcast(big.groupBy().agg(sum("cxy").as("mm"))))
      big
        .join(uni.select(col("x"), col("cx")), "x")
        .join(uni.select(col("x").as("y"), col("cx").as("cy")), "y")
        .crossJoin(broadcast(tot))
        .select(col("x"), col("y"), col("cxy"),
          round(log(col("cxy").cast("double")) + lit(2.0) * log(col("nn").cast("double"))
            - log(col("mm").cast("double")) - log(col("cx").cast("double"))
            - log(col("cy").cast("double")), 6).as("pmi"))
        .orderBy(desc("pmi"), col("x"), col("y"))
        .limit(20)
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      uni AS (SELECT unnest(w) AS x FROM t),
      uc AS (SELECT x, count(*) AS cx FROM uni GROUP BY x),
      bi AS (SELECT unnest(range(1, len(w))) AS i, w FROM t WHERE len(w) >= 2),
      b AS (SELECT w[i] AS x, w[i+1] AS y FROM bi),
      bc AS (SELECT x, y, count(*) AS cxy FROM b GROUP BY x, y HAVING count(*) >= 5),
      tot AS (SELECT (SELECT sum(cx) FROM uc) AS nn, (SELECT sum(cxy) FROM bc) AS mm)
      SELECT bc.x, bc.y, cxy,
             round(ln(CAST(cxy AS DOUBLE)) + 2.0 * ln(CAST(nn AS DOUBLE))
                   - ln(CAST(mm AS DOUBLE)) - ln(CAST(ux.cx AS DOUBLE))
                   - ln(CAST(uy.cx AS DOUBLE)), 6) AS pmi
      FROM bc JOIN uc ux ON bc.x = ux.x JOIN uc uy ON bc.y = uy.x
      CROSS JOIN tot
      ORDER BY pmi DESC, bc.x, bc.y LIMIT 20"""))

  // --------------------------------------------------------------- q132

  /** q132 — CDC apply / MERGE INTO: fold a change batch (updates,
    * deletes, inserts — derived deterministically from the snapshot
    * itself so the oracle can re-derive it) into a base snapshot in
    * ONE keyed reduction: base rows enter at priority 0, change rows
    * at priority 1, `max_by(struct, priority)` keeps the winner per
    * key, delete tombstones drop out in a final filter. The inverse of
    * q120 (which DERIVES a changeset by diffing snapshots). One
    * shuffle on the key at any scale; no join of base against each
    * change class separately.
    */
  val q132 = Q("q132_cdc_apply",
    (s, dir) => {
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
          lit("KEEP").as("op"), lit(0).as("_pri"))
      val o = Tables.load(s, dir, "orders")
      val deletes = o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
          lit("D").as("op"), lit(1).as("_pri"))
      val updates = o.filter(pmod(col("o_orderkey"), lit(3)) === 0 && pmod(col("o_orderkey"), lit(7)) =!= 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 100.0).as("o_totalprice"),
          lit("U").as("o_orderstatus"), lit("U").as("op"), lit(1).as("_pri"))
      val inserts = o.filter(pmod(col("o_orderkey"), lit(11)) === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"), col("o_totalprice"),
          lit("I").as("o_orderstatus"), lit("I").as("op"), lit(1).as("_pri"))
      base.unionByName(deletes).unionByName(updates).unionByName(inserts)
        .groupBy("o_orderkey")
        .agg(max_by(struct(col("o_totalprice"), col("o_orderstatus"), col("op")),
          col("_pri")).as("r"))
        .filter(col("r.op") =!= "D")
        .select(col("o_orderkey"), col("r.o_totalprice").as("o_totalprice"),
          col("r.o_orderstatus").as("o_orderstatus"))
        .orderBy("o_orderkey")
    },
    Some("""
      WITH del AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0),
      up AS (SELECT o_orderkey, o_totalprice + 100.0 AS p, 'U' AS st
             FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0),
      ins AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_totalprice, 'I' AS o_orderstatus
              FROM orders WHERE o_orderkey % 11 = 0)
      SELECT b.o_orderkey,
             coalesce(u.p, b.o_totalprice) AS o_totalprice,
             coalesce(u.st, b.o_orderstatus) AS o_orderstatus
      FROM orders b LEFT JOIN up u USING (o_orderkey)
      WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM del)
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM ins
      ORDER BY o_orderkey"""))

  // --------------------------------------------------------------- q133

  /** q133 — one HITS iteration (hubs & authorities, Kleinberg) on the
    * customer→supplier graph: from a uniform hub start, authority =
    * in-degree, then each customer's hub score is the sum of its
    * suppliers' authorities — the mutual-reinforcement unit step that
    * complements q110's PageRank (random-walk centrality) with the
    * bipartite relevance notion behind link-based quality weighting.
    * Both propagation phases stay exact integers (counts and sums of
    * counts); normalization is ONE per-row division by a broadcast
    * single-row total, so nothing double-typed ever crosses a shuffle.
    */
  val q133 = Q("q133_hits_step",
    (s, dir) => {
      val edges = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
        .distinct()
        .localCheckpoint(false) // two consumers: authority agg + hub join
      val auth = edges.groupBy("dst").agg(count(lit(1)).as("a_num"))
      val hub = edges.join(auth, Seq("dst"))
        .groupBy("src").agg(sum("a_num").as("h_num"))
      val denom = hub.groupBy().agg(sum("h_num").as("hd"))
      hub.crossJoin(broadcast(denom))
        .select(col("src").as("c_custkey"), col("h_num"),
          round(col("h_num").cast("double") / col("hd"), 9).as("hub"))
        .orderBy(desc("h_num"), col("c_custkey"))
        .limit(20)
    },
    Some("""
      WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      a AS (SELECT dst, count(*) AS a_num FROM e GROUP BY dst),
      h AS (SELECT src, sum(a_num) AS h_num FROM e JOIN a USING (dst) GROUP BY src),
      z AS (SELECT sum(h_num) AS hd FROM h)
      SELECT src AS c_custkey, CAST(h_num AS BIGINT) AS h_num,
             round(CAST(h_num AS DOUBLE) / hd, 9) AS hub
      FROM h CROSS JOIN z
      ORDER BY h_num DESC, c_custkey LIMIT 20"""))

  // --------------------------------------------------------------- q134

  /** q134 — exact AUC (area under the ROC curve) of the q34 quality
    * score as a predictor of document provenance, computed WITHOUT
    * sorting individual rows: AUC is the Mann-Whitney rank statistic,
    * so it reduces to per-distinct-score (positives, negatives) counts
    * plus a prefix sum over the bounded distinct-score table (the q125
    * CDF recipe — scores are 6-dp-rounded, so the relation is bounded
    * regardless of corpus size, and tie handling is exact: tied pairs
    * contribute ½). Orientation is the CONVENTIONAL one — P(score_pos >
    * score_neg) + ½·P(tie), each positive credited with the negatives
    * strictly below it — so 1.0 means the score perfectly ranks
    * positives above negatives. The whole statistic stays an integer
    * rational Σ[pos·(2·cum_neg + neg)] / (2·n_pos·n_neg) until one
    * final division — partition-order independent by construction.
    */
  val q134 = Q("q134_auc",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(graft.operators.TextAnalysis
          .qualityScore(col("text"), Seq("the", "a", "of", "and")).as("score"),
          (col("source") === "src0").as("pos"))
      val byScore = d.groupBy("score").agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("pc"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("nc"))
      val tot = byScore.groupBy().agg(sum("pc").as("np"), sum("nc").as("nn"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      byScore
        .withColumn("cnb", coalesce(sum("nc").over(w), lit(0L)))
        .select((col("pc") * (lit(2) * col("cnb") + col("nc"))).as("term"))
        .agg(sum("term").as("num2"))
        .crossJoin(broadcast(tot))
        .select(
          round(col("num2").cast("double") / (lit(2.0) * col("np") * col("nn")), 9).as("auc"),
          col("np"), col("nn"))
    },
    Some(s"""
      WITH d AS (
        SELECT round(0.4 * least(1.0, len($duckTokens)::DOUBLE / 100.0)
                 + 0.3 * (1.0 - round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(text), 6))
                 + 0.3 * round(len(list_filter($duckTokens,
                     x -> list_contains(['the','a','of','and'], x)))::DOUBLE
                     / len($duckTokens), 6), 6) AS score,
               source = 'src0' AS pos
        FROM documents),
      v AS (SELECT score,
              sum(CASE WHEN pos THEN 1 ELSE 0 END) AS pc,
              sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS nc
            FROM d GROUP BY score),
      c AS (SELECT score, pc, nc,
              coalesce(sum(nc) OVER (ORDER BY score
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
            FROM v),
      z AS (SELECT sum(pc) AS np, sum(nc) AS nn FROM v)
      SELECT round(CAST(sum(pc * (2 * cnb + nc)) AS DOUBLE) / (2.0 * np * nn), 9) AS auc,
             CAST(np AS BIGINT) AS np, CAST(nn AS BIGINT) AS nn
      FROM c CROSS JOIN z GROUP BY np, nn"""))

  // --------------------------------------------------------------- q135

  /** q135 — sequential path mining: the most common 3-step event-type
    * paths users actually take (the behavioral n-gram behind funnel
    * design and anomalous-flow detection). One user_id shuffle carries
    * both window leads; the path relation is then a linear count
    * aggregation over a key space bounded by |event_type|³. Row order
    * within a user is made total with (ts, event_id), so the paths —
    * and therefore the counts — are identical on every engine and
    * partitioning.
    */
  val q135 = Q("q135_event_paths",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.load(s, dir, "events")
        // one select ⇒ one Window node (chained withColumn leaves two
        // Window operators that CollapseWindow does not always merge)
        .select(col("event_type"),
          lead("event_type", 1).over(w).as("e2"),
          lead("event_type", 2).over(w).as("e3"))
        .filter(col("e3").isNotNull)
        .groupBy(col("event_type").as("s1"), col("e2").as("s2"), col("e3").as("s3"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("s1"), col("s2"), col("s3"))
        .limit(10)
    },
    Some("""
      WITH o AS (SELECT user_id, event_type,
                   lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
                   lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
                 FROM events)
      SELECT event_type AS s1, e2 AS s2, e3 AS s3, count(*) AS cnt
      FROM o WHERE e3 IS NOT NULL
      GROUP BY 1, 2, 3
      ORDER BY cnt DESC, s1, s2, s3 LIMIT 10"""))

  // --------------------------------------------------------------- q136

  /** q136 — market-basket co-occurrence: how often two parts ship in
    * the same order (the item-item similarity primitive behind
    * co-view/co-purchase recommenders and complement detection). The
    * naive form is a fact⋈fact self-join on the order key; here the
    * per-order item lists are BOUNDED (basket size, ~7), so after one
    * order-key shuffle the pair enumeration is a map-side array
    * expansion — per-task work is O(basket²) with a small constant,
    * never O(catalog²). The same boundedness argument is why this
    * shape survives 100 TB order logs while the self-join's skewed
    * popular-item fanout does not.
    */
  val q136 = Q("q136_basket_pairs",
    (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_partkey"))).as("ids"))
        // singleton baskets produce no pairs — and sequence(1, 0)
        // DESCENDS in Spark, so they must not reach the enumerator
        .filter(size(col("ids")) >= 2)
        .select(explode(call_function("graft_pairs_long", col("ids"))).as("p"))
        .select(col("p.a").as("pa"), col("p.b").as("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("pa"), col("pb"))
        .limit(20)
    },
    Some("""
      WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM i a JOIN i b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
      SELECT pa, pb, count(*) AS cnt FROM p
      GROUP BY pa, pb ORDER BY cnt DESC, pa, pb LIMIT 20"""))

  // --------------------------------------------------------------- q137

  /** q137 — multi-probe hyperplane-LSH ANN: q41's single-bucket probe
    * trades recall for speed; multi-probe (Lv et al., VLDB'07) buys
    * most of that recall back WITHOUT extra hash tables by also
    * searching the Hamming-1 neighbor buckets of the query's bucket —
    * the buckets a near-neighbor most likely fell into when one
    * hyperplane's sign flipped. The probe set (1 + planes buckets) is
    * a per-QUERY constant: the scan side is still bucket-pruned,
    * nothing about the index changes, and the candidate volume is
    * bounded by 9 buckets instead of 1. Same plan-baked literal
    * hyperplanes as q41, so the oracle replays the sign bits exactly.
    */
  val q137 = Q("q137_ann_multiprobe",
    (s, dir) => {
      val planes = 8
      val emb = Tables.load(s, dir, "embeddings")
      val bucketed = emb.withColumn("_bucket",
        Similarity.hyperplaneBucket(col("embedding"), 64, planes))
      val probes = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("_qvec"),
          Similarity.hyperplaneBucket(col("embedding"), 64, planes).as("_qb"))
        .select(col("_qvec"), explode(array(
          col("_qb") +: (0 until planes).map(p => col("_qb").bitwiseXOR(lit(1 << p))): _*)).as("_pb"))
      bucketed.join(broadcast(probes), col("_bucket") === col("_pb"))
        .select(col("vec_id"), Similarity.cosine(col("embedding"), col("_qvec")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(10)
    },
    Some {
      val bitExprs = (0 until 8).map { p =>
        val planeLit = (1 to 64)
          .map { d =>
            val n = graft.functions.Hashing.hash64Local(s"plane$p:$d") % 2001 - 1000
            s"(${n}.0/1000.0)"
          }
          .mkString("[", ",", "]")
        s"""CASE WHEN list_reduce(list_transform(range(1, 65),
           d -> CAST(embedding[d] AS DOUBLE) * ($planeLit[d])), (a, b) -> a + b) > 0
           THEN ${1 << p} ELSE 0 END"""
      }.mkString(" + ")
      val probeList = "[qb" + (0 until 8).map(p => s", xor(qb, ${1 << p})").mkString + "]"
      s"""
      WITH b AS (SELECT vec_id, embedding, CAST($bitExprs AS INTEGER) AS bucket
             FROM embeddings),
      q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0),
      pb AS (SELECT qv, unnest($probeList) AS p FROM q)
      SELECT vec_id, ${Q.duckCos("embedding", "qv")} AS cos_sim
      FROM b JOIN pb ON bucket = p
      ORDER BY cos_sim DESC, vec_id ASC LIMIT 10"""
    })

  // --------------------------------------------------------------- q138

  /** q138 — time-windowed deduplication: the same (user, action) seen
    * again inside the same clock hour counts once (retry storms,
    * at-least-once delivery, double-fires). Keep-first is total-ordered by
    * (ts, event_id) so the survivor is unique on any partitioning.
    * One shuffle on the dedup key; the hour column rides the same
    * shuffle — at 100 TB the window bound is also what keeps the
    * per-key state finite (the argument a streaming watermark makes).
    */
  val q138 = Q("q138_windowed_dedup",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          date_trunc("hour", col("ts")).as("hr"), col("ts"))
      graft.operators.Relational
        .dedupKeepFirst(e, Seq("user_id", "event_type", "hr"), Seq(col("ts"), col("event_id")))
        .select(col("event_id"), col("user_id"), col("event_type"), col("hr"))
        .orderBy("event_id")
    },
    Some("""
      WITH d AS (SELECT event_id, user_id, event_type,
                   date_trunc('hour', ts) AS hr,
                   row_number() OVER (PARTITION BY user_id, event_type, date_trunc('hour', ts)
                                      ORDER BY ts, event_id) AS rn
                 FROM events)
      SELECT event_id, user_id, event_type, hr
      FROM d WHERE rn = 1 ORDER BY event_id"""))

  // --------------------------------------------------------------- q139

  /** q139 — seasonal-baseline anomaly report: per (event_type,
    * day-of-week) mean and standard deviation of the event value, and
    * how many events sit beyond the 2σ fence of THEIR OWN seasonal
    * cell — the time-series data-quality gate that a global 3σ rule
    * (q100) gets wrong when weekday and weekend regimes differ.
    * Moments are exact: values quantize to 1e-6 fixed-point longs,
    * squares accumulate in DECIMAL(38,0); the 35-cell profile rides a
    * broadcast join back onto the stream for the flag pass. Two scans,
    * one shuffle, no per-row state.
    */
  val q139 = Q("q139_seasonal_anomaly",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"), weekday(col("ts")).as("dow"),
          floor(col("value") * 1e6).cast("long").as("v"))
      val prof = e.groupBy("event_type", "dow").agg(
        count(lit(1)).as("n"), sum("v").as("sv"),
        sum((col("v") * col("v")).cast(DecimalType(38, 0))).as("svv"))
      val nd = col("n").cast("double"); val svd = col("sv").cast("double")
      val svvd = col("svv").cast("double")
      val profD = prof.select(col("event_type"), col("dow"), col("n"),
        (svd / nd).as("_mean_s"),
        (sqrt(nd * svvd - svd * svd) / nd).as("_sd_s"))
      e.join(broadcast(profD), Seq("event_type", "dow"))
        .groupBy("event_type", "dow")
        .agg(max("n").as("n"),
          round(max("_mean_s") / 1e6, 6).as("mean_value"),
          round(max("_sd_s") / 1e6, 6).as("sd_value"),
          sum(when(abs(col("v").cast("double") - col("_mean_s"))
            > lit(2.0) * col("_sd_s"), 1L).otherwise(0L)).as("n_anomalies"))
        .orderBy("event_type", "dow")
    },
    Some("""
      WITH e AS (SELECT event_type, isodow(ts) - 1 AS dow,
                        CAST(floor(value * 1e6) AS BIGINT) AS v
                 FROM events),
      m AS (SELECT event_type, dow, count(*) AS n, sum(v) AS sv,
                   sum(CAST(v*v AS DECIMAL(38,0))) AS svv
            FROM e GROUP BY 1, 2),
      p AS (SELECT event_type, dow, n,
                   CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean_s,
                   sqrt(CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                        - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) / CAST(n AS DOUBLE) AS sd_s
            FROM m)
      SELECT e.event_type, e.dow, max(n) AS n,
             round(max(mean_s) / 1e6, 6) AS mean_value,
             round(max(sd_s) / 1e6, 6) AS sd_value,
             CAST(sum(CASE WHEN abs(CAST(v AS DOUBLE) - mean_s) > 2.0 * sd_s
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
      FROM e JOIN p USING (event_type, dow)
      GROUP BY e.event_type, e.dow
      ORDER BY event_type, dow"""))

  // --------------------------------------------------------------- q140

  /** q140 — lag-1 autocorrelation of the hourly value series per event
    * type: is the stream bursty (positive memory) or mean-reverting?
    * The series itself is a bounded relation (one row per type×hour),
    * built with one linear shuffle of exact 1e-6 fixed-point sums;
    * the lag pairing is a window over that bounded series sharing the
    * same event_type key, and the correlation assembles from q69-style
    * exact moments (squares in DECIMAL(38,0) — hourly sums are already
    * ~1e13 at this scale). Nothing about the shape changes when the
    * raw stream is 100 TB: only the bounded series participates past
    * the first aggregation.
    */
  val q140 = Q("q140_lag_autocorr",
    (s, dir) => {
      val hourly = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
      val w = Window.partitionBy("event_type").orderBy("hr")
      val pairs = hourly
        .withColumn("y", lag("x", 1).over(w))
        .filter(col("y").isNotNull)
      val m = pairs.groupBy("event_type").agg(
        count(lit(1)).as("n_pairs"),
        sum(col("x").cast(DecimalType(38, 0))).as("sx"),
        sum(col("y").cast(DecimalType(38, 0))).as("sy"),
        // hourly fixed-point sums reach ~1e12 — the squares MUST move
        // to decimal BEFORE the multiply or the long product overflows
        sum(col("x").cast(DecimalType(19, 0)) * col("x").cast(DecimalType(19, 0))).as("sxx"),
        sum(col("y").cast(DecimalType(19, 0)) * col("y").cast(DecimalType(19, 0))).as("syy"),
        sum(col("x").cast(DecimalType(19, 0)) * col("y").cast(DecimalType(19, 0))).as("sxy"))
      val nd = col("n_pairs").cast("double")
      val sxd = col("sx").cast("double"); val syd = col("sy").cast("double")
      val sxxd = col("sxx").cast("double"); val syyd = col("syy").cast("double")
      val sxyd = col("sxy").cast("double")
      m.select(col("event_type"), col("n_pairs"),
          round((nd * sxyd - sxd * syd)
            / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd)), 6)
            .as("autocorr"))
        .orderBy("event_type")
    },
    Some("""
      WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
                        sum(CAST(floor(value * 1e6) AS BIGINT)) AS x
                 FROM events GROUP BY 1, 2),
      p AS (SELECT event_type, x,
                   lag(x, 1) OVER (PARTITION BY event_type ORDER BY hr) AS y
            FROM h),
      m AS (SELECT event_type, count(*) AS n_pairs,
                   sum(CAST(x AS DECIMAL(38,0))) AS sx,
                   sum(CAST(y AS DECIMAL(38,0))) AS sy,
                   sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
                   sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
                   sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy
            FROM p WHERE y IS NOT NULL GROUP BY event_type)
      SELECT event_type, n_pairs,
             round((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS autocorr
      FROM m ORDER BY event_type"""))

  // --------------------------------------------------------------- q141

  /** q141 — chunk-level (paragraph-style) dedup with reassembly: split
    * every document into 20-token chunks, keep each distinct chunk's
    * FIRST occurrence corpus-wide (total order (doc_id, ord)), and
    * rebuild every document from its surviving chunks — the
    * MassiveText/RefinedWeb "repeated paragraph removal" shape, where
    * boilerplate (headers, footers, license blocks) vanishes from
    * every copy but its first. Chunking is a map-side array expansion;
    * the keep-first is ONE shuffle on the chunk text; reassembly is
    * one doc_id shuffle with an in-group ordinal sort. Outputs per-doc
    * chunk counts and the md5 of the reassembled text so the oracle
    * pins the exact byte-level result without shipping megabytes.
    */
  val q141 = Q("q141_chunk_dedup",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      val chunks = docs.select(col("doc_id"), explode(expr(
          """transform(sequence(0, cast((size(w) - 1) / 20 as int)),
             i -> struct(i AS ord, array_join(slice(w, i * 20 + 1, 20), ' ') AS chunk))""")).as("c"))
        .select(col("doc_id"), col("c.ord").as("ord"), col("c.chunk").as("chunk"))
        .localCheckpoint(false) // two consumers: totals + keep-first
      val totals = chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      val kept = graft.operators.Relational
        .dedupKeepFirst(chunks, Seq("chunk"), Seq(col("doc_id"), col("ord")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("ord"), col("chunk")))),
            x => x.getField("chunk")), " ")).as("fp"))
      totals.join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("fp"), md5(lit(""))).as("fp"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      ch AS (SELECT doc_id, unnest(range(0, ((len(w) - 1) // 20) + 1)) AS ord, w FROM t),
      c2 AS (SELECT doc_id, ord,
               array_to_string(list_transform(
                 range(ord * 20 + 1, least(ord * 20 + 20, len(w)) + 1),
                 j -> w[j]), ' ') AS chunk
             FROM ch),
      k AS (SELECT doc_id, ord, chunk,
              row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ord) AS rn
            FROM c2),
      tot AS (SELECT doc_id, count(*) AS n_chunks FROM c2 GROUP BY doc_id),
      ka AS (SELECT doc_id, count(*) AS n_kept,
               md5(string_agg(chunk, ' ' ORDER BY ord)) AS fp
             FROM k WHERE rn = 1 GROUP BY doc_id)
      SELECT tot.doc_id, n_chunks,
             coalesce(n_kept, 0) AS n_kept,
             coalesce(fp, md5('')) AS fp
      FROM tot LEFT JOIN ka USING (doc_id) ORDER BY doc_id"""))

  // --------------------------------------------------------------- q142

  /** q142 — quantile normalization (CDF rank transform): map each
    * event value to its mid-rank quantile within its event type —
    * (count_below + ½·count_equal)/n, the rank-gauss preprocessing
    * step minus the gaussianization, and exactly the tie semantics of
    * q134's AUC. Built windowless-over-rows: one linear count per
    * (type, 1e-6-quantized value), a prefix sum over the bounded
    * distinct-value relation, and a broadcast join back onto the
    * (deterministically sampled) rows being normalized. The raw
    * stream is touched twice, shuffled once.
    */
  val q142 = Q("q142_quantile_norm",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 1e6).cast("long").as("v"))
      val counts = ev.groupBy("event_type", "v").agg(count(lit(1)).as("c"))
      val n = counts.groupBy("event_type").agg(sum("c").as("n"))
      val w = Window.partitionBy("event_type").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cdf = counts
        .withColumn("cb", coalesce(sum("c").over(w), lit(0L)))
        .join(broadcast(n), "event_type")
        .select(col("event_type"), col("v"),
          ((col("cb") + lit(0.5) * col("c")) / col("n")).as("_q"))
      val sample = ev.filter(pmod(col("event_id"), lit(997)) === 0)
      broadcast(sample).join(cdf, Seq("event_type", "v"))
        .select(col("event_id"), col("event_type"),
          round(col("v") / 1e6, 6).as("value6"),
          round(col("_q"), 9).as("qnorm"))
        .orderBy("event_id")
    },
    Some("""
      WITH ev AS (SELECT event_id, event_type,
                    CAST(floor(value * 1e6) AS BIGINT) AS v
                  FROM events),
      c AS (SELECT event_type, v, count(*) AS c FROM ev GROUP BY 1, 2),
      z AS (SELECT event_type, sum(c) AS n FROM c GROUP BY event_type),
      f AS (SELECT event_type, v,
              (coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + 0.5 * c) / n AS q
            FROM c JOIN z USING (event_type))
      SELECT event_id, ev.event_type,
             round(v / 1e6, 6) AS value6, round(q, 9) AS qnorm
      FROM ev JOIN f USING (event_type, v)
      WHERE event_id % 997 = 0
      ORDER BY event_id"""))

  // --------------------------------------------------------------- q143

  /** q143 — label-centroid cosine similarity matrix: which embedding
    * clusters are close (merge candidates, taxonomy drift, SemDedup's
    * cell-adjacency question). Centroids use q45's exact fixed-point
    * accumulation, so the |labels|×dims relation is bounded and
    * deterministic; the all-pairs join then runs on a
    * |labels|-row relation — bounded all-pairs is the legitimate kind.
    * Cosine folds the component products left-to-right in both
    * engines (the q65 discipline) — bit-exact without a kernel.
    */
  val q143 = Q("q143_centroid_sim",
    (s, dir) => {
      val cent = Tables.load(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("_pos", "_v")))
        .groupBy(col("label"), (col("_pos") + 1).as("dim"))
        .agg((sum(round(col("_v").cast("double") * 1e6).cast("long")).cast("double")
          / count(col("_v")) / 1e6).as("cv"))
      val vecs = cent.groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
          x => x.getField("cv")).as("vec"))
      val a = vecs.select(col("label").as("la"), col("vec").as("va"))
      val b = vecs.select(col("label").as("lb"), col("vec").as("vb"))
      def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
      a.crossJoin(broadcast(b))
        .filter(col("la") < col("lb"))
        .select(col("la"), col("lb"),
          round(dot(col("va"), col("vb"))
            / (sqrt(dot(col("va"), col("va"))) * sqrt(dot(col("vb"), col("vb")))), 6)
            .as("cos_sim"))
        .orderBy("la", "lb")
    },
    Some(s"""
      WITH c AS (SELECT label, d AS dim,
               CAST(sum(CAST(round(CAST(embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / count(*) / 1000000.0 AS cv
             FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS d) ds
             GROUP BY label, d),
      v AS (SELECT label, list(cv ORDER BY dim) AS vec FROM c GROUP BY label)
      SELECT a.label AS la, b.label AS lb,
             ${Q.duckCos("a.vec", "b.vec")} AS cos_sim
      FROM v a JOIN v b ON a.label < b.label
      ORDER BY la, lb"""))

  // --------------------------------------------------------------- q144

  /** q144 — leave-one-out target encoding: replace a categorical key
    * with the mean target of OTHER rows sharing it, (S_cat − y)/(n−1)
    * — the encoding that avoids self-leakage in gradient-boosting /
    * linear feature pipelines. Per-category sums ride DECIMAL(28,6)
    * (dsum) so S_cat is identical on any partitioning; the per-row
    * subtraction and division are single double ops replayed by the
    * oracle. One linear aggregation + a broadcast map-side join; the
    * output is a deterministic key sample so the gate stays bounded.
    */
  val q144 = Q("q144_target_encode_loo",
    (s, dir) => {
      import graft.functions.ScalarFunctions.dsum
      val o = Tables.load(s, dir, "orders")
      val agg = o.groupBy("o_orderpriority").agg(
        dsum(col("o_totalprice")).as("sd"), count(lit(1)).as("n"))
      o.filter(pmod(col("o_orderkey"), lit(997)) === 0)
        .join(broadcast(agg), "o_orderpriority")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          when(col("n") > 1,
            round((col("sd") - col("o_totalprice")) / (col("n") - 1), 6))
            .otherwise(lit(null)).as("loo_mean"))
        .orderBy("o_orderkey")
    },
    Some("""
      WITH a AS (SELECT o_orderpriority,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sd,
                   count(*) AS n
                 FROM orders GROUP BY o_orderpriority)
      SELECT o_orderkey, o.o_orderpriority, o_totalprice,
             CASE WHEN n > 1
                  THEN round((sd - o_totalprice) / (n - 1), 6)
                  ELSE NULL END AS loo_mean
      FROM orders o JOIN a USING (o_orderpriority)
      WHERE o_orderkey % 997 = 0
      ORDER BY o_orderkey"""))

  // --------------------------------------------------------------- q145

  /** q145 — degree-distribution power-law fit: out-degree histogram of
    * the customer→supplier graph, then OLS of ln(frequency) on
    * ln(degree) — the α-exponent diagnostic that decides whether a
    * graph needs skew handling (hub-heavy power-law ⇒ salting /
    * hot-key splitting; q97's per-key report answers WHICH keys, this
    * answers WHETHER the topology makes them inevitable). Two linear
    * aggregations collapse the graph to a ≤max-degree-row relation;
    * lns quantize to 1e-6 longs (the q57/q77 recipe) so every moment
    * is an exact integer; the fit assembles per-row like q127.
    */
  val q145 = Q("q145_degree_powerlaw",
    (s, dir) => {
      val deg = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
        .distinct()
        .groupBy("src").agg(count(lit(1)).as("d"))
      val freq = deg.groupBy("d").agg(count(lit(1)).as("f"))
        .select(round(log(col("d").cast("double")) * 1e6).cast("long").as("lx"),
          round(log(col("f").cast("double")) * 1e6).cast("long").as("ly"))
      val m = freq.groupBy().agg(
        count(lit(1)).as("n"), sum("lx").as("sx"), sum("ly").as("sy"),
        sum(col("lx") * col("lx")).as("sxx"),
        sum(col("ly") * col("ly")).as("syy"),
        sum(col("lx") * col("ly")).as("sxy"))
      val nd = col("n").cast("double")
      val sxd = col("sx").cast("double"); val syd = col("sy").cast("double")
      val sxxd = col("sxx").cast("double"); val syyd = col("syy").cast("double")
      val sxyd = col("sxy").cast("double")
      val covn = nd * sxyd - sxd * syd
      val varx = nd * sxxd - sxd * sxd
      val vary = nd * syyd - syd * syd
      m.select(col("n").as("n_points"),
        round(covn / varx, 6).as("slope"),
        round((syd - covn / varx * sxd) / nd / 1e6, 6).as("intercept"),
        round(covn * covn / (varx * vary), 6).as("r2"))
    },
    Some("""
      WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      dg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
      fr AS (SELECT CAST(round(ln(CAST(d AS DOUBLE)) * 1e6) AS BIGINT) AS lx,
                    CAST(round(ln(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT) AS ly
             FROM dg GROUP BY d),
      m AS (SELECT count(*) AS n, sum(lx) AS sx, sum(ly) AS sy,
                   sum(lx*lx) AS sxx, sum(ly*ly) AS syy, sum(lx*ly) AS sxy
            FROM fr),
      d AS (SELECT n, CAST(n AS DOUBLE) AS nd,
                   CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                   CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
                   CAST(sxy AS DOUBLE) AS sxyd
            FROM m)
      SELECT n AS n_points,
             round((nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd), 6) AS slope,
             round((syd - (nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd) * sxd) / nd / 1e6, 6)
               AS intercept,
             round((nd*sxyd - sxd*syd) * (nd*sxyd - sxd*syd)
                   / ((nd*sxxd - sxd*sxd) * (nd*syyd - syd*syd)), 6) AS r2
      FROM d"""))

  // --------------------------------------------------------------- q146

  /** q146 — reciprocal-rank fusion of two retrievers: the standard
    * hybrid-search combiner (score = Σ 1/(60+rank) over the lists the
    * item appears in). Ranker A is exact cosine against the query
    * vector (q39); ranker B is cosine over int8-dequantized vectors
    * (q65's compression path) — precisely the "cheap index list vs
    * exact rerank list" pair a production retrieval stack fuses. Each
    * retriever contributes only its top-100 via TakeOrderedAndProject;
    * ranks come from windows over those BOUNDED 100-row shortlists
    * (never the corpus), and the fusion is a full-outer join of two
    * 100-row relations. Rank arithmetic is exact integers; 1/(60+r)
    * is a per-row double replayed by the oracle.
    */
  val q146 = Q("q146_rrf_fusion",
    (s, dir) => {
      // r16: compiled kernel (graft_dot now accepts double arrays) —
      // the interpreted zip_with/aggregate fold was ~1.1 s of
      // single-task CPU here; same left-to-right double fold
      def foldDot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        Similarity.dotNative(x, y)
      // r16: fan the unsplittable scan — both ranking passes fused
      // into a one-task scan stage (1.1 s single-task CPU measured)
      val emb = graft.operators.ScaleOps.fanIfNarrow(
        Tables.load(s, dir, "embeddings"), col("vec_id"))
      val dq = {
        val sc = Similarity.int8Scale(col("embedding"))
        transform(Similarity.quantizeInt8(col("embedding"), sc),
          x => x.cast("double") * sc)
      }
      val corpus = emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"), dq.as("_dq"))
      val qrow = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("_qv"), dq.as("_qdq"))
      val scored = corpus.crossJoin(broadcast(qrow))
      val topA = scored
        .select(col("vec_id"), Similarity.cosine(col("embedding"), col("_qv")).as("cs"))
        .orderBy(desc("cs"), col("vec_id")).limit(100)
        .withColumn("ra", row_number().over(Window.orderBy(desc("cs"), col("vec_id"))))
        .select(col("vec_id"), col("ra").cast("long").as("ra"))
      val topB = scored
        .select(col("vec_id"),
          round(foldDot(col("_dq"), col("_qdq"))
            / (sqrt(foldDot(col("_dq"), col("_dq"))) * sqrt(foldDot(col("_qdq"), col("_qdq")))), 6)
            .as("cs"))
        .orderBy(desc("cs"), col("vec_id")).limit(100)
        .withColumn("rb", row_number().over(Window.orderBy(desc("cs"), col("vec_id"))))
        .select(col("vec_id"), col("rb").cast("long").as("rb"))
      topA.join(topB, Seq("vec_id"), "full_outer")
        .select(col("vec_id"), col("ra"), col("rb"),
          round(coalesce(lit(1.0) / (lit(60) + col("ra")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0)), 9).as("rrf"))
        .orderBy(desc("rrf"), col("vec_id"))
        .limit(10)
    },
    Some(s"""
      WITH q0 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      a AS (SELECT vec_id, ${Q.duckCos("embedding", "qv")} AS cs
            FROM embeddings CROSS JOIN q0 WHERE vec_id <> 0),
      ta0 AS (SELECT vec_id, cs FROM a ORDER BY cs DESC, vec_id LIMIT 100),
      ta AS (SELECT vec_id, row_number() OVER (ORDER BY cs DESC, vec_id) AS ra FROM ta0),
      sc AS (SELECT vec_id,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
             FROM embeddings),
      d AS (SELECT e.vec_id,
              list_transform(e.embedding,
                x -> CAST(CAST(round(CAST(x AS DOUBLE) / s) AS INTEGER) AS DOUBLE) * s) AS dq
            FROM embeddings e JOIN sc ON e.vec_id = sc.vec_id),
      qd AS (SELECT dq AS qdq FROM d WHERE vec_id = 0),
      b AS (SELECT vec_id,
              round(${Q.duckDot("dq", "qdq")}
                / (sqrt(${Q.duckDot("dq", "dq")})
                   * sqrt(${Q.duckDot("qdq", "qdq")})), 6) AS cs
            FROM d CROSS JOIN qd WHERE vec_id <> 0),
      tb0 AS (SELECT vec_id, cs FROM b ORDER BY cs DESC, vec_id LIMIT 100),
      tb AS (SELECT vec_id, row_number() OVER (ORDER BY cs DESC, vec_id) AS rb FROM tb0),
      f AS (SELECT coalesce(ta.vec_id, tb.vec_id) AS vec_id,
                   CAST(ra AS BIGINT) AS ra, CAST(rb AS BIGINT) AS rb
            FROM ta FULL JOIN tb ON ta.vec_id = tb.vec_id)
      SELECT vec_id, ra, rb,
             round(coalesce(1.0 / (60 + ra), 0.0) + coalesce(1.0 / (60 + rb), 0.0), 9) AS rrf
      FROM f ORDER BY rrf DESC, vec_id LIMIT 10"""))

  // --------------------------------------------------------------- q147

  /** q147 — the hashing trick (feature hashing): bag-of-words folded
    * into a fixed 64-dim signed vector — dim = token_hash mod 64, sign
    * from the next hash bit — the unbounded-vocabulary-to-fixed-width
    * step that makes per-token feature engineering possible without a
    * fitted vocabulary (and therefore without a second pass) at
    * 100 TB. Map-only until one (doc, dim) count shuffle; the doc
    * sample is pushed into the scan (the filter prunes 99% of rows
    * BEFORE any work). Output is the sparse (doc, dim, weight)
    * relation itself.
    */
  val q147 = Q("q147_feature_hash",
    (s, dir) => {
      Tables.load(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id"),
          explode(call_function("graft_shingle_hash_list", col("text"), lit(1))).as("uh"))
        .select(col("doc_id"), pmod(col("uh"), lit(64)).as("dim"),
          when(pmod(expr("uh div 64"), lit(2)) === 0, 1L).otherwise(-1L).as("sgn"))
        .groupBy("doc_id", "dim").agg(sum("sgn").as("weight"))
        .filter(col("weight") =!= 0)
        .orderBy("doc_id", "dim")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents
                 WHERE doc_id % 97 = 0),
      tok AS (SELECT doc_id,
                unnest(list_transform(range(1, len(w)+1),
                  i -> ${duckHash64("w[i]")} & ${Dedup.MinhashP})) AS uh
              FROM t)
      SELECT doc_id, uh % 64 AS dim,
             CAST(sum(CASE WHEN (uh // 64) % 2 = 0
                           THEN 1 ELSE -1 END) AS BIGINT) AS weight
      FROM tok GROUP BY doc_id, dim
      HAVING sum(CASE WHEN (uh // 64) % 2 = 0 THEN 1 ELSE -1 END) <> 0
      ORDER BY doc_id, dim"""))

  // --------------------------------------------------------------- q148

  /** q148 — vocabulary growth curve over ingest order: new-vs-seen
    * distinct tokens per ingest batch and the cumulative vocabulary —
    * the Heaps-law diagnostic that tells a corpus pipeline whether
    * more data still buys new language or just repeats (and sizes the
    * tokenizer's OOV budget). First-seen is ONE min-reduction on the
    * token hash (combiner-friendly, no per-batch rescan of history);
    * the cumulative sum runs over the bounded per-batch relation.
    */
  val q148 = Q("q148_vocab_growth",
    (s, dir) => {
      val first = Tables.load(s, dir, "documents")
        .select(expr("doc_id div 250").as("batch"),
          explode(call_function("graft_shingle_hash_list", col("text"), lit(1))).as("uh"))
        .groupBy("uh").agg(min("batch").as("batch"))
      val w = Window.orderBy("batch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      first.groupBy("batch").agg(count(lit(1)).as("new_tokens"))
        .withColumn("cum_tokens", sum("new_tokens").over(w))
        .orderBy("batch")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      tok AS (SELECT doc_id // 250 AS batch,
                unnest(list_transform(range(1, len(w)+1),
                  i -> ${duckHash64("w[i]")} & ${Dedup.MinhashP})) AS uh
              FROM t),
      fs AS (SELECT uh, min(batch) AS batch FROM tok GROUP BY uh),
      nb AS (SELECT batch, count(*) AS new_tokens FROM fs GROUP BY batch)
      SELECT batch, new_tokens,
             CAST(sum(new_tokens) OVER (ORDER BY batch
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
      FROM nb ORDER BY batch"""))

  // --------------------------------------------------------------- q149

  /** q149 — Spearman rank correlation (tie-corrected) between quantity
    * and discount: Pearson over AVERAGE ranks, the robust monotone-
    * dependence measure that q69's Pearson misreads under skew or
    * outliers. No row ever gets sorted: average ranks come from the
    * bounded distinct-value tables (rank(v) = count_below + (c+1)/2 —
    * the q134/q142 CDF recipe), doubled to stay integral (2·rank =
    * 2·cb + c + 1; Pearson is affine-invariant so ρ is unchanged).
    * Rows pick up their rank pair through two broadcast joins
    * (distinct-value tables are tiny), and the moments follow q140's
    * pre-multiply DECIMAL(19,0) discipline.
    */
  val q149 = Q("q149_spearman",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem").select(
        col("l_quantity").cast("long").as("x"),
        round(col("l_discount") * 100).cast("long").as("y"))
      def ranks(c: String) = {
        val w = Window.orderBy(c).rowsBetween(Window.unboundedPreceding, -1)
        li.groupBy(c).agg(count(lit(1)).as("_c"))
          .withColumn("_cb", coalesce(sum("_c").over(w), lit(0L)))
          .select(col(c), (lit(2) * col("_cb") + col("_c") + 1).as(s"r$c"))
      }
      val ranked = li
        .join(broadcast(ranks("x")), "x")
        .join(broadcast(ranks("y")), "y")
      val m = ranked.groupBy().agg(
        count(lit(1)).as("n"),
        sum(col("rx").cast(DecimalType(38, 0))).as("sx"),
        sum(col("ry").cast(DecimalType(38, 0))).as("sy"),
        sum(col("rx").cast(DecimalType(19, 0)) * col("rx").cast(DecimalType(19, 0))).as("sxx"),
        sum(col("ry").cast(DecimalType(19, 0)) * col("ry").cast(DecimalType(19, 0))).as("syy"),
        sum(col("rx").cast(DecimalType(19, 0)) * col("ry").cast(DecimalType(19, 0))).as("sxy"))
      val nd = col("n").cast("double")
      val sxd = col("sx").cast("double"); val syd = col("sy").cast("double")
      val sxxd = col("sxx").cast("double"); val syyd = col("syy").cast("double")
      val sxyd = col("sxy").cast("double")
      m.select(col("n"),
        round((nd * sxyd - sxd * syd)
          / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd)), 6)
          .as("spearman_rho"))
    },
    Some("""
      WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                        CAST(round(l_discount * 100) AS BIGINT) AS y
                 FROM lineitem),
      rx AS (SELECT x, 2 * coalesce(sum(count(*)) OVER (ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + count(*) + 1 AS rx
             FROM b GROUP BY x),
      ry AS (SELECT y, 2 * coalesce(sum(count(*)) OVER (ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + count(*) + 1 AS ry
             FROM b GROUP BY y),
      r AS (SELECT rx, ry FROM b JOIN rx USING (x) JOIN ry USING (y)),
      m AS (SELECT count(*) AS n,
                   sum(CAST(rx AS DECIMAL(38,0))) AS sx,
                   sum(CAST(ry AS DECIMAL(38,0))) AS sy,
                   sum(CAST(rx AS DECIMAL(19,0)) * CAST(rx AS DECIMAL(19,0))) AS sxx,
                   sum(CAST(ry AS DECIMAL(19,0)) * CAST(ry AS DECIMAL(19,0))) AS syy,
                   sum(CAST(rx AS DECIMAL(19,0)) * CAST(ry AS DECIMAL(19,0))) AS sxy
            FROM r)
      SELECT n,
             round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
               AS spearman_rho
      FROM m"""))

  // --------------------------------------------------------------- q150

  /** q150 — information gain of a categorical feature for a label:
    * IG = H(source) − H(source | lang) from the contingency counts —
    * the split criterion of every decision tree and the feature-
    * selection score for categorical columns. One (lang, source)
    * count shuffle collapses the corpus; every entropy term is the
    * q107 fixed-point Σ c·ln(c) over BOUNDED relations, so the result
    * is exact and partition-order independent. H(label|feature) uses
    * the identity N·H_cond = Σ_f N_f·ln(N_f) − Σ_{f,c} c·ln(c) — no
    * per-feature division until the single final expression.
    */
  val q150 = Q("q150_info_gain",
    (s, dir) => {
      val cells = Tables.load(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // three rollups below share it
      def slnl(c: org.apache.spark.sql.Column) =
        sum(round(log(c.cast("double")) * 1e6).cast("long") * c)
      val byLabel = cells.groupBy("source").agg(sum("c").as("cl"))
        .groupBy().agg(sum("cl").as("n"), slnl(col("cl")).as("sl"))
      val byFeat = cells.groupBy("lang").agg(sum("c").as("cf"))
        .groupBy().agg(slnl(col("cf")).as("sf"))
      val byCell = cells.groupBy().agg(slnl(col("c")).as("sc"))
      byLabel.crossJoin(broadcast(byFeat)).crossJoin(broadcast(byCell))
        .select(col("n"),
          round(log(col("n").cast("double"))
            - col("sl").cast("double") / col("n") / 1e6, 6).as("h_label"),
          round((col("sf").cast("double") - col("sc").cast("double"))
            / col("n") / 1e6, 6).as("h_cond"),
          round((log(col("n").cast("double"))
            - col("sl").cast("double") / col("n") / 1e6)
            - ((col("sf").cast("double") - col("sc").cast("double"))
              / col("n") / 1e6), 6).as("info_gain"))
    },
    Some("""
      WITH cells AS (SELECT lang, source, count(*) AS c
                     FROM documents GROUP BY 1, 2),
      bl AS (SELECT CAST(sum(cl) AS BIGINT) AS n,
                    sum(CAST(round(ln(CAST(cl AS DOUBLE)) * 1e6) AS BIGINT) * cl) AS sl
             FROM (SELECT source, sum(c) AS cl FROM cells GROUP BY source)),
      bf AS (SELECT sum(CAST(round(ln(CAST(cf AS DOUBLE)) * 1e6) AS BIGINT) * cf) AS sf
             FROM (SELECT lang, sum(c) AS cf FROM cells GROUP BY lang)),
      bc AS (SELECT sum(CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) * c) AS sc
             FROM cells)
      SELECT n,
             round(ln(CAST(n AS DOUBLE)) - CAST(sl AS DOUBLE) / n / 1e6, 6) AS h_label,
             round((CAST(sf AS DOUBLE) - CAST(sc AS DOUBLE)) / n / 1e6, 6) AS h_cond,
             round((ln(CAST(n AS DOUBLE)) - CAST(sl AS DOUBLE) / n / 1e6)
                   - ((CAST(sf AS DOUBLE) - CAST(sc AS DOUBLE)) / n / 1e6), 6) AS info_gain
      FROM bl CROSS JOIN bf CROSS JOIN bc"""))

  // --------------------------------------------------------------- q151

  /** q151 — join-size profile WITHOUT running the join: |A⋈B| on a key
    * equals Σ_k cA(k)·cB(k) over per-key counts — the cardinality
    * estimate a planner needs to choose broadcast vs shuffle vs salt,
    * computed from two linear aggregations and a join of the (much
    * smaller) count relations. Also surfaces the heaviest key and its
    * fanout product — the q97-style skew evidence — and the exact
    * average fanout. Products accumulate in DECIMAL so the profile is
    * exact at any scale.
    */
  val q151 = Q("q151_join_size_profile",
    (s, dir) => {
      val co = Tables.load(s, dir, "orders")
        .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("ca"))
      val cl = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("cb"))
      co.join(cl, "k")
        .select(col("k"),
          (col("ca").cast(DecimalType(19, 0)) * col("cb").cast(DecimalType(19, 0))).as("p"))
        .groupBy().agg(
          count(lit(1)).as("n_keys"),
          sum("p").cast("long").as("join_rows"),
          max("p").cast("long").as("max_key_fanout"),
          // priority = p·1e9 − k: largest fanout wins, smallest key
          // breaks ties — one integer both engines order identically
          max_by(col("k"), col("p").cast("long") * lit(1000000000L) - col("k")).as("heaviest_key"))
        .select(col("n_keys"), col("join_rows"), col("max_key_fanout"),
          col("heaviest_key"),
          round(col("join_rows").cast("double") / col("n_keys"), 6).as("avg_fanout"))
    },
    Some("""
      WITH ca AS (SELECT o_orderkey AS k, count(*) AS ca FROM orders GROUP BY 1),
      cb AS (SELECT l_orderkey AS k, count(*) AS cb FROM lineitem GROUP BY 1),
      p AS (SELECT k, CAST(ca AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0)) AS p
            FROM ca JOIN cb USING (k)),
      m AS (SELECT count(*) AS n_keys,
                   CAST(sum(p) AS BIGINT) AS join_rows,
                   CAST(max(p) AS BIGINT) AS max_key_fanout,
                   max_by(k, CAST(p AS BIGINT) * 1000000000 - k) AS heaviest_key
            FROM p)
      SELECT n_keys, join_rows, max_key_fanout, heaviest_key,
             round(CAST(join_rows AS DOUBLE) / n_keys, 6) AS avg_fanout
      FROM m"""))

  // --------------------------------------------------------------- q152

  /** q152 — binary header parsing with built-in expressions: synthesize
    * a PNG-shaped payload per document (8-byte signature + IHDR chunk
    * with big-endian width/height derived from doc_id) and parse the
    * dimensions BACK out of the raw bytes with `substring`/`hex`/`conv`
    * — the codec-free half of image metadata extraction (magic-number
    * sniffing, dimension reads, EXIF offsets) that a 100 TB media
    * pipeline runs entirely inside whole-stage codegen before any
    * decoder is invoked. The oracle computes the expected dimensions
    * INDEPENDENTLY from doc_id arithmetic, so the gate proves the
    * synthesize→parse round trip is byte-exact, not merely
    * self-consistent. Map-only; zero shuffles.
    */
  val q152 = Q("q152_binary_header",
    (s, dir) => {
      val w = lit(64) + pmod(col("doc_id"), lit(512))
      val h = lit(48) + pmod(col("doc_id"), lit(256))
      val png = unhex(concat(
        lit("89504E470D0A1A0A"), // PNG signature
        lit("0000000D49484452"), // IHDR length + type
        lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
        lit("0806000000")))      // bit depth, color type, etc.
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), png.as("payload"))
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          (lower(hex(substring(col("payload"), 1, 8))) === "89504e470d0a1a0a").as("is_png"),
          conv(hex(substring(col("payload"), 17, 4)), 16, 10).cast("long").as("width"),
          conv(hex(substring(col("payload"), 21, 4)), 16, 10).cast("long").as("height"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, CAST(29 AS BIGINT) AS n_bytes, true AS is_png,
             CAST(64 + doc_id % 512 AS BIGINT) AS width,
             CAST(48 + doc_id % 256 AS BIGINT) AS height
      FROM documents ORDER BY doc_id"""))

  // --------------------------------------------------------------- q153

  /** q153 — source-level similarity via AGGREGATED minhash signatures:
    * each source's shingle SET gets a 12-component signature where
    * component j is min((a_j·h + b_j) mod P) over the set — a min is a
    * declarative aggregate, so the signature builds with map-side
    * combine in ONE linear pass regardless of how many billions of
    * shingles a source has. Pairwise similarity is then the signature
    * agreement fraction over the bounded |sources|² relation. The
    * exact per-source set Jaccard rides alongside as calibration
    * (q101/q115 pattern) — at 100 TB the exact column is what you
    * drop, and the whole point is that the sketch column doesn't
    * change shape.
    */
  val q153 = Q("q153_source_similarity",
    (s, dir) => {
      val coeffs = Dedup.minhashCoeffs(12)
      val hashed = Tables.load(s, dir, "documents")
        .select(col("source"),
          explode(call_function("graft_shingle_hashes", col("text"), lit(2))).as("h"))
        .distinct()
      val minAggs = coeffs.zipWithIndex.map { case ((a, b), j) =>
        min(pmod(lit(a) * col("h") + lit(b), lit(Dedup.MinhashP))).as(s"m$j")
      }
      val sigs = hashed.groupBy("source")
        .agg(minAggs.head, minAggs.tail :+ count(lit(1)).as("nset")
          :+ sort_array(collect_list(col("h"))).as("hs"): _*)
        .select(col("source"),
          array((0 until 12).map(j => col(s"m$j")): _*).as("sig"),
          col("nset"), col("hs"))
      val a = sigs.select(col("source").as("src_a"), col("sig").as("sa"),
        col("nset").as("na"), col("hs").as("ha"))
      val b = sigs.select(col("source").as("src_b"), col("sig").as("sb"),
        col("nset").as("nb"), col("hs").as("hb"))
      a.crossJoin(broadcast(b)).filter(col("src_a") < col("src_b"))
        .withColumn("_agree",
          size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), p => p)))
        .withColumn("_it",
          call_function("graft_intersect_count", col("ha"), col("hb")).cast("long"))
        .select(col("src_a"), col("src_b"),
          round(col("_agree").cast("double") / 12, 6).as("est_jaccard"),
          round(col("_it").cast("double") / (col("na") + col("nb") - col("_it")), 6)
            .as("exact_jaccard"))
        .orderBy("src_a", "src_b")
    },
    Some {
      val sigExprs = Dedup.minhashCoeffs(12).map { case (a, b) =>
        s"min((${a} * h + ${b}) % ${Dedup.MinhashP})"
      }.mkString("[", ",\n                ", "]")
      s"""
      WITH t AS (SELECT source, $duckTokens AS w FROM documents),
      sh AS (SELECT source,
               CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
                    ELSE list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
               END AS g
             FROM t),
      e AS (SELECT DISTINCT source,
              unnest(list_transform(list_distinct(g),
                x -> ${duckHash64("x")} & ${Dedup.MinhashP})) AS h
            FROM sh),
      sg AS (SELECT source, $sigExprs AS sig,
                    count(*) AS nset, list_sort(list(h)) AS hs
             FROM e GROUP BY source),
      p AS (SELECT a.source AS src_a, b.source AS src_b,
              len(list_filter(range(1, 13), i -> a.sig[i] = b.sig[i])) AS agree,
              len(list_intersect(a.hs, b.hs)) AS it,
              a.nset AS na, b.nset AS nb
            FROM sg a JOIN sg b ON a.source < b.source)
      SELECT src_a, src_b,
             round(CAST(agree AS DOUBLE) / 12, 6) AS est_jaccard,
             round(CAST(it AS DOUBLE) / (na + nb - it), 6) AS exact_jaccard
      FROM p ORDER BY src_a, src_b"""
    })

  // --------------------------------------------------------------- q154

  /** q154 — sketch mergeability proof: build per-shard minhash
    * signatures, merge them with an elementwise min, and show the
    * merged signature EQUALS the signature computed directly over the
    * whole corpus — the algebraic property (commutative, associative,
    * idempotent min) that lets 1000 executors sketch independently and
    * combine without a second pass over the data. Same discipline as
    * q104's incremental-aggregate maintenance, applied to the sketch
    * family; the oracle replays both paths and the gate fails if any
    * component diverges.
    */
  val q154 = Q("q154_sketch_merge",
    (s, dir) => {
      val coeffs = Dedup.minhashCoeffs(12)
      val hashed = Tables.load(s, dir, "documents")
        .select(expr("doc_id div 100").as("shard"),
          explode(call_function("graft_shingle_hashes", col("text"), lit(2))).as("h"))
      def sigAggs = coeffs.zipWithIndex.map { case ((a, b), j) =>
        min(pmod(lit(a) * col("h") + lit(b), lit(Dedup.MinhashP))).as(s"m$j")
      }
      val perShard = hashed.groupBy("shard").agg(sigAggs.head, sigAggs.tail: _*)
      val merged = perShard
        .select(posexplode(array((0 until 12).map(j => col(s"m$j")): _*)).as(Seq("j", "v")))
        .groupBy("j").agg(min("v").as("merged"))
      val direct = hashed.groupBy().agg(sigAggs.head, sigAggs.tail: _*)
        .select(posexplode(array((0 until 12).map(j => col(s"m$j")): _*)).as(Seq("j", "v")))
        .select(col("j"), col("v").as("direct"))
      merged.join(direct, "j")
        .select(col("j"), col("merged"), col("direct"),
          (col("merged") === col("direct")).as("matches"))
        .orderBy("j")
    },
    Some {
      val sigExprs = Dedup.minhashCoeffs(12).map { case (a, b) =>
        s"min((${a} * h + ${b}) % ${Dedup.MinhashP})"
      }.mkString("[", ",\n                ", "]")
      s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      sh AS (SELECT doc_id,
               CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
                    ELSE list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
               END AS g
             FROM t),
      e AS (SELECT doc_id // 100 AS shard,
              unnest(list_transform(list_distinct(g),
                x -> ${duckHash64("x")} & ${Dedup.MinhashP})) AS h
            FROM sh),
      ps AS (SELECT shard, $sigExprs AS sig FROM e GROUP BY shard),
      mg AS (SELECT i - 1 AS j, min(sig[i]) AS merged
             FROM ps CROSS JOIN (SELECT unnest(range(1, 13)) AS i) ii
             GROUP BY i),
      dr0 AS (SELECT $sigExprs AS sig FROM e),
      dr AS (SELECT i - 1 AS j, sig[i] AS direct
             FROM dr0 CROSS JOIN (SELECT unnest(range(1, 13)) AS i) ii)
      SELECT j, merged, direct, merged = direct AS matches
      FROM mg JOIN dr USING (j) ORDER BY j"""
    })

  // --------------------------------------------------------------- q155

  /** q155 — two-phase distinct aggregation: COUNT(DISTINCT user) per
    * event type, written as an explicit pre-distinct on the compound
    * key followed by a plain count — the rewrite that keeps a skewed
    * distinct-count scalable. A direct COUNT(DISTINCT) plans an
    * Expand + a per-key distinct buffer that concentrates every hot
    * key's values in one task; the pre-distinct shuffles once on the
    * (type, user) COMPOUND key — cardinality spreads over the whole
    * cluster — and the second aggregation is a trivial count with
    * map-side combine. Paired with dsum partials riding the SAME
    * first shuffle so the query also shows mixed distinct/plain
    * aggregation without two scans of the raw table.
    */
  val q155 = Q("q155_twophase_distinct",
    (s, dir) => {
      import graft.functions.ScalarFunctions.dsum
      val pre = Tables.load(s, dir, "events")
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("_n"), dsum(col("value")).as("_v"))
      pre.groupBy("event_type")
        .agg(count(lit(1)).as("distinct_users"),
          sum("_n").as("n_events"),
          round(sum(col("_v").cast(DecimalType(28, 6))).cast("double"), 6).as("sum_value"))
        .orderBy("event_type")
    },
    Some("""
      WITH pre AS (SELECT event_type, user_id, count(*) AS n,
                     CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS v
                   FROM events GROUP BY 1, 2)
      SELECT event_type, count(*) AS distinct_users,
             CAST(sum(n) AS BIGINT) AS n_events,
             round(CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_value
      FROM pre GROUP BY event_type ORDER BY event_type"""))

  // --------------------------------------------------------------- q156

  /** q156 — the SQL front door: the same engine surface through
    * `spark.sql` over registered views — a user migrating from the
    * reference's Postgres serving layer writes ANSI SQL and gets the
    * identical Catalyst plans the DataFrame API produces (the three
    * FluReports queries already run the reference's own SQL strings;
    * this pins the pattern on the synthetic schema, with a join +
    * aggregate + HAVING + ORDER BY written purely as SQL text). The
    * oracle is near-verbatim the same statement — the point being
    * that the SQL dialect surface itself is part of the engine's API.
    */
  val q156 = Q("q156_sql_frontdoor",
    (s, dir) => {
      Tables.load(s, dir, "orders").createOrReplaceTempView("v_orders")
      Tables.load(s, dir, "customer").createOrReplaceTempView("v_customer")
      s.sql("""
        SELECT c.c_mktsegment,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT o.o_custkey) AS n_customers,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus <> 'X'
        GROUP BY c.c_mktsegment
        HAVING COUNT(*) > 10
        ORDER BY c_mktsegment""")
    },
    Some("""
      SELECT c.c_mktsegment,
             COUNT(*) AS n_orders,
             COUNT(DISTINCT o.o_custkey) AS n_customers,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderstatus <> 'X'
      GROUP BY c.c_mktsegment
      HAVING COUNT(*) > 10
      ORDER BY c_mktsegment"""))

  // --------------------------------------------------------------- q157

  /** q157 — time-series gap filling (forward fill over a dense
    * calendar): hourly totals per event type, re-gridded onto the
    * complete hour range so missing hours appear as rows, then
    * forward-filled with the last observed value — the
    * regularization every downstream window/autocorrelation job
    * assumes. The dense grid is generated from a broadcast (min, max)
    * pair via sequence() — never a driver loop — and the fill is
    * last-non-null over the same (type, hour) shuffle the totals
    * already use. Output is a bounded per-(type, hour) relation with
    * an is_observed flag so the fill provenance stays auditable.
    */
  val q157 = Q("q157_gap_fill",
    (s, dir) => {
      val hourly = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(floor(col("value") * 1e6).cast("long")).as("v"))
      val bounds = hourly.groupBy().agg(min("hr").as("mn"), max("hr").as("mx"))
      val grid = hourly.select("event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("mn"), col("mx"), expr("interval 1 hour"))).as("hr"))
      val w = Window.partitionBy("event_type").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("event_type", "hr"), "left")
        .select(col("event_type"), col("hr"),
          col("v").isNotNull.as("is_observed"),
          last("v", ignoreNulls = true).over(w).as("v_filled"))
        .orderBy("event_type", "hr")
    },
    Some("""
      WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
                        CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      b AS (SELECT min(hr) AS mn, max(hr) AS mx FROM h),
      g AS (SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
            FROM (SELECT DISTINCT event_type FROM h) CROSS JOIN b),
      j AS (SELECT g.event_type, g.hr, h.v FROM g LEFT JOIN h
            ON g.event_type = h.event_type AND g.hr = h.hr)
      SELECT event_type, hr,
             v IS NOT NULL AS is_observed,
             last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      FROM j ORDER BY event_type, hr"""))

  // --------------------------------------------------------------- q158

  /** q158 — dedup survivorship report: the audit a curation run ships
    * with its output — how many duplicate families exist, how much of
    * the corpus they hold, the largest family, and rows removed vs
    * kept — from ONE fingerprint aggregation (q35's normalized
    * content fingerprint) and a bounded rollup over family sizes.
    * This is the evidence artifact for "dedup did what it claimed":
    * kept = families, removed = rows − families, checked by the gate
    * against the oracle's independent computation.
    */
  val q158 = Q("q158_dedup_report",
    (s, dir) => {
      val fams = Tables.load(s, dir, "documents")
        .select(graft.operators.TextAnalysis.contentFingerprint(col("text")).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("sz"))
      fams.groupBy().agg(
        sum("sz").as("n_rows"),
        count(lit(1)).as("n_families"),
        (sum("sz") - count(lit(1))).as("n_removed"),
        sum(when(col("sz") > 1, col("sz")).otherwise(0L)).as("rows_in_dup_families"),
        sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_dup_families"),
        max("sz").as("max_family"))
        .select(col("n_rows"), col("n_families"), col("n_removed"),
          col("rows_in_dup_families"), col("n_dup_families"), col("max_family"),
          round(col("n_removed").cast("double") / col("n_rows"), 6).as("removal_rate"))
    },
    Some("""
      WITH f AS (SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
                        count(*) AS sz
                 FROM documents GROUP BY 1)
      SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
             count(*) AS n_families,
             CAST(sum(sz) - count(*) AS BIGINT) AS n_removed,
             CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT) AS rows_in_dup_families,
             CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_families,
             CAST(max(sz) AS BIGINT) AS max_family,
             round(CAST(sum(sz) - count(*) AS DOUBLE) / sum(sz), 6) AS removal_rate
      FROM f"""))

  // --------------------------------------------------------------- q159

  /** q159 — broadcast range-dimension lookup (tariff/tier/IP-geo
    * shape): classify every event value into the interval of a tiny
    * banded dimension via a non-equi broadcast join. A non-equi join
    * against a BROADCAST side is a BroadcastNestedLoopJoin — the one
    * place that operator is the right answer, because the inner side
    * is bounded (here 5 bands) and the probe is map-side; the same
    * query against a large interval table is q102's banding rewrite
    * instead. Counts per tier + exact fixed-point value sums.
    */
  val q159 = Q("q159_range_lookup",
    (s, dir) => {
      val s0 = s
      import s0.implicits._
      val tiers = Seq(
        ("t0_free", 0.0, 1.0), ("t1_low", 1.0, 10.0), ("t2_mid", 10.0, 50.0),
        ("t3_high", 50.0, 200.0), ("t4_top", 200.0, 1e9))
        .toDF("tier", "lo", "hi")
      Tables.load(s, dir, "events")
        .join(broadcast(tiers), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1e6).cast("long")).as("_sv"))
        .select(col("tier"), col("n"),
          round(col("_sv").cast("double") / 1e6, 6).as("sum_value"))
        .orderBy("tier")
    },
    Some("""
      WITH tiers(tier, lo, hi) AS (VALUES
        ('t0_free', 0.0, 1.0), ('t1_low', 1.0, 10.0), ('t2_mid', 10.0, 50.0),
        ('t3_high', 50.0, 200.0), ('t4_top', 200.0, 1e9))
      SELECT tier, count(*) AS n,
             round(CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS DOUBLE) / 1e6, 6)
               AS sum_value
      FROM events JOIN tiers ON value >= lo AND value < hi
      GROUP BY tier ORDER BY tier"""))

  // --------------------------------------------------------------- q160

  /** q160 — Q-Q drift grid: the nine decile pairs of a value across
    * two cohorts, with per-decile gaps — the data behind a Q-Q plot
    * and the distribution-level complement to q111's scalar PSI
    * (PSI says "drifted", the grid says WHERE in the distribution).
    * One grouped percentile pass per cohort, then the nine-row
    * relations join on decile index.
    *
    * The percentile is conf-gated: `spark.graft.approxPercentile=true`
    * swaps the exact `percentile` (full per-group sort — the oracle
    * shape) for `percentile_approx`'s mergeable KLL-style sketch at
    * `spark.graft.approxPercentile.accuracy` (default 10000, ~1e-4
    * rank error), the q52 precedent. At 100 TB the sketch is the only
    * sane plan — fixed memory per group, one pass, no sort — so the
    * switch is a runtime conf, not a code edit.
    */
  val q160 = Q("q160_qq_drift_grid",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(when(pmod(col("o_orderkey"), lit(2)) === 0, "a").otherwise("b").as("cohort"),
          col("o_totalprice").as("v"))
      val deciles = (1 to 9).map(_ / 10.0)
      val approx = s.conf.get("spark.graft.approxPercentile", "false") == "true"
      val acc = s.conf.get("spark.graft.approxPercentile.accuracy", "10000").toInt
      val pctAgg =
        if (approx) percentile_approx(col("v"), array(deciles.map(lit): _*), lit(acc))
        else expr(s"percentile(v, array(${deciles.mkString(", ")}))")
      val q = o.groupBy("cohort").agg(pctAgg.as("qs"))
      val a = q.filter(col("cohort") === "a")
        .select(posexplode(col("qs")).as(Seq("i", "pa")))
      val b = q.filter(col("cohort") === "b")
        .select(posexplode(col("qs")).as(Seq("i", "pb")))
      a.join(b, "i")
        .select(((col("i") + 1) * 10).as("pct"),
          round(col("pa"), 6).as("p_even"), round(col("pb"), 6).as("p_odd"),
          round(col("pb") - col("pa"), 6).as("gap"))
        .orderBy("pct")
    },
    Some("""
      WITH o AS (SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS cohort,
                        o_totalprice AS v
                 FROM orders),
      q AS (SELECT cohort,
              quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
            FROM o GROUP BY cohort),
      e AS (SELECT cohort, unnest(range(1, 10)) AS i, qs FROM q),
      p AS (SELECT cohort, i, qs[i] AS pv FROM e)
      SELECT a.i * 10 AS pct,
             round(a.pv, 6) AS p_even, round(b.pv, 6) AS p_odd,
             round(b.pv - a.pv, 6) AS gap
      FROM p a JOIN p b ON a.i = b.i AND a.cohort = 'a' AND b.cohort = 'b'
      ORDER BY pct"""))

  // --------------------------------------------------------------- q161

  /** q161 — conversion-latency distribution: per user, time from first
    * click to first subsequent purchase, summarized as count /
    * median / p90 / p99 — the funnel-health metric behind every
    * "how long to convert" dashboard, and the latency twin of q89's
    * who-converts funnel. Both firsts reduce on ONE user_id shuffle
    * (conditional min aggregates — no join between event subsets, no
    * window); the percentile summary runs over the bounded per-user
    * relation. Latencies are integer seconds, so the exact percentile
    * interpolation is reproducible to the 6-dp round.
    */
  val q161 = Q("q161_conversion_latency",
    (s, dir) => {
      val per = Tables.load(s, dir, "events")
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "click", col("ts"))).as("c"),
          min(when(col("event_type") === "purchase", col("ts"))).as("p"))
        .filter(col("c").isNotNull && col("p").isNotNull && col("p") > col("c"))
        .select((unix_timestamp(col("p")) - unix_timestamp(col("c"))).as("lat"))
      per.groupBy().agg(
        count(lit(1)).as("n_converted"),
        expr("percentile(lat, 0.5)").as("p50_s"),
        expr("percentile(lat, 0.9)").as("p90_s"),
        expr("percentile(lat, 0.99)").as("p99_s"))
        .select(col("n_converted"),
          round(col("p50_s"), 6).as("p50_s"),
          round(col("p90_s"), 6).as("p90_s"),
          round(col("p99_s"), 6).as("p99_s"))
    },
    Some("""
      WITH per AS (SELECT user_id,
                     min(CASE WHEN event_type = 'click' THEN ts END) AS c,
                     min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
                   FROM events GROUP BY user_id),
      lat AS (SELECT CAST(floor(epoch(p)) AS BIGINT) - CAST(floor(epoch(c)) AS BIGINT) AS lat
              FROM per WHERE c IS NOT NULL AND p IS NOT NULL AND p > c)
      SELECT count(*) AS n_converted,
             round(quantile_cont(lat, 0.5), 6) AS p50_s,
             round(quantile_cont(lat, 0.9), 6) AS p90_s,
             round(quantile_cont(lat, 0.99), 6) AS p99_s
      FROM lat"""))

  // --------------------------------------------------------------- q162

  /** q162 — native session windows: the built-in `session_window`
    * aggregation (one shuffle on the user key, sessions materialized
    * by the operator itself) — the declarative twin of q55's manual
    * running-sum sessionization, and the same operator Structured
    * Streaming uses for stateful session aggregation, so batch and
    * stream share session semantics by construction. NOTE the boundary
    * differs from q55 deliberately: session windows are end-EXCLUSIVE
    * (an event exactly `gap` after the last one starts a NEW session,
    * i.e. new-session when diff ≥ gap), where q55's manual rule
    * continues on equality — the oracle encodes the ≥ rule at exact
    * microsecond precision.
    */
  val q162 = Q("q162_session_window",
    (s, dir) => {
      import graft.functions.ScalarFunctions.dsum
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
          col("sw.start").cast("long").as("start_sec"),
          col("sw.end").cast("long").as("end_sec"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "start_sec")
    },
    Some("""
      WITH e AS (SELECT user_id, value, epoch_us(ts) AS us FROM events),
      g AS (SELECT user_id, value, us,
              CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                        OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
                   THEN 1 ELSE 0 END AS is_new
            FROM e),
      sess AS (SELECT user_id, value, us,
                 sum(is_new) OVER (PARTITION BY user_id ORDER BY us
                   ROWS UNBOUNDED PRECEDING) AS sid
               FROM g)
      SELECT user_id,
             min(us) // 1000000 AS start_sec,
             (max(us) + 1800000000) // 1000000 AS end_sec,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, start_sec"""))

  // --------------------------------------------------------------- q163

  /** q163 — triangle counting + global clustering coefficient on the
    * co-purchase graph (parts sharing ≥2 orders): the canonical
    * distributed graph benchmark, in the degree-oriented
    * "compact-forward" shape — every edge points from its
    * lower-(degree, id) endpoint to the higher, which bounds ANY
    * node's out-neighborhood by O(√m) no matter how extreme the hub
    * skew, so the per-apex wedge enumeration (the quadratic step) is
    * bounded work per task. Wedges close against the undirected edge
    * set with one equi-join; each triangle is counted exactly once,
    * at its minimum-(degree, id) apex. The naive all-wedges form
    * without orientation fans a celebrity hub into deg² pairs — the
    * exact failure the orientation removes.
    */
  val q163 = Q("q163_triangle_count",
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
        .select(explode(call_function("graft_pairs_long", col("ids"))).as("p"))
        .select(col("p.a").as("pa"), col("p.b").as("pb"))
      val tri = wedges.join(pairs, Seq("pa", "pb"))
        .groupBy().agg(count(lit(1)).as("n_triangles"))
      val stats = deg.groupBy().agg(
        count(lit(1)).as("n_nodes"),
        (sum(expr("d * (d - 1) div 2"))).as("n_wedges"))
      val ne = pairs.groupBy().agg(count(lit(1)).as("n_edges"))
      stats.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
            .as("clustering_coeff"))
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
      tri AS (SELECT count(*) AS t
              FROM e e1 JOIN e e2 ON e1.pb = e2.pa
                        JOIN e e3 ON e1.pa = e3.pa AND e2.pb = e3.pb),
      st AS (SELECT count(*) AS n_nodes, sum(d * (d - 1) // 2) AS n_wedges FROM deg)
      SELECT n_nodes,
             (SELECT count(*) FROM e) AS n_edges,
             CAST(n_wedges AS BIGINT) AS n_wedges,
             (SELECT t FROM tri) AS n_triangles,
             round(3.0 * (SELECT t FROM tri) / n_wedges, 6) AS clustering_coeff
      FROM st"""))

  // --------------------------------------------------------------- q164

  /** q164 — association rules over co-purchase pairs: support,
    * confidence and lift for the strongest item pairs — the classic
    * market-basket trio, assembled from q136's bounded in-basket pair
    * counts plus broadcast per-item basket counts and the basket
    * total. Every measure is an exact integer ratio evaluated in one
    * per-row double expression (counts never leave integer space
    * before it), and the top-15 selection orders by the 9-dp-rounded
    * lift with a full lexicographic tiebreak.
    */
  val q164 = Q("q164_assoc_rules",
    (s, dir) => {
      val items = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .localCheckpoint(false) // pair gen + item counts + basket total
      val pairCnt = items.groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_partkey"))).as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(explode(call_function("graft_pairs_long", col("ids"))).as("p"))
        .groupBy(col("p.a").as("pa"), col("p.b").as("pb"))
        .agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 2)
      val itemCnt = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("ci"))
      val nBaskets = items.select("l_orderkey").distinct()
        .groupBy().agg(count(lit(1)).as("nb"))
      pairCnt
        .join(broadcast(itemCnt.select(col("l_partkey").as("pa"), col("ci").as("ca"))), "pa")
        .join(broadcast(itemCnt.select(col("l_partkey").as("pb"), col("ci").as("cb"))), "pb")
        .crossJoin(broadcast(nBaskets))
        .select(col("pa"), col("pb"), col("cab"),
          round(col("cab").cast("double") / col("nb"), 9).as("support"),
          round(col("cab").cast("double") / col("ca"), 9).as("confidence"),
          round(col("cab").cast("double") * col("nb")
            / (col("ca") * col("cb")), 9).as("lift"))
        .orderBy(desc("lift"), col("pa"), col("pb"))
        .limit(15)
    },
    Some("""
      WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pc AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS cab
             FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
                              AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2 HAVING count(*) >= 2),
      ic AS (SELECT l_partkey, count(*) AS ci FROM i GROUP BY 1),
      nb AS (SELECT count(DISTINCT l_orderkey) AS nb FROM i)
      SELECT pa, pb, cab,
             round(CAST(cab AS DOUBLE) / nb, 9) AS support,
             round(CAST(cab AS DOUBLE) / ca.ci, 9) AS confidence,
             round(CAST(cab AS DOUBLE) * nb / (ca.ci * cb.ci), 9) AS lift
      FROM pc JOIN ic ca ON pc.pa = ca.l_partkey
              JOIN ic cb ON pc.pb = cb.l_partkey
              CROSS JOIN nb
      ORDER BY lift DESC, pa, pb LIMIT 15"""))

  // --------------------------------------------------------------- q165

  /** q165 — first-order transition matrix of user event streams:
    * P(next event type | current) with exact integer counts — the
    * Markov-chain view behind q135's raw paths (paths show WHAT
    * happens, the matrix shows the per-step dynamics and feeds
    * simulation / anomaly scoring). One user shuffle carries the
    * lead; the matrix relation is bounded by |types|², and every
    * probability is one integer ratio rounded at 9 dp.
    */
  val q165 = Q("q165_transition_matrix",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val steps = Tables.load(s, dir, "events")
        .select(col("event_type").as("cur"),
          lead("event_type", 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .groupBy("cur", "nxt").agg(count(lit(1)).as("c"))
      val totals = steps.groupBy("cur").agg(sum("c").as("t"))
      steps.join(broadcast(totals), "cur")
        .select(col("cur"), col("nxt"), col("c"),
          round(col("c").cast("double") / col("t"), 9).as("p"))
        .orderBy("cur", "nxt")
    },
    Some("""
      WITH o AS (SELECT event_type AS cur,
                   lead(event_type, 1) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS nxt
                 FROM events),
      st AS (SELECT cur, nxt, count(*) AS c FROM o
             WHERE nxt IS NOT NULL GROUP BY cur, nxt),
      tt AS (SELECT cur, sum(c) AS t FROM st GROUP BY cur)
      SELECT cur, nxt, c, round(CAST(c AS DOUBLE) / t, 9) AS p
      FROM st JOIN tt USING (cur)
      ORDER BY cur, nxt"""))

  // --------------------------------------------------------------- q166

  /** q166 — weighted PageRank step: q110's random walk, but with edge
    * transition probability proportional to interaction STRENGTH (how
    * many orders connect the customer to the supplier) instead of
    * uniform over neighbors — the form real link-quality and
    * recommendation walks use, where a 100-order relationship should
    * pull more rank than a one-off. Same scale shape as q110: one
    * dst-keyed shuffle of per-edge contributions, out-strength and
    * node count on broadcasts, 1e-12 fixed-point mass so iteration is
    * partition-order independent. The weighted contribution
    * w/Σw_out·rank replaces 1/deg·rank; everything else is identical,
    * which is exactly the point — weights are free at this shape.
    */
  val q166 = Q("q166_weighted_pagerank",
    (s, dir) => {
      val edges = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
        .localCheckpoint(false)
      val strength = edges.groupBy("src").agg(sum("w").as("sw"))
      val sizes = edges.groupBy().agg(
        countDistinct(col("src")).as("nc"),
        countDistinct(col("dst")).as("ns"))
      edges.join(strength, Seq("src"))
        .crossJoin(broadcast(sizes))
        .select(col("dst"), col("ns"),
          ((col("nc") + col("ns")).cast("double")).as("n"),
          round(lit(1e12) * col("w") / ((col("nc") + col("ns")) * col("sw")).cast("double"))
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
      WITH e AS (SELECT o_custkey AS src, l_suppkey AS dst, count(*) AS w
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                 GROUP BY 1, 2),
      st AS (SELECT src, sum(w) AS sw FROM e GROUP BY src),
      z AS (SELECT count(DISTINCT src) AS nc, count(DISTINCT dst) AS ns FROM e)
      SELECT e.dst AS s_suppkey, count(*) AS in_deg,
             round(0.15 / min(CAST(z.nc + z.ns AS DOUBLE))
               + 0.85 * (CAST(sum(CAST(round(1e12 * e.w
                     / CAST((z.nc + z.ns) * st.sw AS DOUBLE)) AS BIGINT)) AS DOUBLE) / 1e12
                 + CAST(min(z.ns) AS DOUBLE)
                   / min(CAST(z.nc + z.ns AS DOUBLE))
                   / min(CAST(z.nc + z.ns AS DOUBLE))), 9) AS rank
      FROM e JOIN st USING (src) CROSS JOIN z
      GROUP BY e.dst ORDER BY e.dst"""))

  // --------------------------------------------------------------- q167

  /** q167 — inter-event (dwell) time distribution: per event type, the
    * median / p90 / p99 of the gap between a user's consecutive events
    * of that type — the arrival-process fingerprint behind rate
    * limiting, bot detection, and session-gap calibration (q55's
    * 30-minute threshold should come FROM this table). One
    * (user, type) shuffle carries the lag; gaps are integer
    * microseconds so percentile interpolation replays exactly.
    */
  val q167 = Q("q167_dwell_times",
    (s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val gaps = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
        .withColumn("_prev", lag(col("ts"), 1).over(w))
        .filter(col("_prev").isNotNull)
        .select(col("event_type"),
          (unix_micros(col("ts")) - unix_micros(col("_prev"))).as("gap_us"))
      gaps.groupBy("event_type").agg(
        count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap_us, 0.5)") / 1e6, 6).as("p50_s"),
        round(expr("percentile(gap_us, 0.9)") / 1e6, 6).as("p90_s"),
        round(expr("percentile(gap_us, 0.99)") / 1e6, 6).as("p99_s"))
        .orderBy("event_type")
    },
    Some("""
      WITH g AS (SELECT event_type,
                   epoch_us(ts) - epoch_us(lag(ts, 1) OVER (
                     PARTITION BY user_id, event_type
                     ORDER BY ts, event_id)) AS gap_us
                 FROM events),
      k AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL)
      SELECT event_type, count(*) AS n_gaps,
             round(quantile_cont(gap_us, 0.5) / 1e6, 6) AS p50_s,
             round(quantile_cont(gap_us, 0.9) / 1e6, 6) AS p90_s,
             round(quantile_cont(gap_us, 0.99) / 1e6, 6) AS p99_s
      FROM k GROUP BY event_type ORDER BY event_type"""))

  // --------------------------------------------------------------- q168

  /** q168 — sequence-likelihood anomaly scoring: score every user's
    * event stream by the mean log-probability of its transitions under
    * the corpus transition matrix (q165), and surface the least-likely
    * users — behavioral anomaly detection with a model the engine just
    * trained on the same data, no external artifact. The matrix is a
    * |types|²-row broadcast; per-step ln p quantizes to 1e-6 longs so
    * user sums are exact; one user shuffle for the lead + one for the
    * per-user reduction; bottom-10 via TakeOrderedAndProject.
    */
  val q168 = Q("q168_sequence_anomaly",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val steps = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type").as("cur"),
          lead("event_type", 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .localCheckpoint(false) // feeds the matrix AND the scoring pass
      val matrix = steps.groupBy("cur", "nxt").agg(count(lit(1)).as("c"))
      val totals = matrix.groupBy("cur").agg(sum("c").as("t"))
      val lnp = matrix.join(broadcast(totals), "cur")
        .select(col("cur"), col("nxt"),
          round(log(col("c").cast("double") / col("t")) * 1e6).cast("long").as("_lnp"))
      steps.join(broadcast(lnp), Seq("cur", "nxt"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_steps"), sum("_lnp").as("_s"))
        .filter(col("n_steps") >= 5)
        .select(col("user_id"), col("n_steps"),
          round(col("_s").cast("double") / col("n_steps") / 1e6, 6).as("mean_lnp"))
        .orderBy(col("mean_lnp").asc, col("user_id").asc)
        .limit(10)
    },
    Some("""
      WITH o AS (SELECT user_id, event_type AS cur,
                   lead(event_type, 1) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS nxt
                 FROM events),
      st AS (SELECT user_id, cur, nxt FROM o WHERE nxt IS NOT NULL),
      m AS (SELECT cur, nxt, count(*) AS c FROM st GROUP BY cur, nxt),
      tt AS (SELECT cur, sum(c) AS t FROM m GROUP BY cur),
      lp AS (SELECT cur, nxt,
               CAST(round(ln(CAST(c AS DOUBLE) / t) * 1e6) AS BIGINT) AS lnp
             FROM m JOIN tt USING (cur)),
      u AS (SELECT user_id, count(*) AS n_steps, sum(lnp) AS s
            FROM st JOIN lp USING (cur, nxt) GROUP BY user_id)
      SELECT user_id, n_steps,
             round(CAST(s AS DOUBLE) / n_steps / 1e6, 6) AS mean_lnp
      FROM u WHERE n_steps >= 5
      ORDER BY mean_lnp ASC, user_id ASC LIMIT 10"""))

  val all: Seq[Q] = Seq(q126, q127, q128, q129, q130, q131, q132,
    q133, q134, q135, q136, q137, q138, q139, q140, q141,
    q142, q143, q144, q145, q146, q147, q148, q149, q150, q151, q152,
    q153, q154, q155, q156, q157, q158, q159, q160, q161, q162, q163,
    q164, q165, q166, q167, q168)
}
