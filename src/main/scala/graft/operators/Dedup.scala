package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Deduplication operators for training-data pipelines: exact (hash
  * groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard.
  *
  * Scale design: signatures/bands are per-row expressions (no shuffle);
  * candidate generation is an equi-join on (band_index, band_hash) —
  * i.e. a hash-partitioned shuffle where only documents sharing a band
  * bucket ever meet, which is the point of LSH: at 100 TB the all-pairs
  * O(n²) comparison is replaced by |buckets| small joins. The final
  * exact-Jaccard verification runs only on candidate pairs, over the
  * 31-bit shingle hashes (long-array intersection, not string).
  *
  * All hashing is md5-derived (Hashing.hash64) so an external oracle can
  * recompute signatures bit-for-bit; the k min-hash permutations are an
  * affine family over one base hash, so each shingle is md5'd once.
  */
object Dedup {

  /** Mersenne prime 2^31 - 1: the modulus of the affine min-hash
    * family. 31-bit hashes keep a*h + b inside a long.
    */
  val MinhashP: Long = 2147483647L

  /** Width of the shingle-hash family (`graft_shingle_hashes`): md5's
    * first 60 bits masked to 31, the width the min-hash family needs.
    * External oracles replay the same mask ([[ShingleMask]]).
    */
  val ShingleBits = 31
  val ShingleMask: Long = (1L << ShingleBits) - 1

  /** Hash-family coefficients, md5-derived at plan-build time so the
    * per-row cost is one md5 per shingle plus k long multiply-adds
    * (not k md5s per shingle — the difference between 1× and k× the
    * scan cost at corpus scale).
    */
  def minhashCoeffs(k: Int): Seq[(Long, Long)] = (0 until k).map { j =>
    ((Hashing.hash64Local(s"mh-a-$j") % (MinhashP - 1)) + 1,
      Hashing.hash64Local(s"mh-b-$j") % MinhashP)
  }

  /** MinHash signature via the affine family h_j(x) = (a_j·x + b_j)
    * mod p over the 31-bit shingle hashes. Returns an array of k longs.
    */
  def minhashSignature(hashCol: Column, k: Int): Column = {
    val coeffs = minhashCoeffs(k)
    array(coeffs.map { case (a, b) =>
      array_min(transform(hashCol, h => (lit(a) * h + lit(b)) % lit(MinhashP)))
    }: _*)
  }

  /** Exact Jaccard similarity of two array columns (over distinct
    * elements), rounded to 6 dp.
    */
  def jaccard(a: Column, b: Column): Column =
    jaccardDistinct(array_distinct(a), array_distinct(b))

  /** Jaccard for inputs already known duplicate-free (e.g.
    * `graft_shingle_hashes` output) — skips four array_distinct passes per pair,
    * which dominate blocked all-pairs scans.
    */
  def jaccardDistinct(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    round(inter.cast("double") / (size(a) + size(b) - inter), 6)
  }

  /** jaccardDistinct for long arrays via the native intersect-count
    * expression (no intersection array materialized per pair).
    */
  def jaccardLongDistinct(a: Column, b: Column): Column = {
    val inter = call_function("graft_intersect_count", a, b)
    round(inter.cast("double") / (size(a) + size(b) - inter), 6)
  }

  /** Default hot-bucket cap: LSH buckets larger than this are skipped.
    * 500 ids ⇒ ≤124,750 pairs per bucket — bounded work per task. Real
    * buckets at this size are pathological (identical boilerplate docs),
    * and those duplicates belong to exact dedup, not pair enumeration.
    */
  val DefaultMaxBucket: Int = 500

  /** Distinct unordered candidate pairs (id_a < id_b) of ids sharing a
    * bucket, with a hot-bucket cap.
    *
    * The cap is enforced with a windowed count BEFORE any per-bucket
    * array exists — a degenerate bucket (e.g. thousands of identical
    * docs) never materializes as one giant collect_list row, so there is
    * no straggler task and no O(bucket²) pair explosion. Skipping
    * oversized buckets is the standard LSH guard (pairs whose only
    * shared bucket is pathological are dropped; normal corpora are
    * unaffected — DedupSpec plants 10k identical docs to prove both).
    *
    * Pairs are generated inside each bucket from the sorted id list
    * (id_a < id_b by construction) — one aggregation pass, no
    * bucket⋈bucket self-join that would recompute the producing plan
    * once per side.
    */
  def bucketPairs(df: DataFrame, idCol: String, bucketCols: Seq[String],
                  maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val w = Window.partitionBy(bucketCols.map(col): _*)
    val sized = df
      .withColumn("_bsz", count(lit(1)).over(w))
      .filter(col("_bsz") > 1 && col("_bsz") <= maxBucket)
    val buckets = sized.groupBy(bucketCols.map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
    // compiled pair kernel (r15 opt): the interpreted transform/slice
    // HOF chain copied the id-array tail once per outer index
    buckets.select(explode(call_function("graft_pairs_long", col("_ids"))).as("_p"))
      .select(col("_p.a").as("id_a"), col("_p.b").as("id_b"))
      // r16: the distinct's final aggregate merges the full pair
      // stream and AQE starves it too (pair keys are byte-small);
      // pinKeyed makes the distinct's own exchange AQE-exempt
      .transform(d => ScaleOps.pinKeyed(d, col("id_a"), col("id_b")))
      .distinct() // one pair, however many buckets matched
  }

  /** Exact variant of [[bucketPairs]]: NO bucket is dropped (required by
    * exact joins like q128's PPJoin, where skipping a bucket loses true
    * pairs), yet no task ever materializes a whole oversized bucket's
    * pair set.
    *
    * Buckets of ≤ `chunk` ids take the [[bucketPairs]] array path. A
    * bigger bucket is split into id-ordered chunks of ≤ `chunk`; each
    * (chunkᵢ, chunkⱼ) combination with i ≤ j becomes ONE row, the rows
    * are hash-repartitioned so a degenerate bucket's ~(m/chunk)²/2
    * chunk-pairs spread across the cluster, and each row explodes at
    * most chunk² pairs. Work per task is bounded by chunk² regardless of
    * bucket size — the quadratic OUTPUT of a pathological bucket is
    * inherent to exactness, but it streams from many bounded tasks
    * instead of one straggler holding an O(bucket²) array.
    *
    * Chunks are id-ordered, so i < j guarantees every id in chunkᵢ is
    * less than every id in chunkⱼ and cross-chunk pairs are born
    * ordered; the i = j case reuses the triangular enumeration.
    */
  def bucketPairsExact(df: DataFrame, idCol: String, bucketCols: Seq[String],
                       chunk: Int = 256): DataFrame = {
    val bcols = bucketCols.map(col)
    // One exchange for the whole bucketing: collect each bucket's sorted
    // ids (a bucket row holds m IDS — linear, fine even for pathological
    // m — never the m² pairs), then explode the (i ≤ j) chunk-pair GRID
    // with two nested sequence-explodes and slice the two ≤ chunk-id
    // windows out BEFORE the spreading repartition. Generates pipeline
    // row-at-a-time, so the full _ids array is never copied per grid
    // cell, and post-slice rows carry at most 2·chunk ids. No self-join:
    // an earlier join-based version re-executed the entire producing
    // plan on the broadcast side.
    val buckets = df.groupBy(bcols: _*)
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
      .filter(size(col("_ids")) > 1)
      .withColumn("_nc", ((size(col("_ids")) + chunk - 1) / chunk).cast("int"))
    // compiled pair kernels (r15 opt) — tri for the diagonal cell,
    // cross for off-diagonal grid cells; both replace interpreted
    // transform/slice HOF chains that copied array tails per element
    val tri = call_function("graft_pairs_long", col("_ia"))
    val cross = call_function("graft_cross_long", col("_ia"), col("_ib"))
    buckets
      .select(bcols ++ Seq(col("_ids"), col("_nc"),
        explode(sequence(lit(0), col("_nc") - 1)).as("_ca")): _*)
      .select(bcols ++ Seq(col("_ids"), col("_ca"),
        explode(sequence(col("_ca"), col("_nc") - 1)).as("_cb")): _*)
      .select(bcols ++ Seq(col("_ca"), col("_cb"),
        slice(col("_ids"), col("_ca") * chunk + 1, lit(chunk)).as("_ia"),
        slice(col("_ids"), col("_cb") * chunk + 1, lit(chunk)).as("_ib")): _*)
      // the planner's ExpansionFanout spreads one bucket's chunk-pair
      // grid across tasks before this expansion
      .select(explode(
        when(col("_ca") < col("_cb"), cross) // id-ordered chunks ⇒ a < b already
          .otherwise(tri)).as("_p"))
      .select(col("_p.a").as("id_a"), col("_p.b").as("id_b"))
      // r16: pin the distinct's own exchange (see bucketPairs)
      .transform(d => ScaleOps.pinKeyed(d, col("id_a"), col("id_b")))
      .distinct() // one pair, however many buckets matched
  }

  /** All unordered member pairs (least, greatest) from each row's two
    * sorted long id arrays, chunk-bounded like [[bucketPairsExact]]:
    * used to expand a matched GROUP pair (two sets of exact-duplicate
    * documents) into document pairs without one row ever holding |a|·|b|
    * structs. Rows where `aCol` and `bCol` name the same column expand
    * the triangular within-group pairs instead.
    */
  def expandMemberPairs(df: DataFrame, aCol: String, bCol: String,
                        carry: Seq[String], chunk: Int = 256): DataFrame = {
    val nChunks = (c: Column) => ((size(c) + chunk - 1) / chunk).cast("int")
    val slices = (c: Column) =>
      transform(sequence(lit(0), nChunks(c) - 1), i => slice(c, i * chunk + 1, lit(chunk)))
    val within = aCol == bCol
    val both =
      if (within) {
        val base = df.select(carry.map(col) :+
          posexplode(slices(col(aCol))).as(Seq("_ca", "_ia")): _*)
        base.join(
          df.select(carry.map(col) :+
            posexplode(slices(col(aCol))).as(Seq("_cb", "_ib")): _*),
          carry).filter(col("_ca") <= col("_cb"))
      } else {
        // one generator per select: explode a-chunks first (keeping the
        // b array), then b-chunks
        df.select(carry.map(col) ++ Seq(col(bCol)) :+
            posexplode(slices(col(aCol))).as(Seq("_ca", "_ia")): _*)
          .select(carry.map(col) ++ Seq(col("_ca"), col("_ia")) :+
            posexplode(slices(col(bCol))).as(Seq("_cb", "_ib")): _*)
      }
    // compiled pair kernels, as in bucketPairsExact: id-ordered chunks
    // make an off-diagonal within-group cell a plain cross
    val cross = call_function("graft_cross_long", col("_ia"), col("_ib"))
    val pairs =
      if (within)
        when(col("_ca") < col("_cb"), cross)
          .otherwise(call_function("graft_pairs_long", col("_ia")))
      else cross
    both.select(carry.map(col) :+ explode(pairs).as("_p"): _*)
      .select(carry.map(col) ++ Seq(least(col("_p.a"), col("_p.b")).as("id_a"),
        greatest(col("_p.a"), col("_p.b")).as("id_b")): _*)
  }

  /** End-to-end MinHash-LSH near-duplicate pairs.
    *
    * @param df       input
    * @param idCol    unique document id column name
    * @param textCol  text column name
    * @param n        shingle width (words)
    * @param k        signature length
    * @param rowsPerBand r; bands = k / r
    * @param threshold minimum exact Jaccard for an emitted pair
    * @param blockCols extra equality columns: candidates must also agree
    *                  on these (they join the band-bucket key, so a
    *                  blocked corpus shards its buckets by block)
    * @param maxBucket hot-bucket cap, see [[bucketPairs]]
    * @return (id_a, id_b, jaccard) with id_a < id_b, one row per pair
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int, k: Int, rowsPerBand: Int,
                      threshold: Double,
                      blockCols: Seq[String] = Nil,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val keep = col(idCol) +: blockCols.map(col)
    // materialized once (lazy local checkpoint): referenced three times
    // below (band generation + both verification joins) — without it the
    // md5 shingle-hash scan re-runs per reference (self-join recompute).
    // The native kernel expression computes text → distinct shingle
    // hashes in one compiled pass — bit-identical to the declarative
    // shingle-hash pipeline (DedupSimilaritySpec asserts it) but without
    // the interpreted HOF pipeline and per-shingle hex→conv round-trip.
    val hashed = ScaleOps.fanIfNarrow(df, col(idCol))
      .select(keep :+
        call_function("graft_shingle_hashes", col(textCol), lit(n)).as("_sh"): _*)
      .localCheckpoint(false)
    // skinny (id, block…, band, hash) rows only — the shingle arrays
    // stay out of the candidate shuffle (at corpus scale they dominate
    // the bytes)
    val bands = hashed.select(
      keep :+ posexplode(
        call_function("graft_minhash_bands", col("_sh"), lit(k), lit(rowsPerBand)))
        .as(Seq("_b", "_h")): _*)
    val cand = bucketPairs(bands, idCol, blockCols ++ Seq("_b", "_h"), maxBucket)
    cand
      .join(hashed.select(col(idCol).as("id_a"), col("_sh").as("sh_a")), Seq("id_a"))
      .join(hashed.select(col(idCol).as("id_b"), col("_sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccardLongDistinct(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over an undirected pair graph — the cluster
    * step of near-dup removal: pair output (q36) says who matches whom,
    * components say which rows are THE SAME document family. Greedy
    * per-pair loser removal keeps every LOCAL minimum (a doc with no
    * smaller direct neighbor survives even when a smaller relative
    * exists two hops away), so one family can survive as several docs;
    * component labels keep exactly one canonical row per family.
    *
    * Iterative min-label propagation: each round every node takes the
    * minimum label among itself and its neighbors; converges in
    * O(graph diameter) rounds (near-dup families are shallow — a few
    * rounds in practice, `maxIter` bounds pathological chains). Each
    * round is one join + one groupBy on the node id — the same shuffle
    * key throughout, no driver-side graph state beyond the convergence
    * counter. Labels are min-ids, so the result is deterministic under
    * any partitioning.
    *
    * @return (id, cluster_id) for every id present in `pairs`;
    *         cluster_id = smallest id in the component.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25,
                          onRound: (Int, DataFrame) => Unit = (_, _) => ()): DataFrame = {
    // stationary symmetrized edges pre-partitioned+sorted on the
    // per-round join key (r15 opt): each round re-joins sym on dst and a
    // plain localCheckpoint forgets its layout under AQE, re-shuffling
    // the edge list every round
    val sym = org.apache.spark.sql.graft.GraftSqlBridge.localCheckpointByKey(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst"))),
      Seq("dst"))
    val init = sym.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .localCheckpoint(false)
    // silent non-convergence would return wrong (partially propagated)
    // labels on a component whose diameter exceeds maxIter — the loop
    // fails loudly instead
    FixpointLoop.iterateUntilFixpoint(init, maxIter, "connectedComponents",
        onRound = onRound) { labels =>
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy("src").agg(min("cluster_id").as("_nbr"))
      val next = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(labels("id"),
          least(col("cluster_id"), coalesce(col("_nbr"), col("cluster_id"))).as("_next"),
          col("cluster_id"))
        .localCheckpoint(false)
      val changed = next.filter(col("_next") < col("cluster_id")).count()
      (next.select(col("id"), col("_next").as("cluster_id")), changed == 0)
    }
  }

  /** SimHash: `bits`-wide locality-sensitive fingerprint of the distinct
    * token set. Bit b is set iff more token hashes have bit b set than
    * unset. Hamming-close simhashes ⇒ similar token distributions.
    *
    * One compiled pass ([[graft.expressions.SimhashKernel]]): md5 per
    * distinct token ONCE, all bit balances in a tight loop. The
    * previous Column-composed form (one `aggregate` fold per bit over
    * a shared md5 `transform`) relied on common-subexpression
    * elimination that higher-order CodegenFallback expressions don't
    * reliably get — q363's RDD-rank pipeline re-hashed every token
    * once per bit (measured 17 s vs ~2 s at sf0.1).
    */
  def simhash(text: Column, bits: Int): Column =
    call_function("graft_simhash", text, lit(bits))

  /** Per-train-doc shingle overlap against an eval corpus — the engine
    * behind the contamination checks (q62 delegates here) and the
    * curation pipeline's decontamination stage. Returns one row per
    * train doc: (idCol, n_grams, n_overlap, overlap_frac) — callers
    * threshold.
    *
    * Broadcast-vs-shuffle for the eval side is left to ADAPTIVE
    * execution: the distinct eval-gram relation sits behind a shuffle,
    * so AQE sees its true materialized size at runtime and converts the
    * join to broadcast-hash exactly when it fits — a better signal than
    * any doc-count heuristic (one 10-gram doc of 1 MB ≠ one tweet), one
    * code path at every scale, and no eager job at plan construction
    * (an earlier version ran a limit-capped count() on every call —
    * a driver round-trip even when the result was never executed).
    */
  def shingleOverlapVsEval(train: DataFrame, evalDocs: DataFrame,
                           idCol: String, textCol: String, n: Int): DataFrame = {
    val sh = (c: Column) => call_function("graft_shingle_hashes", c, lit(n))
    val evalGrams = evalDocs
      .select(explode(sh(col(textCol))).as("h"))
      .distinct()
      .withColumn("_hit", lit(1))
    ScaleOps.fanIfNarrow(train, col(idCol))
      .select(col(idCol),
        explode(sh(col(textCol))).as("h"))
      .join(evalGrams, Seq("h"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_overlap"))
      .withColumn("overlap_frac",
        round(col("n_overlap").cast("double") / col("n_grams"), 6))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS scheme): the distinct set of window-minimum k-gram hashes,
    * one minimum per length-`w` window of the positional gram stream.
    * The published GUARANTEE this buys over "every j-th gram" schemes:
    * any shared substring of ≥ w+k−1 tokens contributes at least one
    * IDENTICAL fingerprint to both documents, while expected density
    * stays ~2/(w+1) — position-robust coverage at a fixed budget.
    * Documents shorter than w grams keep their global minimum (the
    * short-doc guarantee). Returns (idCol, h) — distinct per doc.
    *
    * Scale shape: the gram stream comes from the compiled
    * `graft_shingle_hash_list` kernel (one md5 per gram); the window
    * minimum partitions BY DOCUMENT (bounded partitions — a window
    * over a key, never a global window); the distinct is the only
    * corpus-wide shuffle and carries (id, long) pairs.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    winnowFromGrams(
      docs.select(col(idCol),
        posexplode(call_function("graft_shingle_hash_list", col(textCol), lit(k)))
          .as(Seq("pos", "h"))),
      idCol, w)
  }

  /** [[winnowFingerprints]] over an ALREADY-HASHED positional gram
    * stream (idCol, pos, h) — callers that also need per-doc gram
    * counts hash the corpus ONCE and feed both consumers from the
    * same relation instead of paying the md5-per-gram kernel twice.
    */
  def winnowFromGrams(grams: DataFrame, idCol: String, w: Int): DataFrame = {
    val frame = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("_wmin", min(col("h")).over(frame))
      .withColumn("_cnt", count(lit(1)).over(frame))
      .withColumn("_m", count(lit(1)).over(Window.partitionBy(idCol)))
      .filter(col("_cnt") === w || (col("pos") === 0 && col("_m") < w))
      .select(col(idCol), col("_wmin").as("h"))
      .distinct()
  }

  /** Winnowing as a CANDIDATE GENERATOR (not just the q372 census):
    * near-dup document pairs from shared winnowing fingerprints, the
    * MOSS scheme's second half. Each document's fingerprint set is the
    * distinct window-minimum k-gram hashes ([[winnowFingerprints]]);
    * documents sharing ≥ `minShared` fingerprints become a candidate
    * pair with the shared count carried. The scheme's guarantee makes
    * this the LOCALIZED alternative to MinHash-LSH: any shared token
    * run of ≥ w+k−1 tokens forces ≥1 identical fingerprint into both
    * docs, so recall is per-RUN (plagiarism, quotation, template
    * reuse), not per-whole-document-Jaccard — the two generators catch
    * different near-dup geometries (the bench A/Bs them).
    *
    * Scale shape is [[bucketPairs]]' exactly: fingerprint buckets sized
    * by a windowed count BEFORE any per-bucket array exists, hot
    * fingerprints (> `maxBucket` docs — corpus boilerplate) dropped
    * before pair expansion, pairs born ordered from the sorted
    * in-bucket id list. One corpus-wide shuffle on (id, fingerprint).
    *
    * @return (id_a, id_b, n_shared_fp), id_a < id_b
    */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int, w: Int, minShared: Int = 1,
                  maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
    val sized = fps
      .withColumn("_bsz", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("_bsz") > 1 && col("_bsz") <= maxBucket)
    // fps is distinct per (doc, h), so bucket ids are distinct and the
    // triangular expansion emits each shared fingerprint's pair ONCE —
    // the groupBy count below is exactly |fp(a) ∩ fp(b)|
    sized.groupBy("h")
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
      .select(explode(flatten(transform(
        sequence(lit(1), size(col("_ids")) - 1),
        i => transform(slice(col("_ids"), i + 1, size(col("_ids"))),
          b => struct(element_at(col("_ids"), i).as("id_a"), b.as("id_b")))))).as("_p"))
      .select(col("_p.id_a").as("id_a"), col("_p.id_b").as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minShared)
  }

  /** Substring-level exact dedup: MAXIMAL cross-document duplicate runs
    * — every shared span of ≥ `minTokens` consecutive tokens between
    * two documents, the suffix-array-style "remove any ≥50-token span
    * that repeats across docs" family (the gap the doc-level exact /
    * MinHash / SimHash / winnowing quartet leaves: none of those says
    * WHERE the shared text sits or how long it runs).
    *
    * Input is the positional gram stream `(idCol, pos, h)` — the SAME
    * relation [[winnowFromGrams]] consumes, so a curation pass hashes
    * the corpus once and feeds both. `h` is the k-token shingle hash at
    * 0-based token position `pos`.
    *
    * The suffix-array formulation needs a global sort of every suffix —
    * a single corpus-wide ordered structure that does not shard. This
    * one gets the same ≥ `minTokens` spans from run-id arithmetic:
    *
    *  1. occurrence lists per gram hash (ONE corpus-wide groupBy,
    *     carrying only (id, pos) pairs), with grams occurring more than
    *     `maxOccurrences` times dropped BEFORE any pair exists — the
    *     [[bucketPairs]] hot-bucket discipline (a gram in thousands of
    *     places is boilerplate; its pairs would be quadratic and belong
    *     to the line/doc-level dedups);
    *  2. ordered cross-document occurrence pairs from the in-bucket
    *     triangular expansion — no self-join, no all-pairs;
    *  3. matched pairs at the same offset `d = pos_a − pos_b` are
    *     consecutive exactly when their positions are: the island key
    *     `pos_a − row_number()` (per (id_a, id_b, d), a window bounded
    *     by document length, never corpus-wide) groups each maximal run,
    *     and a run of g grams covers g + k − 1 tokens.
    *
    * The cap is the one exactness trade: a run CONTAINING a dropped
    * hot gram reports as two shorter runs (or drops below `minTokens`).
    * That is the standard LSH-guard trade — bounded work per task at
    * any corpus size — and the cap is a parameter, not a constant.
    *
    * @return (id_a, id_b, a_start, b_start, n_tokens), id_a < id_b,
    *         one row per maximal run; starts are 0-based token offsets
    */
  def duplicateRuns(grams: DataFrame, idCol: String, k: Int, minTokens: Int,
                    maxOccurrences: Int = DefaultMaxBucket): DataFrame =
    runsImpl(grams.withColumn("_new", lit(true)), idCol, "_new",
      k, minTokens, maxOccurrences)

  /** Incremental [[duplicateRuns]]: the batch that just arrived checked
    * against the standing corpus WITHOUT re-enumerating base×base pairs
    * — the substring layer of the incremental-curation story. `newCol`
    * (boolean) marks the arriving documents in the unified gram stream;
    * only runs touching ≥1 new document come back. Two scale savings
    * over re-running the batch pass: grams whose occurrence bucket
    * holds no new member drop BEFORE any list is collected (the same
    * windowed pass that enforces the hot cap), and the in-bucket
    * expansion discards old×old pairs at birth — so pair work is
    * ∝ new×all, not all². The hot-gram cap still counts occurrences
    * over the WHOLE corpus (base + new), so an emitted run means
    * exactly what the batch pass would have said about it.
    */
  def duplicateRunsIncremental(grams: DataFrame, idCol: String, newCol: String,
                               k: Int, minTokens: Int,
                               maxOccurrences: Int = DefaultMaxBucket): DataFrame =
    runsImpl(grams, idCol, newCol, k, minTokens, maxOccurrences)

  /** The REMOVAL half of [[duplicateRuns]] (Lee et al. 2021's cut
    * step): disjoint per-document cut intervals from run rows. The
    * keeper of every run is its FIRST occurrence — lexicographic
    * min (doc_id, start), which the run rows make mechanical: pairs
    * are born with id_a < id_b, so the a-side always survives and the
    * cut side is always (id_b, b_start, n_tokens). A document may keep
    * a span against one partner and lose it against an earlier one —
    * the per-pair greedy rule, deterministic by construction.
    *
    * Overlapping and touching intervals within a doc MERGE before any
    * cut (the merge-before-cut edge: two runs from different partners
    * may overlap mid-span; cutting them independently would double-
    * count). Interval merge is the classic running-max island pass —
    * windows partition BY DOCUMENT, bounded by per-doc run count,
    * never corpus-wide.
    *
    * @return (doc_id, start, end) — disjoint, 0-based token ranges,
    *         end exclusive
    */
  def cutIntervals(runs: DataFrame): DataFrame = {
    val cuts = runs.select(col("id_b").as("doc_id"),
      col("b_start").as("start"),
      (col("b_start") + col("n_tokens")).as("end"))
    val w = Window.partitionBy("doc_id").orderBy("start", "end")
    val prevMax = max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    cuts
      .withColumn("_new",
        when(col("start") > coalesce(prevMax, lit(-1L)), 1).otherwise(0))
      .withColumn("_isl",
        sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "_isl")
      .agg(min("start").as("start"), max("end").as("end"))
      .select("doc_id", "start", "end")
  }

  /** Cut the duplicated spans out of the corpus and reassemble every
    * document from its surviving tokens (q141's ordinal-reassembly
    * recipe applied to run removal). Tokens inside any merged cut
    * interval drop; the rest rejoin in position order with single
    * spaces — the token-stream representation every dedup layer here
    * shares, so the rebuilt text is byte-exact given the tokens.
    *
    * Scale shape: cut intervals explode to (doc, pos) rows — linear in
    * tokens REMOVED, bounded by corpus token count; the anti-join and
    * the reassembly groupBy both shuffle on doc id once.
    *
    * @return (idCol, n_tokens, n_kept, n_cut_intervals, textCol) —
    *         every input doc appears; uncut docs rebuild whole
    */
  def cutRuns(docs: DataFrame, idCol: String, textCol: String,
              runs: DataFrame): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "_tok")))
    val iv = cutIntervals(runs)
    val cutPos = iv.select(col("doc_id").as(idCol),
      explode(sequence(col("start"), col("end") - 1)).as("pos"))
    val kept = toks.join(cutPos, Seq(idCol, "pos"), "left_anti")
    val rebuilt = kept.groupBy(idCol)
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("_tok")))),
          x => x.getField("_tok")), " ").as("_rebuilt"))
    val nIv = iv.groupBy("doc_id").agg(count(lit(1)).as("n_cut_intervals"))
      .withColumnRenamed("doc_id", idCol)
    docs.select(col(idCol),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .join(nIv, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_cut_intervals"), lit(0L)).as("n_cut_intervals"),
        coalesce(col("_rebuilt"), lit("")).as(textCol))
  }

  /** Detection + removal in one pass: [[duplicateRuns]] over the
    * corpus's k-gram stream, then [[cutRuns]] — every shared span of
    * ≥ `minTokens` tokens survives only at its first occurrence.
    */
  def removeDuplicateRuns(docs: DataFrame, idCol: String, textCol: String,
                          k: Int, minTokens: Int,
                          maxOccurrences: Int = DefaultMaxBucket): DataFrame = {
    val grams = docs.select(col(idCol),
      posexplode(call_function("graft_shingle_hash_list", col(textCol), lit(k)))
        .as(Seq("pos", "h")))
    cutRuns(docs, idCol, textCol,
      duplicateRuns(grams, idCol, k, minTokens, maxOccurrences))
  }

  private def runsImpl(grams: DataFrame, idCol: String, newCol: String,
                       k: Int, minTokens: Int, maxOccurrences: Int): DataFrame = {
    require(k >= 1 && minTokens >= k,
      s"duplicateRuns: need k >= 1 and minTokens >= k (got k=$k, minTokens=$minTokens)")
    // windowed count, not a groupBy+join: the cap must see the
    // occurrence list's size without materializing oversized lists.
    // The has-new max rides the SAME window spec — one exchange.
    val byH = Window.partitionBy("h")
    val occ = grams
      .withColumn("_occ", count(lit(1)).over(byH))
      .withColumn("_hasNew", max(col(newCol).cast("int")).over(byH))
      .filter(col("_occ") >= 2 && col("_occ") <= maxOccurrences &&
        col("_hasNew") === 1)
    val buckets = occ.groupBy("h")
      .agg(sort_array(collect_list(
        struct(col(idCol).cast("long").as("id"), col("pos").cast("long").as("p"),
          col(newCol).as("n")))).as("_os"))
    // struct sort order is (id, p, n) lexicographic and (id, p) is
    // unique, so the triangular expansion births pairs with
    // (id_a, pos_a) <= (id_b, pos_b); same-document matches (internal
    // repetition) are not runs "across docs" and drop here, as do
    // old×old pairs (no new side)
    val pairs = buckets
      .select(explode(flatten(transform(
        sequence(lit(1), size(col("_os")) - 1),
        i => transform(slice(col("_os"), i + 1, size(col("_os"))),
          b => struct(element_at(col("_os"), i).as("a"), b.as("b")))))).as("_p"))
      .filter(col("_p.a.n") || col("_p.b.n"))
      .select(col("_p.a.id").as("id_a"), col("_p.a.p").as("pos_a"),
        col("_p.b.id").as("id_b"), col("_p.b.p").as("pos_b"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("_d", col("pos_a") - col("pos_b"))
    // (id_a, id_b, _d, pos_a) is unique — (id, pos) carries exactly one
    // gram and d pins pos_b — so row_number is deterministic
    val w = Window.partitionBy("id_a", "id_b", "_d").orderBy("pos_a")
    pairs
      .withColumn("_isl", col("pos_a") - row_number().over(w))
      .groupBy("id_a", "id_b", "_d", "_isl")
      .agg(min("pos_a").as("a_start"), min("pos_b").as("b_start"),
        (count(lit(1)) + lit(k - 1).cast("long")).as("n_tokens"))
      .filter(col("n_tokens") >= minTokens)
      .select("id_a", "id_b", "a_start", "b_start", "n_tokens")
  }
}
