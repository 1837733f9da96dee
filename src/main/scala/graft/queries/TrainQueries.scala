package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Similarity, TextAnalysis => TA}
import graft.queries.Q.{duckCos, duckDot, duckHash64}

/** Round-3 training-data operators: statistical quality signals
  * (n-gram language-model scoring), semantic deduplication over
  * embedding clusters, cross-document duplicate-span detection,
  * deterministic weighted sampling, incremental dedup against a
  * fingerprint store, and the BPE pair-count (tokenizer-training)
  * step.
  *
  * Scale theme, as elsewhere: per-document signals are linear
  * explode + re-group chains keyed on doc_id (shuffle bytes ∝ token
  * stream); corpus statistics re-enter as broadcasts; pairwise work
  * only ever happens inside explicitly size-bounded cells.
  */
object TrainQueries {

  private val duckTokens = "string_split_regex(trim(text), '\\s+')"

  /** q77 — bigram language-model scoring: train an add-one-smoothed
    * bigram LM on the corpus itself, then score every document by its
    * average bigram log-probability — the statistical-quality signal
    * (CCNet/Gopher-style "perplexity filter") that catches gibberish
    * a rule-based quality score misses. Low avg_logprob = improbable
    * token transitions = drop candidate.
    *
    * Plan shape: one compiled-kernel pass produces per-occurrence
    * (left-unigram-hash, bigram-hash) pairs — zip of the n=1 and n=2
    * shingle streams, exploded once and materialized (localCheckpoint)
    * because three consumers would otherwise re-run the scan. Bigram
    * and left-context counts are two linear hash aggregations; scoring
    * is two shuffle joins on vocabulary-sized count tables (NOT
    * broadcast: a 100 TB corpus's bigram table is itself huge) plus a
    * one-row broadcast of |V|; the final per-doc mean is one doc_id
    * shuffle. Nothing is pairwise, nothing is driver-side.
    *
    * Determinism: ln() of identical rational inputs rounds to 1e-4
    * fixed-point per OCCURRENCE, then sums as exact longs — the same
    * recipe the gate already proves for q57's ln-based tf-idf.
    */
  val q77 = Q("q77_bigram_lm",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .filter(TA.tokenCount(col("text")) >= 2)
        .select(col("doc_id"),
          call_function("graft_shingle_hash_list", col("text"), lit(1)).as("_u"),
          call_function("graft_shingle_hash_list", col("text"), lit(2)).as("_b"))
      val pairs = docs
        .select(col("doc_id"),
          explode(zip_with(slice(col("_u"), lit(1), size(col("_b"))), col("_b"),
            (u, b) => struct(u.as("uh"), b.as("bh")))).as("_p"))
        .select(col("doc_id"), col("_p.uh").as("uh"), col("_p.bh").as("bh"))
        .localCheckpoint(false)
      val cb = pairs.groupBy("bh").agg(count(lit(1)).as("cb"))
      val cu = pairs.groupBy("uh").agg(count(lit(1)).as("cu"))
      val v = pairs.agg(countDistinct(col("uh")).as("_v"))
      pairs.join(cb, Seq("bh")).join(cu, Seq("uh")).crossJoin(broadcast(v))
        .select(col("doc_id"),
          round(log((col("cb") + lit(1)).cast("double")
            / (col("cu") + col("_v")).cast("double")) * 1e4).cast("long").as("_lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          (sum(col("_lp")).cast("double") / count(lit(1)) / 1e4).as("avg_logprob"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents
                 WHERE len($duckTokens) >= 2),
      p AS (SELECT doc_id,
              unnest(list_transform(range(1, len(w)),
                i -> ${duckHash64("w[i]")} & ${Dedup.MinhashP})) AS uh,
              unnest(list_transform(range(1, len(w)),
                i -> ${duckHash64("w[i] || ' ' || w[i+1]")} & ${Dedup.MinhashP})) AS bh
            FROM t),
      cb AS (SELECT bh, count(*) AS cb FROM p GROUP BY 1),
      cu AS (SELECT uh, count(*) AS cu FROM p GROUP BY 1),
      v AS (SELECT count(DISTINCT uh) AS v FROM p),
      sc AS (SELECT doc_id,
               CAST(round(ln(CAST(cb + 1 AS DOUBLE) / CAST(cu + v AS DOUBLE))
                          * 10000.0) AS BIGINT) AS lp
             FROM p JOIN cb USING (bh) JOIN cu USING (uh) CROSS JOIN v)
      SELECT doc_id, count(*) AS n_bigrams,
             CAST(sum(lp) AS DOUBLE) / count(*) / 10000.0 AS avg_logprob
      FROM sc GROUP BY doc_id ORDER BY doc_id"""))

  /** q78 — SemDedup: k-means-style cells (k = 32 seeded centroids,
    * the q74 assignment machinery), then exact pairwise cosine ONLY
    * within a cell; a vector is dropped when any smaller-id cell-mate
    * sits above the similarity threshold. Within-cluster pairwise is
    * the SemDedup algorithm's actual shape — the scale knob is k,
    * chosen ∝ N/target_cell_size so per-cell work stays constant
    * (32 cells here; a 100 TB corpus picks k in the millions and
    * feeds centroids from the q74 Lloyd step, broadcast in chunks or
    * pre-partitioned by cell prefix). Assignment is one broadcast
    * cross-score + per-vector argmin (no shuffle of the corpus);
    * the pair join shuffles each vector once on its cell id.
    *
    * Threshold 0.40 reflects the synthetic embeddings' planted
    * similarity range (max within-cell cosine ≈ 0.49); the operator
    * is threshold-parametric.
    */
  val q78 = Q("q78_semdedup",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val cent = emb.filter(col("vec_id") < 32)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"))
      val scored = emb.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("embedding"), col("cid"),
          (Similarity.dotNative(col("embedding"), col("embedding"))
            - lit(2.0) * Similarity.dotNative(col("embedding"), col("cv"))
            + Similarity.dotNative(col("cv"), col("cv"))).as("_dist"))
      val assigned = scored.withColumn("_rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("_dist").asc, col("cid").asc)))
        .filter(col("_rn") === 1)
        .select(col("vec_id"), col("embedding"), col("cid").as("cell"))
        .localCheckpoint(false) // self-joined below: don't re-score per side
      val a = assigned.select(col("vec_id").as("_va"),
        col("embedding").as("_ea"), col("cell"))
      val b = assigned.select(col("vec_id").as("_vb"),
        col("embedding").as("_eb"), col("cell"))
      val dropped = a.join(b, Seq("cell"))
        .filter(col("_va") < col("_vb"))
        .filter(Similarity.cosine(col("_ea"), col("_eb")) >= 0.40)
        .select(col("_vb").as("vec_id")).distinct()
        .withColumn("_drop", lit(true))
      assigned.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("_drop"), lit(false)).as("dropped"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cv
                 FROM embeddings WHERE vec_id < 32),
      scored AS (SELECT vec_id, embedding, cid,
                   ${duckDot("embedding", "embedding")}
                     - 2.0 * ${duckDot("embedding", "cv")}
                     + ${duckDot("cv", "cv")} AS dist
                 FROM embeddings CROSS JOIN c),
      assigned AS (SELECT vec_id, embedding, cid AS cell FROM (
                     SELECT *, row_number() OVER (
                       PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
                     FROM scored) WHERE rn = 1),
      dropped AS (SELECT DISTINCT y.vec_id
                  FROM assigned x JOIN assigned y
                    ON x.cell = y.cell AND x.vec_id < y.vec_id
                  WHERE ${duckCos("x.embedding", "y.embedding")} >= 0.40)
      SELECT a.vec_id, a.cell, (d.vec_id IS NOT NULL) AS dropped
      FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
      ORDER BY a.vec_id"""))

  /** q79 — cross-document duplicate-span detection: flag every 8-gram
    * occurrence whose shingle appears in MORE THAN ONE document, and
    * report per document how much of it is made of such shared spans
    * (the document-level signal behind substring-level dedup à la
    * "Deduplicating Training Data Makes Language Models Better" —
    * exact span removal needs suffix automata; the per-doc shared
    * fraction is the linear-shuffle triage that decides which docs
    * enter that expensive path).
    *
    * Plan: compiled shingle kernel → explode → (gh, doc_id) count
    * (one shuffle, also dedups the stream), per-shingle doc count as
    * a window over gh (second shuffle), per-doc rollup (third). All
    * three shuffles are skinny (doc_id + long + counts) and linear in
    * the token stream; no pairwise anything.
    */
  val q79 = Q("q79_dup_ngram_spans",
    (s, dir) => {
      val gd = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(call_function("graft_shingle_hash_list", col("text"), lit(8))).as("gh"))
        .groupBy("gh", "doc_id").agg(count(lit(1)).as("cnt"))
      val nd = gd.withColumn("_nd", count(lit(1)).over(Window.partitionBy("gh")))
      nd.groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_grams"),
          sum(when(col("_nd") >= 2, col("cnt")).otherwise(0L)).as("shared_occ"))
        .withColumn("shared_frac",
          round(col("shared_occ").cast("double") / col("n_grams"), 6))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      g AS (SELECT doc_id, unnest(
              CASE WHEN len(w) < 8
                   THEN [${duckHash64("array_to_string(w, ' ')")} & ${Dedup.MinhashP}]
                   ELSE list_transform(range(1, len(w) - 6),
                          i -> ${duckHash64(
                            "w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || " +
                            "w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]")}
                            & ${Dedup.MinhashP})
              END) AS gh
            FROM t),
      gd AS (SELECT gh, doc_id, count(*) AS cnt FROM g GROUP BY 1, 2),
      nd AS (SELECT *, count(*) OVER (PARTITION BY gh) AS ndocs FROM gd)
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS shared_occ,
             round(CAST(sum(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END) AS DOUBLE)
                   / sum(cnt), 6) AS shared_frac
      FROM nd GROUP BY doc_id ORDER BY doc_id"""))

  /** q80 — deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis A-ES): each row draws u ∈ (0,1] from its
    * md5 hash and ranks by the exponential key -ln(u)/w; the k
    * smallest keys are an exact weighted sample, reproducible across
    * engines, partitionings and reruns (the property grid-search /
    * data-ablation pipelines need). Weight = n_chars: longer docs
    * proportionally likelier.
    *
    * Plan: map-only key computation + TakeOrderedAndProject — the
    * top-k never materializes a sort of the full corpus; at 1000
    * executors each task ships only its local k.
    */
  val q80 = Q("q80_weighted_sample",
    (s, dir) => {
      val p = Dedup.MinhashP
      val docs = Tables.load(s, dir, "documents")
        .filter(col("n_chars") > 0)
        .withColumn("_u",
          ((graft.functions.Hashing.hash64(concat(lit("ws|"), col("doc_id")))
            .bitwiseAND(lit(p)) + lit(1)).cast("double") / lit((p + 1).toDouble)))
        .withColumn("_key", -log(col("_u")) / col("n_chars").cast("double"))
      // 6-dp rounding BEFORE the ordering: both engines then rank the
      // identical quantized keys (doc_id breaks ties), so the selected
      // 100 can't flip on a 1-ulp ln() difference at the boundary
      docs.select(col("doc_id"), col("n_chars"), round(col("_key"), 6).as("es_key"))
        .orderBy(col("es_key").asc, col("doc_id").asc)
        .limit(100)
    },
    Some(s"""
      SELECT doc_id, n_chars,
             round(-ln(CAST((${duckHash64("concat('ws|', CAST(doc_id AS VARCHAR))")}
                             & ${Dedup.MinhashP}) + 1 AS DOUBLE)
                       / ${(Dedup.MinhashP + 1).toDouble})
                   / CAST(n_chars AS DOUBLE), 6) AS es_key
      FROM documents WHERE n_chars > 0
      ORDER BY es_key ASC, doc_id ASC LIMIT 100"""))

  /** q81 — incremental dedup against a fingerprint store: the daily
    * batch (doc_id ≡ 0 mod 5 stands in) survives only if its content
    * fingerprint is (a) absent from the already-ingested store (the
    * other docs) and (b) first within the batch. This is the CDC-shaped
    * dedup a continuously-fed corpus runs instead of re-deduping 100 TB
    * nightly: the store side is a parquet fingerprint index read
    * fingerprint-bucketed, the anti-join shuffles only the new batch
    * (or is broadcast when the batch is small), and the within-batch
    * keep-first reuses the store's shuffle key.
    */
  val q81 = Q("q81_incremental_dedup",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .withColumn("fp", TA.contentFingerprint(col("text")))
      val store = docs.filter(col("doc_id") % 5 =!= 0).select(col("fp"))
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val fresh = batch.join(store, Seq("fp"), "left_anti")
      graft.operators.Relational.dedupKeepFirst(fresh, Seq("fp"), Seq(col("doc_id").asc))
        .select(col("doc_id"), col("fp"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
                 FROM documents),
      store AS (SELECT fp FROM d WHERE doc_id % 5 <> 0),
      batch AS (SELECT * FROM d WHERE doc_id % 5 = 0),
      fresh AS (SELECT * FROM batch WHERE fp NOT IN (SELECT fp FROM store))
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM fresh)
      WHERE rn = 1 ORDER BY doc_id"""))

  /** q82 — BPE pair-count (the tokenizer-training step): across the
    * corpus's letter-run words, count every adjacent character pair;
    * the most frequent pair is the next BPE merge. One merge round =
    * exactly this aggregation re-run on re-segmented words, so the
    * distributed shape (two nested linear explodes → one pair-key
    * shuffle → top-k) IS the trainer's inner loop. Explodes multiply
    * rows but stay ∝ corpus bytes; the group key is a 2-char string
    * (bounded alphabet² keyspace — the final agg is tiny regardless
    * of corpus size).
    */
  val q82 = Q("q82_bpe_merge",
    (s, dir) => {
      val words = Tables.load(s, dir, "documents")
        .select(explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+"), lit(0))).as("w"))
        .filter(length(col("w")) >= 2)
      words
        .select(col("w"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(col("w").substr(col("i"), lit(2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(20)
    },
    Some("""
      WITH words AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
                     FROM documents),
      pairs AS (SELECT substr(w, i, 2) AS pair
                FROM words CROSS JOIN unnest(range(1, length(w))) AS u(i)
                WHERE length(w) >= 2)
      SELECT pair, count(*) AS cnt FROM pairs
      GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 20"""))

  /** q83 — product-quantization ANN (the IVF-PQ memory path): 64-dim
    * vectors become 8 one-byte codes (8 subspaces × 16-entry
    * codebooks), and search runs against an asymmetric-distance table
    * (query sub-vector ↔ codebook entry) instead of raw floats — the
    * representation that makes billion-vector indexes fit executor
    * memory (32× smaller than float32).
    *
    * Every stage is broadcast + linear: codebooks are 8×16 sub-vectors
    * (seeded from the first 16 corpus vectors, the q74 convention);
    * encoding explodes each vector into its 8 sub-vectors, scores the
    * 16 codes per subspace under a broadcast codebook, and argmins per
    * (vec_id, subspace); search joins each code against the broadcast
    * query-side distance contributions and sums per vec_id. No
    * pairwise joins, no corpus shuffle beyond the (vec_id, subspace)
    * rollup.
    */
  val q83 = Q("q83_pq_ann",
    (s, dir) => {
      val S = 8; val D = 8; val K = 16
      val emb = Tables.load(s, dir, "embeddings")
      val subs = emb.select(col("vec_id"), col("embedding"),
          explode(sequence(lit(0), lit(S - 1))).as("sub"))
        .select(col("vec_id"), col("sub"),
          slice(col("embedding"), col("sub") * D + 1, lit(D)).as("subv"))
      val codebook = subs.filter(col("vec_id") < K)
        .select(col("vec_id").cast("int").as("code"), col("sub"),
          col("subv").as("cv"))
      // L2² via the dot identity on the codegen'd native kernel — an
      // interpreted zip_with/aggregate here runs 16 codes × 8 subspaces
      // per vector (measured ~3× slower end-to-end)
      def l2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        Similarity.dotNative(a, a) - lit(2.0) * Similarity.dotNative(a, b) +
          Similarity.dotNative(b, b)
      val w = Window.partitionBy("vec_id", "sub")
        .orderBy(col("_d").asc, col("code").asc)
      val codes = subs.join(broadcast(codebook), Seq("sub"))
        .withColumn("_d", round(l2(col("subv"), col("cv")), 9))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("vec_id"), col("sub"), col("code"))
      // asymmetric distance table: the query's 8×16 contributions
      val adt = subs.filter(col("vec_id") === 0)
        .select(col("sub").as("_qs"), col("subv").as("qv"))
        .join(broadcast(codebook), col("_qs") === codebook("sub"))
        .select(col("_qs").as("sub"), col("code"),
          round(l2(col("qv"), col("cv")), 9).as("contrib"))
      codes.join(broadcast(adt), Seq("sub", "code"))
        .groupBy("vec_id")
        .agg(round(sum(col("contrib")), 6).as("adc_dist"))
        .orderBy(col("adc_dist").asc, col("vec_id").asc)
        .limit(10)
    },
    Some(s"""
      WITH subs AS (
        SELECT vec_id, s.sub, embedding[s.sub * 8 + 1 : s.sub * 8 + 8] AS subv
        FROM embeddings CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s),
      cb AS (SELECT CAST(vec_id AS INTEGER) AS code, sub, subv AS cv
             FROM subs WHERE vec_id < 16),
      scored AS (SELECT t.vec_id, t.sub, cb.code,
                   round(${duckDot("t.subv", "t.subv")}
                     - 2.0 * ${duckDot("t.subv", "cb.cv")}
                     + ${duckDot("cb.cv", "cb.cv")}, 9) AS d
                 FROM subs t JOIN cb USING (sub)),
      codes AS (SELECT vec_id, sub, code FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) AS rn
                  FROM scored) WHERE rn = 1),
      adt AS (SELECT q.sub, cb.code,
                round(${duckDot("q.subv", "q.subv")}
                  - 2.0 * ${duckDot("q.subv", "cb.cv")}
                  + ${duckDot("cb.cv", "cb.cv")}, 9) AS contrib
              FROM (SELECT sub, subv FROM subs WHERE vec_id = 0) q
              JOIN cb USING (sub))
      SELECT c.vec_id, round(sum(contrib), 6) AS adc_dist
      FROM codes c JOIN adt USING (sub, code)
      GROUP BY c.vec_id ORDER BY adc_dist ASC, vec_id ASC LIMIT 10"""))

  /** q84 — sequence packing by concatenation: lay every document's
    * tokens out on one global axis (ordered by doc_id), cut context
    * windows of 512 tokens, and report where each document lands —
    * the concat-and-chunk step that turns a curated corpus into
    * fixed-length training sequences.
    *
    * The global running offset is the scale problem: a naive
    * unpartitioned window moves the corpus through one task. Here it
    * is a two-level prefix sum — per-shard token subtotals (tiny:
    * one row per shard) broadcast back as shard base offsets, plus a
    * within-shard running sum — so every task computes exact global
    * offsets while shuffling only its shard. The oracle checks the
    * distributed decomposition against the straightforward global
    * window.
    *
    * Shard width scales with the corpus: default ⌈√n⌉ balances the
    * two levels — the level-1 prefix sum (whitelisted in PlanSpec's
    * global-window audit) runs over ~n/shardW ≈ √n shard rows and each
    * within-shard window over ~shardW ≈ √n rows, so at 10⁹ docs both
    * levels stay ~31k rows instead of a 10⁷-row level-1 relation at
    * the old fixed width of 100. The decomposition is exact at ANY
    * width, so the oracle is width-independent — the driver gate at
    * three scales exercises three different widths.
    */
  val q84 = Q("q84_sequence_pack",
    (s, dir) => {
      val ctx = 512L
      val docs = Tables.load(s, dir, "documents")
      // one cheap metadata count at construction (parquet row count)
      val shardW = math.max(1L, math.ceil(math.sqrt(docs.count().toDouble)).toLong)
      val toks = docs
        .select(col("doc_id"), TA.tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("shard", (col("doc_id") / shardW).cast("long"))
      val shardTotals = toks.groupBy("shard").agg(sum("n_tokens").as("_st"))
      val shardBase = shardTotals
        .withColumn("base",
          coalesce(sum(col("_st")).over(
            Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select(col("shard"), col("base"))
      val wIn = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      toks.join(broadcast(shardBase), Seq("shard"))
        .withColumn("offset",
          col("base") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
        .select(col("doc_id"), col("n_tokens"), col("offset"),
          (col("offset") / ctx).cast("long").as("first_seq"),
          ((col("offset") + greatest(col("n_tokens"), lit(1L)) - 1) / ctx)
            .cast("long").as("last_seq"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, CAST(len($duckTokens) AS BIGINT) AS n_tokens
                 FROM documents),
      o AS (SELECT doc_id, n_tokens,
              CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS "offset"
            FROM t)
      SELECT doc_id, n_tokens, "offset",
             CAST(floor("offset" / 512) AS BIGINT) AS first_seq,
             CAST(floor(("offset" + greatest(n_tokens, 1) - 1) / 512) AS BIGINT) AS last_seq
      FROM o ORDER BY doc_id"""))

  /** q85 — vocabulary coverage: the 200 most frequent tokens with
    * their corpus share and the running coverage curve — the
    * truncate-the-vocab decision input for tokenizer / filter design.
    * Token counting is one linear explode + hash agg; the top-200 is
    * TakeOrderedAndProject (never a global sort); the cumulative sum
    * runs over the 200 survivors only, so the window is trivially
    * small no matter the corpus size; the corpus total rides in as a
    * one-row broadcast.
    */
  val q85 = Q("q85_vocab_coverage",
    (s, dir) => {
      val counts = Tables.load(s, dir, "documents")
        .select(explode(TA.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum("cnt").as("_total"))
      val top = counts.orderBy(col("cnt").desc, col("token").asc).limit(200)
      val w = Window.orderBy(col("cnt").desc, col("token").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("token").asc)))
        .withColumn("coverage",
          round(sum(col("cnt")).over(w).cast("double") / col("_total"), 6))
        .select(col("rank"), col("token"), col("cnt"), col("coverage"))
        .orderBy("rank")
    },
    Some(s"""
      WITH c AS (SELECT unnest($duckTokens) AS token FROM documents),
      counts AS (SELECT token, count(*) AS cnt FROM c GROUP BY 1),
      total AS (SELECT sum(cnt) AS t FROM counts),
      top AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token ASC LIMIT 200)
      SELECT row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank,
             token, cnt,
             round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, token ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / (SELECT t FROM total), 6) AS coverage
      FROM top ORDER BY rank"""))

  /** q86 — temperature-scaled domain mixture (the mT5/data-mixing
    * rule): per-source sampling weights p_i ∝ n_i^τ with τ = 0.7,
    * and the expected number of documents each source contributes to
    * a 10k-document epoch. Up-weights small domains, tempers large
    * ones. One tiny groupBy + a one-row broadcast of the normalizer —
    * the per-source table is bounded by the domain count regardless
    * of corpus size, and the output rates then drive a q64-style
    * hash-rank resample.
    */
  val q86 = Q("q86_domain_temperature",
    (s, dir) => {
      val tau = 0.7
      val epoch = 10000L
      val bySrc = Tables.load(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("_pw", pow(col("n_docs").cast("double"), lit(tau)))
      // decimal accumulation: a multi-row double sum is reduction-order
      // dependent (see CoreQueries' dsum note); rounding first pins the
      // per-row value, decimal makes the sum order-free
      val z = bySrc.agg(
        sum(round(col("_pw"), 9).cast(org.apache.spark.sql.types.DecimalType(28, 9)))
          .cast("double").as("_z"))
      bySrc.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"),
          round(round(col("_pw"), 9) / col("_z"), 6).as("weight"),
          round(lit(epoch.toDouble) * round(col("_pw"), 9) / col("_z"), 2)
            .as("expected_docs"))
        .orderBy("source")
    },
    Some("""
      WITH b AS (SELECT source, count(*) AS n_docs,
                   round(pow(CAST(count(*) AS DOUBLE), 0.7), 9) AS pw
                 FROM documents GROUP BY 1),
      z AS (SELECT CAST(sum(CAST(pw AS DECIMAL(28,9))) AS DOUBLE) AS z FROM b)
      SELECT source, n_docs,
             round(pw / z, 6) AS weight,
             round(10000.0 * pw / z, 2) AS expected_docs
      FROM b CROSS JOIN z ORDER BY source"""))

  /** q87 — RAG / retrieval chunking: overlapping token windows
    * (64 tokens, stride 48) per document, each with its token count
    * and fingerprint — the chunk table an embedding or retrieval
    * stage consumes. Map-only: one explode of the per-doc chunk
    * range; chunk text never shuffles (the fingerprint is computed
    * in the same projection).
    */
  val q87 = Q("q87_rag_chunks",
    (s, dir) => {
      val win = 64; val stride = 48
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TA.tokens(col("text")).as("_t"))
        .withColumn("_n", size(col("_t")))
        .withColumn("chunk_idx",
          explode(sequence(lit(0), ((col("_n") - 1) / stride).cast("int"))))
        .select(col("doc_id"), col("chunk_idx"),
          size(slice(col("_t"), col("chunk_idx") * stride + 1, lit(win)))
            .as("n_chunk_tokens"),
          md5(concat_ws(" ",
            slice(col("_t"), col("chunk_idx") * stride + 1, lit(win))))
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      ch AS (SELECT doc_id, w, unnest(range(0,
               CAST(floor((len(w) - 1) / 48) AS BIGINT) + 1)) AS chunk_idx
             FROM t)
      SELECT doc_id, chunk_idx,
             len(w[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS n_chunk_tokens,
             md5(array_to_string(w[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')) AS chunk_md5
      FROM ch ORDER BY doc_id, chunk_idx"""))

  /** q88 — SimHash near-duplicate search (Manku-style web dedup):
    * 60-bit simhash per document, candidates from Hamming-LSH banding
    * (4 × 15-bit bands through the capped `Dedup.bucketPairs`
    * machinery), exact popcount verify ≤ 10 bits. Complements q36's
    * MinHash/Jaccard path: simhash distance tracks token-distribution
    * similarity, costs one 8-byte signature per doc (the index a
    * crawler keeps in memory for dedup-at-ingest), and the identical
    * banding serves any 64-bit perceptual hash of decoded media.
    *
    * q37's 16-bit simhash builds each bit as an interpreted HOF
    * aggregate (fine for 16, 60 would re-run the token fold per bit);
    * here the token stream explodes ONCE and one groupBy computes all
    * 60 bit balances as codegen'd conditional sums — one linear
    * shuffle of (doc_id, hash) longs, then sig assembly per doc.
    */
  val q88 = Q("q88_simhash_neardup",
    (s, dir) => {
      val bits = 60
      // bigram-feature simhash: the synthetic corpus draws from a tiny
      // unigram vocabulary (~31 tokens), under which unigram simhashes
      // collapse (every doc within distance 10 of every other); bigram
      // features separate cleanly (planted near-dups ≤ 6 bits, random
      // pairs ≈ 29). Token arrays materialize first so the gram lambda
      // references an attribute, not an inlined re-tokenization per
      // element (the element_at-over-computed-array trap).
      val tok = Tables.load(s, dir, "documents")
        .select(col("doc_id"), TA.tokens(col("text")).as("_t"))
        .localCheckpoint(false)
      val nT = size(col("_t"))
      val toks = tok
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(1), greatest(nT - 1, lit(1))),
            i => when(i < nT,
                concat_ws(" ", element_at(col("_t"), i), element_at(col("_t"), i + 1)))
              .otherwise(element_at(col("_t"), i))))).as("_g"))
        .select(col("doc_id"), graft.functions.Hashing.hash64(col("_g")).as("_h"))
      val balances = (0 until bits).map(b =>
        sum(shiftright(col("_h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"_b$b"))
      val sigs = toks.groupBy("doc_id")
        .agg(balances.head, balances.tail: _*)
        .select(col("doc_id"),
          (0 until bits).map(b =>
            when(col(s"_b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
            .reduce(_ + _).as("sig"))
        .localCheckpoint(false) // banded + twice re-joined below
      val bands = sigs.select(col("doc_id"),
        posexplode(array((0 until 4).map(j =>
          shiftright(col("sig"), 15 * j).bitwiseAND(lit(32767L))): _*))
          .as(Seq("_j", "_bv")))
      val cand = Dedup.bucketPairs(bands, "doc_id", Seq("_j", "_bv"))
      cand
        .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("_sa")), Seq("id_a"))
        .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("_sb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("_sa").bitwiseXOR(col("_sb"))).cast("int").as("hamming"))
        .filter(col("hamming") <= 6)
        .orderBy("id_a", "id_b")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      g AS (SELECT doc_id, list_distinct(
              list_transform(range(1, greatest(len(w) - 1, 1) + 1),
                i -> CASE WHEN i < len(w) THEN w[i] || ' ' || w[i+1]
                          ELSE w[i] END)) AS gs FROM t),
      h AS (SELECT doc_id,
              list_transform(gs, x -> ${duckHash64("x")}) AS hs FROM g),
      sigs AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(0, 60), b ->
                   CASE WHEN list_sum(list_transform(hs,
                          v -> ((v >> b) & 1) * 2 - 1)) > 0
                        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig
               FROM h),
      bands AS (SELECT doc_id, j, (sig >> (15 * CAST(j AS INTEGER))) & 32767 AS bv
                FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS j) jj),
      ok AS (SELECT j, bv FROM bands GROUP BY j, bv
             HAVING count(*) > 1 AND count(*) <= ${Dedup.DefaultMaxBucket}),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN ok USING (j, bv)
               JOIN bands b ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id)
      SELECT id_a, id_b,
             CAST(bit_count(xor(sa.sig, sb.sig)) AS INTEGER) AS hamming
      FROM cand
      JOIN sigs sa ON cand.id_a = sa.doc_id
      JOIN sigs sb ON cand.id_b = sb.doc_id
      WHERE bit_count(xor(sa.sig, sb.sig)) <= 6
      ORDER BY id_a, id_b"""))

  /** q89 — sequential conversion funnel (view → click → purchase):
    * per user, the first view, the first click AT OR AFTER that view,
    * and the first purchase at or after that click; reported as users
    * surviving each stage with conversion rates. The event-analytics
    * staple, shaped for scale: each stage is one linear pass over the
    * events stream joined to the (one row per user) previous-stage
    * table on user_id — the same shuffle key throughout, no window
    * over unpartitioned data, no per-user event arrays.
    */
  val q89 = Q("q89_funnel",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t0"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id")).filter(col("ts") >= col("t0"))
        .groupBy("user_id").agg(min("ts").as("t1"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("ts") >= col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val nv = v.agg(count(lit(1)).as("n")).select(lit(1).as("stage_idx"),
        lit("view").as("stage"), col("n"))
      val nc = c.agg(count(lit(1)).as("n")).select(lit(2).as("stage_idx"),
        lit("click_after_view").as("stage"), col("n"))
      val np = p.agg(count(lit(1)).as("n")).select(lit(3).as("stage_idx"),
        lit("purchase_after_click").as("stage"), col("n"))
      val base = v.agg(count(lit(1)).as("_base"))
      nv.union(nc).union(np).crossJoin(broadcast(base))
        .select(col("stage_idx"), col("stage"), col("n").as("users"),
          round(col("n").cast("double") / col("_base"), 6).as("rate"))
        .orderBy("stage_idx")
    },
    Some("""
      WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
                 WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
            JOIN v ON e.user_id = v.user_id AND e.ts >= v.t0
            WHERE e.event_type = 'click' GROUP BY 1),
      p AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
            JOIN c ON e.user_id = c.user_id AND e.ts >= c.t1
            WHERE e.event_type = 'purchase' GROUP BY 1),
      base AS (SELECT count(*) AS b FROM v),
      st AS (SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS users FROM v
             UNION ALL
             SELECT 2, 'click_after_view', count(*) FROM c
             UNION ALL
             SELECT 3, 'purchase_after_click', count(*) FROM p)
      SELECT stage_idx, stage, users,
             round(CAST(users AS DOUBLE) / (SELECT b FROM base), 6) AS rate
      FROM st ORDER BY stage_idx"""))

  /** q90 — retention cohorts: users grouped by signup week, the
    * fraction still active 0, 1, 2… weeks later — the engagement
    * matrix behind every retention dashboard. All linear on user_id /
    * (cohort, week) keys: first-signup agg, one events join, a
    * distinct (cohort, weeks_since, user) rollup, cohort sizes
    * re-entering as a broadcast.
    */
  val q90 = Q("q90_retention",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id")
        .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
      val active = ev.join(cohort, Seq("user_id"))
        .select(col("user_id"), col("cohort_week"),
          (datediff(date_trunc("week", col("ts")).cast("date"), col("cohort_week"))
            / 7).cast("long").as("weeks_since"))
        .filter(col("weeks_since") >= 0)
        .distinct()
      val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("_n"))
      active.groupBy("cohort_week", "weeks_since")
        .agg(count(lit(1)).as("active_users"))
        .join(broadcast(sizes), Seq("cohort_week"))
        .select(col("cohort_week").cast("string").as("cohort_week"),
          col("weeks_since"), col("active_users"),
          round(col("active_users").cast("double") / col("_n"), 6).as("retention"))
        .orderBy("cohort_week", "weeks_since")
    },
    Some("""
      WITH c AS (SELECT user_id,
                   CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
                 FROM events WHERE event_type = 'signup' GROUP BY 1),
      a AS (SELECT DISTINCT e.user_id, c.cohort_week,
              CAST(floor(datediff('day', c.cohort_week,
                CAST(date_trunc('week', e.ts) AS DATE)) / 7) AS BIGINT) AS weeks_since
            FROM events e JOIN c USING (user_id)
            WHERE CAST(date_trunc('week', e.ts) AS DATE) >= c.cohort_week),
      sz AS (SELECT cohort_week, count(*) AS n FROM c GROUP BY 1)
      SELECT CAST(a.cohort_week AS VARCHAR) AS cohort_week, weeks_since,
             count(*) AS active_users,
             round(CAST(count(*) AS DOUBLE) / sz.n, 6) AS retention
      FROM a JOIN sz USING (cohort_week)
      GROUP BY a.cohort_week, weeks_since, sz.n
      ORDER BY cohort_week, weeks_since"""))

  /** q91 — eval-side contamination containment (q62's symmetric
    * complement, and the direction benchmark stewards actually run):
    * for every EVAL document, what fraction of its distinct trigram
    * shingles already exists ANYWHERE in the training corpus. The
    * train side is the 100 TB one, so unlike q62 it carries no
    * broadcast hint: its distinct shingle set reduces by hash (linear
    * shuffle), the eval stream joins on the same hash key (the
    * optimizer may still broadcast a small train set at toy scale;
    * size stats force the shuffled join at real scale), and the
    * verdict is a per-eval-doc rollup. High containment = the
    * benchmark leaked into training.
    */
  val q91 = Q("q91_eval_containment",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val hs = call_function("graft_shingle_hashes", col("text"), lit(3))
      val trainSet = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        .select(explode(hs).as("h")).distinct()
        .withColumn("_hit", lit(1))
      docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id"), explode(hs).as("h"))
        .join(trainSet, Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_contained"))
        .withColumn("containment",
          round(col("n_contained").cast("double") / col("n_grams"), 6))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      sh AS (SELECT doc_id,
             CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                  ELSE list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS g
             FROM t),
      hh AS (SELECT doc_id,
             list_distinct(list_transform(list_distinct(g),
               s -> ${duckHash64("s")} & ${Dedup.MinhashP})) AS hs
             FROM sh),
      tr AS (SELECT DISTINCT unnest(hs) AS h FROM hh WHERE doc_id % 97 <> 0),
      ev AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams, unnest(hs) AS h
             FROM hh WHERE doc_id % 97 = 0)
      SELECT ev.doc_id, ev.n_grams,
             count(tr.h) AS n_contained,
             round(CAST(count(tr.h) AS DOUBLE) / ev.n_grams, 6) AS containment
      FROM ev LEFT JOIN tr USING (h)
      GROUP BY ev.doc_id, ev.n_grams ORDER BY ev.doc_id"""))

  /** q184 — exact token-budget apportionment (largest-remainder /
    * Hamilton method): allocate an integer token budget B across
    * sources proportionally to their token mass, with Σ quota = B
    * EXACTLY — the mixture-weighting step that decides how much of
    * each domain a training run actually ingests (fractional quotas
    * rounded naively drift by up to |sources| tokens; the
    * largest-remainder rule is the standard fix). Everything is
    * integer arithmetic: base_i = ⌊B·t_i / W⌋ with the product in
    * DECIMAL(38,0) (B and t_i can both be ~10^15 at corpus scale —
    * a long product overflows, HUGEINT on the oracle side), and the
    * B − Σ base leftover goes to the largest remainders (B·t_i mod W,
    * source as the total-order tiebreak). Scale shape: one linear
    * token count + groupBy(source); the apportionment itself runs on
    * the ≤|sources| rollup — its global windows are bounded by
    * construction (PlanSpec-whitelisted).
    */
  val q184 = Q("q184_token_budget",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val tok = docs
        .select(col("source"), size(TA.tokens(col("text"))).cast("long").as("nt"))
        .groupBy("source").agg(sum("nt").as("n_tokens"))
      val wAll = Window.partitionBy()
      tok
        .withColumn("W", sum("n_tokens").over(wAll))
        .withColumn("B", expr("W div 3"))
        .withColumn("p", expr(
          "CAST(B AS DECIMAL(38,0)) * CAST(n_tokens AS DECIMAL(38,0))"))
        .withColumn("base", expr("CAST(p div CAST(W AS DECIMAL(38,0)) AS BIGINT)"))
        .withColumn("rem", expr("CAST(p % CAST(W AS DECIMAL(38,0)) AS BIGINT)"))
        .withColumn("extra", col("B") - sum("base").over(wAll))
        .withColumn("rk",
          row_number().over(Window.orderBy(col("rem").desc, col("source"))))
        .withColumn("quota",
          col("base") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
        .select("source", "n_tokens", "quota")
        .orderBy("source")
    },
    Some(s"""
      WITH t AS (SELECT source, CAST(len($duckTokens) AS BIGINT) AS nt FROM documents),
      g AS (SELECT source, sum(nt) AS n_tokens FROM t GROUP BY source),
      w AS (SELECT source, n_tokens, sum(n_tokens) OVER () AS W FROM g),
      b AS (SELECT source, n_tokens, W, W // 3 AS B FROM w),
      p AS (SELECT source, n_tokens, W, B,
              CAST(B AS HUGEINT) * n_tokens AS pp FROM b),
      q AS (SELECT source, n_tokens, B,
              CAST(pp // W AS BIGINT) AS base,
              CAST(pp % W AS BIGINT) AS rem FROM p),
      e AS (SELECT source, n_tokens, base,
              B - sum(base) OVER () AS extra,
              row_number() OVER (ORDER BY rem DESC, source) AS rk FROM q)
      SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT) AS quota
      FROM e ORDER BY source"""))

  /** q330 — temperature-scaled language mixture (the multilingual
    * α-sampling rule: w_i ∝ c_i^α, α = 0.3 — upweights low-resource
    * languages relative to raw proportional sampling; the standard
    * knob in multilingual pretraining), composed with q184's exact
    * Hamilton apportionment so the final per-language quotas sum to
    * the budget EXACTLY. Determinism: c_i^α is nano-quantized ONCE
    * per language (one exp/ln double per ≤|langs| row — no float
    * folds), and everything after is integer: Σ s_i, DECIMAL(38,0)
    * products for the quota bases, largest-remainder distribution
    * with lang as the total-order tiebreak. Scale shape: one linear
    * token count + groupBy(lang); the mixture math runs on the
    * ≤|langs| rollup (global windows bounded by construction —
    * PlanSpec-whitelisted).
    */
  val q330 = Q("q330_mixture_temperature",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val tok = docs
        .select(col("lang"), size(TA.tokens(col("text"))).cast("long").as("nt"))
        .groupBy("lang").agg(sum("nt").as("n_tokens"))
      val wAll = Window.partitionBy()
      tok
        .withColumn("s_nano", expr(
          "CAST(round(1e9 * exp(0.3 * ln(CAST(n_tokens AS DOUBLE)))) AS BIGINT)"))
        .withColumn("S", sum("s_nano").over(wAll))
        .withColumn("w_nano", expr(
          "CAST(round(1e9 * CAST(s_nano AS DOUBLE) / CAST(S AS DOUBLE)) AS BIGINT)"))
        .withColumn("p", expr(
          "CAST(1000000 AS DECIMAL(38,0)) * CAST(s_nano AS DECIMAL(38,0))"))
        .withColumn("base", expr("CAST(p div CAST(S AS DECIMAL(38,0)) AS BIGINT)"))
        .withColumn("rem", expr("CAST(p % CAST(S AS DECIMAL(38,0)) AS BIGINT)"))
        .withColumn("extra", lit(1000000L) - sum("base").over(wAll))
        .withColumn("rk",
          row_number().over(Window.orderBy(col("rem").desc, col("lang"))))
        .withColumn("quota",
          col("base") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
        .select("lang", "n_tokens", "s_nano", "w_nano", "quota")
        .orderBy("lang")
    },
    Some(s"""
      WITH t AS (SELECT lang, CAST(len($duckTokens) AS BIGINT) AS nt FROM documents),
      g AS (SELECT lang, sum(nt) AS n_tokens FROM t GROUP BY lang),
      sc AS (SELECT lang, n_tokens,
                    CAST(round(1e9 * exp(0.3 * ln(CAST(n_tokens AS DOUBLE)))) AS BIGINT) AS s_nano
             FROM g),
      w AS (SELECT lang, n_tokens, s_nano, sum(s_nano) OVER () AS S FROM sc),
      p AS (SELECT lang, n_tokens, s_nano, S,
                   CAST(round(1e9 * CAST(s_nano AS DOUBLE) / CAST(S AS DOUBLE))
                     AS BIGINT) AS w_nano,
                   CAST(1000000 AS HUGEINT) * s_nano AS pp
            FROM w),
      q AS (SELECT lang, n_tokens, s_nano, w_nano,
                   CAST(pp // S AS BIGINT) AS base,
                   CAST(pp % S AS BIGINT) AS rem FROM p),
      e AS (SELECT lang, n_tokens, s_nano, w_nano, base,
                   1000000 - sum(base) OVER () AS extra,
                   row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM q)
      SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens, s_nano, w_nano,
             CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT) AS quota
      FROM e ORDER BY lang"""))

  // --------------------------------------------------------------- q300

  /** q300 — one ALS alternation (rank 2, ridge λ=0.1) on the implicit
    * customer×brand rating matrix (rating = total quantity bought):
    * with item factors fixed at a deterministic hash-seeded init,
    * solve every user's 2×2 ridge normal equations in closed form —
    * the exact unit step of alternating least squares, the workhorse
    * collaborative-filtering factorizer (Koren et al.), expressed so
    * a full fit is just this step alternated.
    *
    * Engine parity is free of float folds: item factors are
    * milli-integer components (hash64 % 2001 − 1000), so the per-user
    * Gram matrix (micro units) and moment vector (milli·rating units)
    * accumulate as EXACT longs in one grouped pass; the 2×2 solve is
    * one double formula per user from those ints, nano-quantized.
    * One shuffle on user; factors ride a broadcast brand dim.
    */
  val q300 = Q("q300_als_step",
    (s, dir) => {
      val facs = Tables.load(s, dir, "part")
        .select(col("p_brand")).distinct()
        .select(col("p_brand"),
          (graft.functions.Hashing.hash64(concat(lit("alsv1|"), col("p_brand"))) % 2001
            - 1000).as("v1m"),
          (graft.functions.Hashing.hash64(concat(lit("alsv2|"), col("p_brand"))) % 2001
            - 1000).as("v2m"))
      val ratings = Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part").select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("u"), col("p_brand"))
        .agg(sum(col("l_quantity").cast("long")).as("r"))
      ratings.join(broadcast(facs), Seq("p_brand"))
        .groupBy("u").agg(
          count(lit(1)).as("n_items"),
          sum(col("v1m") * col("v1m")).as("a11u"),
          sum(col("v1m") * col("v2m")).as("a12u"),
          sum(col("v2m") * col("v2m")).as("a22u"),
          sum(col("r") * col("v1m")).as("c1m"),
          sum(col("r") * col("v2m")).as("c2m"))
        .select(col("u").as("c_custkey"), col("n_items"), expr("""
            CAST(round(1e9 * (
              (CAST(a22u + 100000 AS DOUBLE) / 1e6 * (CAST(c1m AS DOUBLE) / 1e3)
               - CAST(a12u AS DOUBLE) / 1e6 * (CAST(c2m AS DOUBLE) / 1e3))
              / (CAST(a11u + 100000 AS DOUBLE) / 1e6 * (CAST(a22u + 100000 AS DOUBLE) / 1e6)
                 - CAST(a12u AS DOUBLE) / 1e6 * (CAST(a12u AS DOUBLE) / 1e6)))) AS BIGINT)""")
            .as("u1_nano"), expr("""
            CAST(round(1e9 * (
              (CAST(a11u + 100000 AS DOUBLE) / 1e6 * (CAST(c2m AS DOUBLE) / 1e3)
               - CAST(a12u AS DOUBLE) / 1e6 * (CAST(c1m AS DOUBLE) / 1e3))
              / (CAST(a11u + 100000 AS DOUBLE) / 1e6 * (CAST(a22u + 100000 AS DOUBLE) / 1e6)
                 - CAST(a12u AS DOUBLE) / 1e6 * (CAST(a12u AS DOUBLE) / 1e6)))) AS BIGINT)""")
            .as("u2_nano"))
        .orderBy("c_custkey")
        .limit(20)
    },
    Some(s"""
      WITH brands AS (SELECT DISTINCT p_brand FROM part),
      facs AS (SELECT p_brand,
                      ${duckHash64("'alsv1|' || p_brand")} % 2001 - 1000 AS v1m,
                      ${duckHash64("'alsv2|' || p_brand")} % 2001 - 1000 AS v2m
               FROM brands),
      ratings AS (SELECT o_custkey AS u, p_brand,
                         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
                  FROM lineitem
                  JOIN part ON l_partkey = p_partkey
                  JOIN orders ON l_orderkey = o_orderkey
                  GROUP BY 1, 2),
      m AS (SELECT u, CAST(count(*) AS BIGINT) AS n_items,
                   CAST(sum(v1m * v1m) AS BIGINT) AS a11u,
                   CAST(sum(v1m * v2m) AS BIGINT) AS a12u,
                   CAST(sum(v2m * v2m) AS BIGINT) AS a22u,
                   CAST(sum(r * v1m) AS BIGINT) AS c1m,
                   CAST(sum(r * v2m) AS BIGINT) AS c2m
            FROM ratings JOIN facs USING (p_brand) GROUP BY u)
      SELECT u AS c_custkey, n_items,
             CAST(round(1e9 * (
               (CAST(a22u + 100000 AS DOUBLE) / 1e6 * (CAST(c1m AS DOUBLE) / 1e3)
                - CAST(a12u AS DOUBLE) / 1e6 * (CAST(c2m AS DOUBLE) / 1e3))
               / (CAST(a11u + 100000 AS DOUBLE) / 1e6 * (CAST(a22u + 100000 AS DOUBLE) / 1e6)
                  - CAST(a12u AS DOUBLE) / 1e6 * (CAST(a12u AS DOUBLE) / 1e6)))) AS BIGINT)
               AS u1_nano,
             CAST(round(1e9 * (
               (CAST(a11u + 100000 AS DOUBLE) / 1e6 * (CAST(c2m AS DOUBLE) / 1e3)
                - CAST(a12u AS DOUBLE) / 1e6 * (CAST(c1m AS DOUBLE) / 1e3))
               / (CAST(a11u + 100000 AS DOUBLE) / 1e6 * (CAST(a22u + 100000 AS DOUBLE) / 1e6)
                  - CAST(a12u AS DOUBLE) / 1e6 * (CAST(a12u AS DOUBLE) / 1e6)))) AS BIGINT)
               AS u2_nano
      FROM m ORDER BY u LIMIT 20"""))

  // --------------------------------------------------------------- q303

  /** q303 — deterministic negative sampling for recommender / embedding
    * training: for every (customer, brand) purchase pair (sampled
    * users), emit up to 3 NEGATIVE brands the customer did not buy —
    * drawn by a seeded hash sequence with rejection (8 deterministic
    * candidates, anti-join the positives, keep the first 3 by draw
    * index). The word2vec/BPR data-prep step, reproducible across
    * engines, re-runs and repartitioning — which `rand()` negatives
    * never are.
    *
    * Shapes: positives are one distinct rollup; candidate fan-out is
    * a bounded ×8 explode; the rejection is one anti-join keyed on
    * (customer, brand); survivors rank in a per-positive window.
    * Everything is hash-derived integers — no randomness, no floats.
    */
  val q303 = Q("q303_negative_sampling",
    (s, dir) => {
      val brands = Tables.load(s, dir, "part")
        .select(col("p_brand")).distinct()
        .groupBy().agg(sort_array(collect_list(col("p_brand"))).as("bl"))
      val pos = Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part").select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("p_brand")).distinct()
        .localCheckpoint(false) // sampled fan-out + the rejection anti-join
      val cand = pos.filter(pmod(col("u"), lit(97)) === 0)
        .crossJoin(broadcast(brands))
        .select(col("u"), col("p_brand"), col("bl"),
          explode(expr("sequence(0, 7)")).as("i"))
        .select(col("u"), col("p_brand").as("pos_brand"), col("i"),
          expr("""element_at(bl, CAST(
              CAST(conv(substr(md5(concat('neg|', CAST(u AS STRING), '|', p_brand,
                '|', CAST(i AS STRING))), 1, 15), 16, 10) AS BIGINT)
              % size(bl) + 1 AS INT))""").as("neg_brand"))
      cand
        .join(pos.select(col("u"), col("p_brand").as("neg_brand"))
          .withColumn("_hit", lit(1)), Seq("u", "neg_brand"), "left_anti")
        .withColumn("rk", row_number().over(
          Window.partitionBy("u", "pos_brand").orderBy("i")))
        .filter(col("rk") <= 3)
        .select(col("u").as("c_custkey"), col("pos_brand"), col("rk"),
          col("neg_brand"))
        .orderBy("c_custkey", "pos_brand", "rk")
    },
    Some("""
      WITH brands AS (SELECT list_sort(list(DISTINCT p_brand)) AS bl FROM part),
      pos AS (SELECT DISTINCT o_custkey AS u, p_brand
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN orders ON l_orderkey = o_orderkey),
      cand AS (SELECT u, p_brand AS pos_brand, i.range AS i,
                      bl[CAST(CAST(concat('0x', substr(md5(concat('neg|',
                          CAST(u AS VARCHAR), '|', p_brand, '|',
                          CAST(i.range AS VARCHAR))), 1, 15)) AS BIGINT)
                        % len(bl) + 1 AS INTEGER)] AS neg_brand
               FROM pos CROSS JOIN brands, range(8) i
               WHERE u % 97 = 0),
      kept AS (SELECT cand.*,
                      row_number() OVER (PARTITION BY u, pos_brand ORDER BY i) AS rk
               FROM cand
               WHERE NOT EXISTS (SELECT 1 FROM pos p2
                                 WHERE p2.u = cand.u
                                   AND p2.p_brand = cand.neg_brand))
      SELECT u AS c_custkey, pos_brand, rk, neg_brand
      FROM kept WHERE rk <= 3
      ORDER BY c_custkey, pos_brand, rk"""))

  // --------------------------------------------------------------- q304

  /** q304 — Qini curve for uplift evaluation: with a hash-assigned
    * "campaign" flag over customers (the deterministic stand-in for
    * the experiment split) and conversion = placed an urgent order,
    * rank customers by an account-balance-decile targeting score and
    * report, per decile prefix, the incremental conversions
    * Qini(k) = conv_T(k) − conv_C(k)·N_T(k)/N_C(k) — the standard
    * "who should we target" evaluation where q259's gains curve
    * ignores the control arm entirely.
    *
    * Counts are exact longs per (decile, arm) cell; prefix sums ride
    * a 10-row bounded window; the one ratio rounds via the exact
    * (2a+d) div 2d recipe.
    */
  val q304 = Q("q304_qini_uplift",
    (s, dir) => {
      val conv = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("u")).distinct()
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("u"),
          pmod(graft.functions.Hashing.hash64(
            concat(lit("arm|"), col("c_custkey").cast("string"))), lit(2)).as("t"),
          expr("least(9, greatest(0, CAST(floor(c_acctbal / 1200.0) AS INT)))")
            .as("decile"))
        .join(conv.withColumn("_c", lit(1L)), Seq("u"), "left")
        .select(col("u"), col("t"), col("decile"),
          coalesce(col("_c"), lit(0L)).as("y"))
      val cells = base.groupBy("decile").agg(
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("t") === 1, col("y")).otherwise(0L)).as("ct"),
        sum(when(col("t") === 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("t") === 0, col("y")).otherwise(0L)).as("cc"))
      val w = Window.orderBy(desc("decile")).rowsBetween(Window.unboundedPreceding, 0)
      cells
        .withColumn("cnt", sum("nt").over(w)).withColumn("cct", sum("ct").over(w))
        .withColumn("cnc", sum("nc").over(w)).withColumn("ccc", sum("cc").over(w))
        .select(col("decile"), col("cnt").as("n_treated"), col("cct").as("conv_treated"),
          col("cnc").as("n_control"), col("ccc").as("conv_control"),
          // a can be negative and Spark div truncates where DuckDB //
          // floors — round |a| with non-negative operands, reapply sign
          round(expr("""CAST(CASE WHEN cct * cnc - ccc * cnt < 0
                        THEN -((2 * (ccc * cnt - cct * cnc) * 1000000 + cnc)
                               div (2 * cnc))
                        ELSE ((2 * (cct * cnc - ccc * cnt) * 1000000 + cnc)
                              div (2 * cnc)) END AS BIGINT)""").cast("double") / 1e6, 6)
            .as("qini"))
        .orderBy(desc("decile"))
    },
    Some("""
      WITH conv AS (SELECT DISTINCT o_custkey AS u FROM orders
                    WHERE o_orderpriority = '1-URGENT'),
      base AS (SELECT c_custkey AS u,
                      CAST(concat('0x', substr(md5(concat('arm|',
                        CAST(c_custkey AS VARCHAR))), 1, 15)) AS BIGINT) % 2 AS t,
                      least(9, greatest(0, CAST(floor(c_acctbal / 1200.0) AS INTEGER)))
                        AS decile,
                      CASE WHEN conv.u IS NOT NULL THEN 1 ELSE 0 END AS y
               FROM customer LEFT JOIN conv ON c_custkey = conv.u),
      cells AS (SELECT decile,
                       CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                       CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS ct,
                       CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                       CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS cc
                FROM base GROUP BY 1),
      cum AS (SELECT decile,
                     sum(nt) OVER (ORDER BY decile DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt,
                     sum(ct) OVER (ORDER BY decile DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cct,
                     sum(nc) OVER (ORDER BY decile DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnc,
                     sum(cc) OVER (ORDER BY decile DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccc
              FROM cells)
      SELECT decile, CAST(cnt AS BIGINT) AS n_treated,
             CAST(cct AS BIGINT) AS conv_treated,
             CAST(cnc AS BIGINT) AS n_control,
             CAST(ccc AS BIGINT) AS conv_control,
             round(CAST(CAST(CASE WHEN cct * cnc - ccc * cnt < 0
                   THEN -((2 * (ccc * cnt - cct * cnc) * 1000000 + cnc)
                          // (2 * cnc))
                   ELSE ((2 * (cct * cnc - ccc * cnt) * 1000000 + cnc)
                         // (2 * cnc)) END AS BIGINT) AS DOUBLE) / 1e6, 6) AS qini
      FROM cum ORDER BY decile DESC"""))

  // --------------------------------------------------------------- q305

  /** q305 — propensity-style nearest-neighbor matching (with
    * replacement) + ATT estimate: treated = BUILDING-segment
    * customers, controls = everyone else, matching covariate =
    * account balance (exact cents), outcome = total order spend.
    * Each treated customer takes the closest control by |Δbalance|
    * (ties → smaller control id); ATT = mean(outcome_t −
    * outcome_match) — the workhorse observational-causal estimator
    * the audit queries (q265/q269) stop short of.
    *
    * Scale shape: NOT a sorted global merge — balances bucket into
    * $100 bands and each treated row joins only its 3 adjacent bands
    * (bounded fan-out, one equi-join shuffle); the exact argmin rides
    * a min(struct) aggregate, so the match is deterministic. A
    * treated row whose 3-band window holds no control reports
    * unmatched. Outcome sums are exact cents; ATT rounds via the
    * sign-symmetric (2a+d) div 2d recipe.
    */
  val q305 = Q("q305_propensity_match",
    (s, dir) => {
      val spend = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey").as("u"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y"))
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("u"),
          when(col("c_mktsegment") === "BUILDING", 1).otherwise(0).as("t"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("sc"))
        .join(spend, Seq("u"), "left")
        .select(col("u"), col("t"), col("sc"), coalesce(col("y"), lit(0L)).as("y"))
        .localCheckpoint(false) // treated fan-out + control band table
      // buckets on (sc + 1e6) so the operand is non-negative — DIV and
      // DuckDB's // disagree on negative balances otherwise
      val controls = base.filter(col("t") === 0)
        .select(expr("(sc + 1000000) DIV 10000").as("b"),
          col("u").as("cu"), col("sc").as("csc"), col("y").as("cy"))
      val matched = base.filter(col("t") === 1)
        .select(col("u"), col("sc"), col("y"),
          explode(expr("array((sc + 1000000) DIV 10000 - 1, " +
            "(sc + 1000000) DIV 10000, (sc + 1000000) DIV 10000 + 1)")).as("b"))
        .join(controls, Seq("b"))
        // pack (distance, control id) into one sortable long: argmin is
        // then a plain min/min_by, deterministic, no struct-ordering
        // dependence across engines
        .select(col("u"), col("sc"), col("y"), col("cy"),
          (abs(col("csc") - col("sc")) * 100000000L + col("cu")).as("ad2"))
        .groupBy("u", "sc", "y")
        .agg(expr("min(ad2) DIV 100000000").as("ad"),
          expr("min_by(cy, ad2)").as("mcy"))
      val treatedN = base.filter(col("t") === 1).groupBy().agg(count(lit(1)).as("n_treated"))
      matched.groupBy()
        .agg(count(lit(1)).as("n_matched"),
          sum(col("y") - col("mcy")).as("dsum"),
          sum(col("ad")).as("adsum"))
        .crossJoin(broadcast(treatedN))
        .select(col("n_treated"), col("n_matched"),
          round(expr("""CAST(CASE WHEN dsum < 0
                THEN -((2 * (-dsum) * 10000 + n_matched) div (2 * n_matched))
                ELSE ((2 * dsum * 10000 + n_matched) div (2 * n_matched)) END
                AS BIGINT)""").cast("double") / 1e6, 6).as("att_dollars"),
          round(expr("CAST((2 * adsum * 10000 + n_matched) div (2 * n_matched) AS BIGINT)")
            .cast("double") / 1e6, 6).as("mean_match_dist_dollars"))
    },
    Some("""
      WITH spend AS (SELECT o_custkey AS u,
                            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
                     FROM orders GROUP BY 1),
      base AS (SELECT c_custkey AS u,
                      CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
                      CAST(round(c_acctbal * 100) AS BIGINT) AS sc,
                      coalesce(y, 0) AS y
               FROM customer LEFT JOIN spend ON c_custkey = spend.u),
      controls AS (SELECT (sc + 1000000) // 10000 AS b, u AS cu,
                          sc AS csc, y AS cy
                   FROM base WHERE t = 0),
      fan AS (SELECT u, sc, y, (sc + 1000000) // 10000 + d.delta AS b
              FROM base, (VALUES (-1), (0), (1)) d(delta)
              WHERE t = 1),
      matched AS (SELECT u, sc, y,
                         CAST(min(abs(csc - sc) * 100000000 + cu) // 100000000
                              AS BIGINT) AS ad,
                         min_by(cy, abs(csc - sc) * 100000000 + cu) AS mcy
                  FROM fan JOIN controls USING (b)
                  GROUP BY u, sc, y),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS n_matched,
                     CAST(sum(y - mcy) AS BIGINT) AS dsum,
                     CAST(sum(ad) AS BIGINT) AS adsum
              FROM matched),
      tn AS (SELECT CAST(count(*) AS BIGINT) AS n_treated FROM base WHERE t = 1)
      SELECT n_treated, n_matched,
             round(CAST(CAST(CASE WHEN dsum < 0
                   THEN -((2 * (-dsum) * 10000 + n_matched) // (2 * n_matched))
                   ELSE ((2 * dsum * 10000 + n_matched) // (2 * n_matched)) END
                   AS BIGINT) AS DOUBLE) / 1e6, 6) AS att_dollars,
             round(CAST(CAST((2 * adsum * 10000 + n_matched) // (2 * n_matched)
                   AS BIGINT) AS DOUBLE) / 1e6, 6) AS mean_match_dist_dollars
      FROM agg CROSS JOIN tn"""))

  // --------------------------------------------------------------- q341

  /** q341 — padded-packing waste audit: q84 packs by CONCATENATION
    * (documents split across context windows, zero padding); the other
    * production mode keeps every document whole in one ctx=128 window
    * and pays PADDING instead — and the padding bill is what this
    * audit measures, for the two greedy fills a packer actually
    * chooses between: arrival order (what a streaming packer does) vs
    * length-sorted descending (the classic pre-sort trick). The
    * waste_sorted ≤ waste_arrival gap per shard is the measured
    * evidence for sorting before packing; `n_truncated` counts docs
    * longer than the window (truncate-to-ctx is this variant's
    * contract — q84 is the splitting alternative).
    *
    * Scale shape: shards of 64 docs (`doc_id div 64`) are the
    * parallel unit — real packers shard exactly like this so packing
    * is embarrassingly parallel. ONE shuffle clusters each shard's
    * ≤64 (doc_id, tokens) structs; both greedy fills then run as
    * pure-expression `aggregate` folds over the bounded sorted
    * arrays (no window, no driver loop, codegen-resident). The
    * oracle replays both folds as lockstep recursive CTEs.
    */
  val q341 = Q("q341_packing_audit",
    (s, dir) => {
      val ctx = 128L
      val tok = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          least(TA.tokenCount(col("text")).cast("long"), lit(ctx)).as("t"),
          (TA.tokenCount(col("text")).cast("long") > ctx).cast("long").as("trunc"),
          expr("doc_id div 64").as("shard"))
      def packFold(arr: Column): Column = {
        val init = struct(lit(0L).as("bins"), lit(0L).as("fill"), lit(0L).as("waste"))
        val folded = aggregate(arr, init, (st, x) => {
          val bins = st.getField("bins"); val fill = st.getField("fill")
          val waste = st.getField("waste"); val t = x.getField("t")
          when(bins === lit(0L),
            struct(lit(1L).as("bins"), t.as("fill"), lit(0L).as("waste")))
            .when(fill + t <= lit(ctx),
              struct(bins.as("bins"), (fill + t).as("fill"), waste.as("waste")))
            .otherwise(
              struct((bins + lit(1L)).as("bins"), t.as("fill"),
                (waste + lit(ctx) - fill).as("waste")))
        })
        struct(folded.getField("bins").as("bins"),
          when(folded.getField("bins") > lit(0L),
            folded.getField("waste") + lit(ctx) - folded.getField("fill"))
            .otherwise(lit(0L)).as("waste"))
      }
      tok.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("t").as("n_tokens"),
          sum("trunc").as("n_truncated"),
          packFold(sort_array(collect_list(struct(col("doc_id"), col("t")))))
            .as("pa"),
          packFold(sort_array(collect_list(
            struct((lit(ctx) - col("t")).as("k"), col("doc_id").as("doc_id"),
              col("t").as("t"))))).as("ps"))
        .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_truncated"),
          col("pa.bins").as("bins_arrival"), col("pa.waste").as("waste_arrival"),
          col("ps.bins").as("bins_sorted"), col("ps.waste").as("waste_sorted"))
        .orderBy("shard")
    },
    Some(s"""
      WITH RECURSIVE
      tok AS (SELECT doc_id, doc_id // 64 AS shard,
                     CAST(least(CAST(len($duckTokens) AS BIGINT), 128) AS BIGINT) AS t,
                     CASE WHEN len($duckTokens) > 128 THEN 1 ELSE 0 END AS trunc
              FROM documents),
      a AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS seq FROM tok),
      b AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY t DESC, doc_id) AS seq FROM tok),
      ra AS (
        SELECT shard, seq, CAST(1 AS BIGINT) AS bins, t AS fill, CAST(0 AS BIGINT) AS waste
        FROM a WHERE seq = 1
        UNION ALL
        SELECT n.shard, n.seq,
               CASE WHEN r.fill + n.t <= 128 THEN r.bins ELSE r.bins + 1 END,
               CASE WHEN r.fill + n.t <= 128 THEN r.fill + n.t ELSE n.t END,
               CASE WHEN r.fill + n.t <= 128 THEN r.waste ELSE r.waste + 128 - r.fill END
        FROM ra r JOIN a n ON n.shard = r.shard AND n.seq = r.seq + 1),
      rb AS (
        SELECT shard, seq, CAST(1 AS BIGINT) AS bins, t AS fill, CAST(0 AS BIGINT) AS waste
        FROM b WHERE seq = 1
        UNION ALL
        SELECT n.shard, n.seq,
               CASE WHEN r.fill + n.t <= 128 THEN r.bins ELSE r.bins + 1 END,
               CASE WHEN r.fill + n.t <= 128 THEN r.fill + n.t ELSE n.t END,
               CASE WHEN r.fill + n.t <= 128 THEN r.waste ELSE r.waste + 128 - r.fill END
        FROM rb r JOIN b n ON n.shard = r.shard AND n.seq = r.seq + 1),
      cnt AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(t) AS BIGINT) AS n_tokens,
                     CAST(sum(trunc) AS BIGINT) AS n_truncated
              FROM tok GROUP BY shard),
      fa AS (SELECT r.shard, r.bins, r.waste + 128 - r.fill AS waste
             FROM ra r JOIN cnt c ON c.shard = r.shard AND r.seq = c.n_docs),
      fb AS (SELECT r.shard, r.bins, r.waste + 128 - r.fill AS waste
             FROM rb r JOIN cnt c ON c.shard = r.shard AND r.seq = c.n_docs)
      SELECT c.shard, c.n_docs, c.n_tokens, c.n_truncated,
             fa.bins AS bins_arrival, fa.waste AS waste_arrival,
             fb.bins AS bins_sorted, fb.waste AS waste_sorted
      FROM cnt c JOIN fa ON fa.shard = c.shard JOIN fb ON fb.shard = c.shard
      ORDER BY c.shard"""))

  // --------------------------------------------------------------- q342

  /** q342 — training token-budget LEDGER: the number a data team
    * actually ships — per source, how many tokens survive curation,
    * what share of a fixed 1M-token budget the α=0.5 temperature
    * mixture assigns, and how many EPOCHS of the surviving data that
    * quota implies (epochs > 4 is the repeat-diminishing-returns
    * threshold from the data-constrained scaling playbook, Muennighoff
    * et al. 2023 — the `repeat_flag` a mixture designer acts on).
    * Composes the chains this engine already gates one step deeper:
    * survivor gates (exact keep-first dedup + min-length, q338's
    * contract), q330's exact Hamilton apportionment (nano-quantized
    * c^α per ≤|sources| row, DECIMAL(38,0) largest-remainder, quotas
    * summing to the budget EXACTLY), and exact integer epoch
    * accounting (micro-epochs by DECIMAL division — no doubles
    * anywhere after the one c^α quantization).
    *
    * Scale shape: one fingerprint min-rollup join (the dedup gate) +
    * one rollup shuffle to the bounded |sources| ledger; the
    * apportionment's global windows run over that bounded relation
    * (whitelisted, q330's shape).
    */
  val q342 = Q("q342_token_ledger",
    (s, dir) => {
      val scored = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TA.tokenCount(col("text")).cast("long").as("nt"),
          md5(col("text")).as("fp"))
      val first = scored.groupBy("fp").agg(min("doc_id").as("keeper"))
      val led = scored.join(first, Seq("fp"))
        .withColumn("keep",
          (col("nt") >= 30 && col("doc_id") === col("keeper")).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("raw_docs"), sum("nt").as("raw_tokens"),
          sum("keep").as("surv_docs"),
          sum(when(col("keep") === 1L, col("nt")).otherwise(0L)).as("surv_tokens"))
      val wAll = Window.partitionBy()
      led
        .withColumn("s_nano", expr(
          "CAST(round(1e9 * exp(0.5 * ln(CAST(surv_tokens AS DOUBLE)))) AS BIGINT)"))
        .withColumn("S", sum("s_nano").over(wAll))
        .withColumn("p", expr(
          "CAST(1000000 AS DECIMAL(38,0)) * CAST(s_nano AS DECIMAL(38,0))"))
        .withColumn("base", expr("CAST(p div CAST(S AS DECIMAL(38,0)) AS BIGINT)"))
        .withColumn("rem", expr("CAST(p % CAST(S AS DECIMAL(38,0)) AS BIGINT)"))
        .withColumn("extra", lit(1000000L) - sum("base").over(wAll))
        .withColumn("rk",
          row_number().over(Window.orderBy(col("rem").desc, col("source"))))
        .withColumn("quota",
          col("base") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
        .withColumn("epochs_micro", expr(
          "CAST((CAST(quota AS DECIMAL(38,0)) * 1000000) div CAST(surv_tokens AS DECIMAL(38,0)) AS BIGINT)"))
        .withColumn("repeat_flag", (col("epochs_micro") > 4000000L).cast("long"))
        .select("source", "raw_docs", "raw_tokens", "surv_docs", "surv_tokens",
          "quota", "epochs_micro", "repeat_flag")
        .orderBy("source")
    },
    Some(s"""
      WITH sc AS (SELECT doc_id, source,
                         CAST(len($duckTokens) AS BIGINT) AS nt,
                         md5(text) AS fp
                  FROM documents),
      f AS (SELECT fp, min(doc_id) AS keeper FROM sc GROUP BY fp),
      k AS (SELECT sc.source, sc.nt,
                   CASE WHEN sc.nt >= 30 AND sc.doc_id = f.keeper
                        THEN 1 ELSE 0 END AS keep
            FROM sc JOIN f ON sc.fp = f.fp),
      led AS (SELECT source, CAST(count(*) AS BIGINT) AS raw_docs,
                     CAST(sum(nt) AS BIGINT) AS raw_tokens,
                     CAST(sum(keep) AS BIGINT) AS surv_docs,
                     CAST(sum(CASE WHEN keep = 1 THEN nt ELSE 0 END) AS BIGINT)
                       AS surv_tokens
              FROM k GROUP BY source),
      sn AS (SELECT *, CAST(round(1e9 * exp(0.5 * ln(CAST(surv_tokens AS DOUBLE))))
                         AS BIGINT) AS s_nano FROM led),
      w AS (SELECT *, sum(s_nano) OVER () AS S,
                   CAST(1000000 AS HUGEINT) * s_nano AS pp FROM sn),
      q AS (SELECT *, CAST(pp // S AS BIGINT) AS base,
                   CAST(pp % S AS BIGINT) AS rem FROM w),
      e AS (SELECT *, 1000000 - sum(base) OVER () AS extra,
                   row_number() OVER (ORDER BY rem DESC, source) AS rk FROM q),
      z AS (SELECT source, raw_docs, raw_tokens, surv_docs, surv_tokens,
                   CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT)
                     AS quota
            FROM e)
      SELECT source, raw_docs, raw_tokens, surv_docs, surv_tokens, quota,
             CAST((CAST(quota AS HUGEINT) * 1000000) // surv_tokens AS BIGINT)
               AS epochs_micro,
             CAST(CASE WHEN (CAST(quota AS HUGEINT) * 1000000) // surv_tokens
                            > 4000000 THEN 1 ELSE 0 END AS BIGINT) AS repeat_flag
      FROM z ORDER BY source"""))

  // --------------------------------------------------------------- q347

  /** q347 — context-length truncation census: the planning sweep a
    * data team runs before fixing `max_seq_len` — for each candidate
    * context budget (128 / 512 / 2048), how many documents would be
    * cut and how much token mass the cut discards, per source.
    * Pairs with q341 (which prices the PADDING side of the same
    * decision); together they bracket the whole-doc-packing tradeoff.
    * `loss_ratio_micro` is exact integer division — no floats.
    * Scale shape: one map-side explode of 3 candidate budgets (3×
    * row fan-out, constant factor) into ONE map-side-combined
    * groupBy(source, ctx); the same plan at any corpus size.
    */
  val q347 = Q("q347_truncation_census",
    (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("source"), TA.tokenCount(col("text")).cast("long").as("nt"),
          explode(array(lit(128L), lit(512L), lit(2048L))).as("ctx"))
        .groupBy("source", "ctx")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
          sum(when(col("nt") > col("ctx"), 1L).otherwise(0L)).as("docs_truncated"),
          sum(greatest(col("nt") - col("ctx"), lit(0L))).as("tokens_lost"))
        .withColumn("loss_ratio_micro", expr(
          "CAST((CAST(tokens_lost AS DECIMAL(38,0)) * 1000000) div n_tokens AS BIGINT)"))
        .orderBy("source", "ctx")
    },
    Some(s"""
      WITH t AS (SELECT source, CAST(len($duckTokens) AS BIGINT) AS nt
                 FROM documents),
      x AS (SELECT t.source, t.nt, CAST(c.ctx AS BIGINT) AS ctx
            FROM t CROSS JOIN (VALUES (128), (512), (2048)) AS c(ctx)),
      g AS (SELECT source, ctx, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(nt) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN nt > ctx THEN 1 ELSE 0 END) AS BIGINT)
                     AS docs_truncated,
                   CAST(sum(greatest(nt - ctx, 0)) AS BIGINT) AS tokens_lost
            FROM x GROUP BY source, ctx)
      SELECT source, ctx, n_docs, n_tokens, docs_truncated, tokens_lost,
             CAST((CAST(tokens_lost AS HUGEINT) * 1000000) // n_tokens AS BIGINT)
               AS loss_ratio_micro
      FROM g ORDER BY source, ctx"""))

  // --------------------------------------------------------------- q348

  /** q348 — packing attention-leak audit: when whole documents share
    * a ctx=128 training window (q341's arrival-order greedy fill), a
    * packer that forgets the block-diagonal attention mask lets every
    * token attend tokens of EARLIER documents in the same bin —
    * cross-document contamination. This audit counts exactly those
    * pairs: appending a doc of t tokens to a bin already holding F
    * leaks t·F causal pairs, so the fold carries (fill, leaked) and
    * pays t·F on every fit. `kept_pairs = Σ_docs t(t+1)/2` is the
    * legitimate within-doc causal mass; `leaked/(leaked+kept)` — in
    * exact micro units — is the fraction of attention compute a
    * missing mask would corrupt (the two terms sum to the bins'
    * total causal pairs Σ F_b(F_b+1)/2, which the spec checks).
    * Scale shape: q341's exact parallel unit — ONE shuffle clusters
    * each 64-doc shard, the fold is a pure-expression `aggregate`
    * over the bounded sorted array (no window, no driver loop).
    */
  val q348 = Q("q348_attention_leak",
    (s, dir) => {
      val ctx = 128L
      val tok = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          least(TA.tokenCount(col("text")).cast("long"), lit(ctx)).as("t"),
          expr("doc_id div 64").as("shard"))
      val init = struct(lit(0L).as("fill"), lit(0L).as("leaked"))
      def leakFold(arr: Column): Column =
        aggregate(arr, init, (st, x) => {
          val fill = st.getField("fill"); val lk = st.getField("leaked")
          val t = x.getField("t")
          when(fill + t <= lit(ctx),
            struct((fill + t).as("fill"), (lk + t * fill).as("leaked")))
            .otherwise(struct(t.as("fill"), lk.as("leaked")))
        }, st => st.getField("leaked"))
      tok.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("t").as("n_tokens"),
          sum(expr("t * (t + 1) div 2")).as("kept_pairs"),
          leakFold(sort_array(collect_list(struct(col("doc_id"), col("t")))))
            .as("leaked_pairs"))
        .withColumn("leak_ratio_micro", expr(
          "CAST((CAST(leaked_pairs AS DECIMAL(38,0)) * 1000000) div (leaked_pairs + kept_pairs) AS BIGINT)"))
        .select("shard", "n_docs", "n_tokens", "kept_pairs", "leaked_pairs",
          "leak_ratio_micro")
        .orderBy("shard")
    },
    Some(s"""
      WITH RECURSIVE
      tok AS (SELECT doc_id, doc_id // 64 AS shard,
                     CAST(least(CAST(len($duckTokens) AS BIGINT), 128) AS BIGINT) AS t
              FROM documents),
      a AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS seq
            FROM tok),
      r AS (
        SELECT shard, seq, t AS fill, CAST(0 AS BIGINT) AS leaked
        FROM a WHERE seq = 1
        UNION ALL
        SELECT n.shard, n.seq,
               CASE WHEN r.fill + n.t <= 128 THEN r.fill + n.t ELSE n.t END,
               CASE WHEN r.fill + n.t <= 128 THEN r.leaked + n.t * r.fill
                    ELSE r.leaked END
        FROM r JOIN a n ON n.shard = r.shard AND n.seq = r.seq + 1),
      cnt AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(t) AS BIGINT) AS n_tokens,
                     CAST(sum((t * (t + 1)) // 2) AS BIGINT) AS kept_pairs
              FROM tok GROUP BY shard),
      fin AS (SELECT r.shard, r.leaked AS leaked_pairs
              FROM r JOIN cnt c ON c.shard = r.shard AND r.seq = c.n_docs)
      SELECT c.shard, c.n_docs, c.n_tokens, c.kept_pairs, f.leaked_pairs,
             CAST((CAST(f.leaked_pairs AS HUGEINT) * 1000000)
                  // (f.leaked_pairs + c.kept_pairs) AS BIGINT)
               AS leak_ratio_micro
      FROM cnt c JOIN fin f ON f.shard = c.shard
      ORDER BY c.shard"""))

  // --------------------------------------------------------------- q373

  /** q373 — token-budget greedy selection: take documents best-first
    * (lexical-diversity score, tiebreak doc_id) until a global token
    * budget — a quarter of the corpus — is spent; emit the selected
    * set with each doc's running total. This is the data-selection
    * step between scoring (q33 quality, q89 DSIR) and apportionment
    * (q184 Hamilton quotas): a GLOBAL cumulative sum in score order.
    * The classic plan is `sum(tok) OVER (ORDER BY score)` — a
    * partition-less window funneling the corpus through ONE task; the
    * engine's [[graft.operators.Relational.orderedPrefixSum]] instead
    * sorts and runs a two-phase carry (per-partition partials → one
    * Long each to the driver → exclusive offsets broadcast back), so
    * no single-partition stage exists (PlanSpec pins no-Window). The
    * score is integer arithmetic (distinct·10⁶ div tokens) so both
    * engines order identically; the oracle replays with a window —
    * correct at oracle scale, the very plan the operator replaces.
    */
  val q373 = Q("q373_budget_selection",
    (s, dir) => {
      import graft.operators.{Relational, TextAnalysis}
      val scored = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.distinctTokenCount(col("text")).cast("long").as("_nd"))
        .withColumn("score", expr("_nd * 1000000 div n_tokens"))
        .drop("_nd")
      val budget = scored.agg(expr("sum(n_tokens) div 4").as("_budget"))
      Relational.orderedPrefixSum(scored, "n_tokens", "cum_tokens",
        col("score").desc, col("doc_id").asc)
        .crossJoin(broadcast(budget))
        .filter(col("cum_tokens") <= col("_budget"))
        .select(col("doc_id"), col("n_tokens"), col("score"), col("cum_tokens"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      sc AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
                    CAST(len(list_distinct(w)) * 1000000 // len(w) AS BIGINT) AS score
             FROM t),
      c AS (SELECT doc_id, n_tokens, score,
                   sum(n_tokens) OVER (ORDER BY score DESC, doc_id) AS cum_tokens
            FROM sc),
      b AS (SELECT sum(n_tokens) // 4 AS bb FROM sc)
      SELECT doc_id, n_tokens, score, CAST(cum_tokens AS BIGINT) AS cum_tokens
      FROM c, b WHERE cum_tokens <= bb ORDER BY doc_id"""))

  val all: Seq[Q] = Seq(q77, q78, q79, q80, q81, q82, q83, q84, q85, q86, q87,
    q88, q89, q90, q91, q184, q300, q303, q304, q305, q330, q341, q342,
    q347, q348, q373)
}
