package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing
import graft.operators.Dedup
import graft.queries.Q.duckHash64

/** Corpus-curation operators a training-data pipeline runs before any
  * model sees a byte: repetition-based quality signals (the Gopher
  * filters), benchmark-contamination detection, deterministic global
  * shuffling into training shards, and domain-mix resampling.
  *
  * Scale design notes are on each query; the common theme is that every
  * per-document signal is a linear explode + re-group keyed on doc_id
  * (shuffle volume proportional to the token stream, never to doc
  * pairs), and every corpus-level statistic is a tiny aggregate that
  * re-enters the plan as a broadcast.
  */
object CorpusQueries {

  private val duckTokens = "string_split_regex(trim(text), '\\s+')"

  /** q61 — repetition signals (Gopher-style quality filter): per
    * document, the fraction of word-bigram occurrences that belong to
    * repeated bigrams, and the count of the most-repeated bigram.
    * High dup_frac = boilerplate / keyword-stuffed text that a
    * curation pipeline drops before training.
    *
    * Bigram identity is its 31-bit shingle hash from the compiled
    * single-pass kernel (`graft_shingle_hash_list`, the non-distinct
    * twin of the LSH kernel) — a declarative transform/element_at
    * chain here re-tokenizes the text PER ELEMENT once project-collapse
    * inlines it (measured 8–30 s at sf0.1; the kernel form is ~0.3 s),
    * and hashing also keeps the exploded shuffle rows skinny
    * (doc_id + long, never gram strings).
    *
    * Plan: one scan → explode → two hash aggregations sharing the
    * doc_id key. Shuffle volume is O(token stream), per-doc state is
    * O(distinct grams) — no pairwise work, so the shape holds at
    * 100 TB. Sub-2-token documents contribute their whole-text
    * shingle (kernel semantics, uniform with q36/q38).
    */
  val q61 = Q("q61_repetition",
    (s, dir) => {
      val gc = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(call_function("graft_shingle_hash_list", col("text"), lit(2))).as("gh"))
        .groupBy("doc_id", "gh").agg(count(lit(1)).as("cnt"))
      gc.groupBy("doc_id")
        .agg(
          sum(col("cnt")).as("n_grams"),
          sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_occ"),
          max(col("cnt")).as("top_cnt"))
        .withColumn("dup_frac", round(col("dup_occ").cast("double") / col("n_grams"), 6))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      grams AS (SELECT doc_id, unnest(
                CASE WHEN len(w) < 2
                     THEN [${duckHash64("array_to_string(w, ' ')")} & ${Dedup.MinhashP}]
                     ELSE list_transform(range(1, len(w)),
                            i -> ${duckHash64("w[i] || ' ' || w[i+1]")} & ${Dedup.MinhashP})
                END) AS gh
                FROM t),
      gc AS (SELECT doc_id, gh, count(*) AS cnt FROM grams GROUP BY 1, 2)
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_occ,
             CAST(max(cnt) AS BIGINT) AS top_cnt,
             round(CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
                   / sum(cnt), 6) AS dup_frac
      FROM gc GROUP BY doc_id ORDER BY doc_id"""))

  /** q62's engine — per-training-doc shingle overlap against an eval
    * partition of the same corpus, with ONE code path serving both
    * scales: the distinct eval shingles sit behind a shuffle, so
    * ADAPTIVE execution reads their true materialized size at runtime
    * and converts the join to broadcast-hash exactly when they fit —
    * otherwise it stays q91's one-linear-shuffle shape. Real benchmark
    * eval sets are a few thousand docs regardless of corpus size, so
    * production takes the broadcast conversion; an unbounded eval side
    * simply keeps the shuffled join. No plan-construction-time count
    * is involved (an earlier version ran one per call).
    *
    * Shingle hashing uses the compiled LSH kernel
    * (`graft_shingle_hashes`, 31-bit md5-derived, distinct per doc) —
    * the declarative HOF chain re-did the trigram+md5 work 3× per row
    * once the explode's inferred filters duplicated it (17-19 s at
    * sf0.1; kernel form ~0.5 s).
    */
  def contaminationOverlap(docs: org.apache.spark.sql.DataFrame,
                           evalPred: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    Dedup.shingleOverlapVsEval(docs.filter(!evalPred), docs.filter(evalPred),
        "doc_id", "text", n = 3)
      .filter(col("n_overlap") >= 1)
      .orderBy("doc_id")

  /** q62 — benchmark-contamination check: which training documents
    * share word-trigram shingles with a held-out eval set (docs with
    * doc_id % 97 = 0 stand in for the benchmark). All the machinery —
    * including the AQE runtime choice between the map-side and
    * q91-shuffled join shapes — is [[contaminationOverlap]].
    */
  val q62 = Q("q62_contamination",
    (s, dir) =>
      contaminationOverlap(Tables.load(s, dir, "documents"),
        pmod(col("doc_id"), lit(97)) === 0),
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
      ev AS (SELECT DISTINCT unnest(hs) AS h FROM hh WHERE doc_id % 97 = 0),
      tr AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams, unnest(hs) AS h
             FROM hh WHERE doc_id % 97 <> 0)
      SELECT doc_id, n_grams, count(*) AS n_overlap,
             round(CAST(count(*) AS DOUBLE) / n_grams, 6) AS overlap_frac
      FROM tr JOIN ev USING (h)
      GROUP BY doc_id, n_grams ORDER BY doc_id"""))

  /** q63 — deterministic corpus shuffle into training shards: every
    * document gets a shard (md5-bucket) and a position within its
    * shard (rank of a second, independent md5 key), giving a global
    * pseudo-random order that is exactly reproducible across engines,
    * re-runs, and re-partitioning — rand() can't promise any of that.
    *
    * Plan: map-only key derivation, then ONE shuffle on shard with a
    * per-shard sort (row_number). At 100 TB this is exactly the
    * "write shuffled training shards" job: shard count scales with
    * corpus size (8 here ≈ files per epoch), each task sorts only its
    * shard — Spark's repartition(shard) + sortWithinPartitions.
    */
  val q63 = Q("q63_corpus_shard",
    (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          pmod(Hashing.hash64(concat(lit("shard|"), col("doc_id").cast("string"))),
            lit(8)).as("shard"),
          Hashing.hash64(concat(lit("ord|"), col("doc_id").cast("string"))).as("ord_key"))
        .withColumn("pos", row_number().over(
          Window.partitionBy("shard").orderBy(col("ord_key").asc, col("doc_id").asc))
          .cast("long"))
        .select("doc_id", "source", "shard", "pos")
        .orderBy("shard", "pos")
    },
    Some(s"""
      WITH a AS (SELECT doc_id, source,
        ${duckHash64("concat('shard|', CAST(doc_id AS VARCHAR))")} % 8 AS shard,
        ${duckHash64("concat('ord|', CAST(doc_id AS VARCHAR))")} AS ord_key
        FROM documents)
      SELECT doc_id, source, shard,
             CAST(row_number() OVER (PARTITION BY shard
                    ORDER BY ord_key ASC, doc_id ASC) AS BIGINT) AS pos
      FROM a ORDER BY shard, pos"""))

  /** q64 — domain-mix resampling: hit a target source distribution
    * (weights 10/20/30 by source index mod 3) with the largest corpus
    * the data can supply. Budget math is pure integer arithmetic
    * (B = min_s ⌊cnt_s·W / w_s⌋, n_keep_s = ⌊B·w_s / W⌋) over a
    * per-source count table that is tiny at any corpus scale, so it
    * re-enters the plan as a broadcast; the per-source keep-set is the
    * n_keep smallest md5 keys — deterministic, repartition-stable, and
    * one window shuffle on source.
    *
    * Two-phase selection (r13 verdict item 6): a rank filter against
    * the JOINED quota column can never group-limit-push — each
    * source's FULL row set would sort in one task. Phase 1 filters
    * `rk <= max(n_keep)` as a LITERAL directly over the window, so
    * Spark's WindowGroupLimit prunes to the cap per MAP task before
    * the shuffle (PlanSpec-pinned); phase 2 applies the exact
    * per-source quota against the broadcast map. Same rows, but the
    * per-source sort now touches ≤ cap·tasks rows, not the stratum.
    */
  val q64 = Q("q64_domain_mix",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val counts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
        .withColumn("w",
          (lit(10) + lit(10) * pmod(substring(col("source"), 4, 10).cast("int"), lit(3)))
            .cast("long"))
      val totals = counts.agg(sum(col("w")).as("tw"))
      val quota = counts.crossJoin(broadcast(totals))
        .withColumn("b_s", expr("cnt * tw DIV w"))
      val budget = quota.agg(min(col("b_s")).as("budget"))
      val keep = quota.crossJoin(broadcast(budget))
        .withColumn("n_keep", expr("budget * w DIV tw"))
        .select("source", "n_keep")
        .localCheckpoint(false) // tiny; read twice (cap literal + quota join)
      // phase-1 literal: the largest quota over all sources (one row off
      // a per-source aggregate — bounded by the domain count, not data)
      val capRow = keep.agg(coalesce(max("n_keep"), lit(0L)).as("m")).collect()(0)
      val cap = math.min(capRow.getLong(0), Int.MaxValue.toLong).toInt
      docs.select(col("doc_id"), col("source"),
          Hashing.hash64(concat(lit("mix|"), col("doc_id").cast("string"))).as("hk"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("hk").asc, col("doc_id").asc)))
        .filter(col("rk") <= lit(cap)) // literal -> WindowGroupLimit
        .join(broadcast(keep), Seq("source"))
        .filter(col("rk").cast("long") <= col("n_keep"))
        .select(col("source"), col("rk").cast("long").as("rk"), col("doc_id"))
        .orderBy("source", "rk")
    },
    Some(s"""
      WITH counts AS (SELECT source, count(*) AS cnt,
             CAST(10 + 10 * (CAST(substr(source, 4) AS INT) % 3) AS BIGINT) AS w
             FROM documents GROUP BY source),
      tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM counts),
      quota AS (SELECT source, cnt, w, tw, (cnt * tw) // w AS b_s FROM counts, tw),
      budget AS (SELECT min(b_s) AS budget FROM quota),
      keep AS (SELECT source, (budget * w) // tw AS n_keep FROM quota, budget),
      rk AS (SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY
               ${duckHash64("concat('mix|', CAST(doc_id AS VARCHAR))")} ASC,
               doc_id ASC) AS BIGINT) AS rk
             FROM documents)
      SELECT source, rk, doc_id
      FROM rk JOIN keep USING (source) WHERE rk <= n_keep
      ORDER BY source, rk"""))

  /** q76 — URL canonicalization + URL-level dedup: crawl pipelines
    * dedup by canonical URL before any content hashing (cheapest
    * signal first). URLs are synthesized deterministically from doc_id
    * (q59's pattern — the corpus has no URL column): mixed-case hosts,
    * www. prefixes and tracking query strings all collapse to one
    * canonical form (lowercase host, www-stripped, query dropped),
    * then keep-first by doc_id within each canonical URL.
    *
    * Map-only canonicalization (regexes in the Java∩RE2 subset both
    * engines share) + ONE shuffle on the canonical key. At crawl scale
    * this is the first and cheapest dedup stage — it runs before any
    * content fingerprint because the key is bytes, not text analysis.
    */
  val q76 = Q("q76_url_dedup",
    (s, dir) => {
      val url = concat(lit("https://"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("WWW.Example.COM"))
          .when(pmod(col("doc_id"), lit(3)) === 1, lit("example.com"))
          .otherwise(lit("cdn.example.com")),
        lit("/page"), pmod(col("doc_id"), lit(50)).cast("string"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("?utm_source=feed&id="), col("doc_id").cast("string")))
          .otherwise(lit("")))
      val canon = concat(
        regexp_replace(lower(regexp_extract(col("url"), "^https?://([^/?]+)", 1)),
          "^www\\.", ""),
        regexp_extract(col("url"), "^https?://[^/?]+([^?]*)", 1))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), canon.as("canon_url"))
        .groupBy("canon_url")
        .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("kept_doc"))
        .orderBy("canon_url")
    },
    Some("""
      WITH u AS (
        SELECT doc_id, 'https://' ||
               CASE doc_id % 3 WHEN 0 THEN 'WWW.Example.COM'
                               WHEN 1 THEN 'example.com'
                               ELSE 'cdn.example.com' END ||
               '/page' || CAST(doc_id % 50 AS VARCHAR) ||
               CASE WHEN doc_id % 2 = 0
                    THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
                    ELSE '' END AS url
        FROM documents),
      c AS (
        SELECT doc_id,
               regexp_replace(lower(regexp_extract(url, '^https?://([^/?]+)', 1)),
                              '^www\.', '') ||
               regexp_extract(url, '^https?://[^/?]+([^?]*)', 1) AS canon_url
        FROM u)
      SELECT canon_url, count(*) AS n_urls, min(doc_id) AS kept_doc
      FROM c GROUP BY canon_url ORDER BY canon_url"""))

  /** q171 — token-budget parity upsampling: deterministic REPEAT
    * factors that bring every source up to the largest source's char
    * budget — the upsampling twin of q64/q86 (which only subsample).
    * Real mixtures repeat small high-quality sources for multiple
    * epochs; the repeat plan must be exactly reproducible.
    *
    * Per source: base = ⌊target/avail⌋ whole copies for every doc
    * (≥ 1 — target is the max, so `sequence(1, copies)` never sees an
    * empty range), plus one extra copy for the first ⌊frac·n_docs⌋
    * docs by salted-md5 rank — a deterministic fractional epoch. The
    * materialization is the real explode path; the per-source summary
    * re-aggregates it and carries the plan arithmetic for the oracle
    * to re-derive (the oracle uses the sum(copies) identity instead
    * of exploding — provably the same counts).
    *
    * Scale: one linear source aggregate + a one-row broadcast target;
    * the md5 rank is a per-source window (at 100 TB swap in q84's
    * two-level prefix sum, or threshold on the hash VALUE for an
    * approximate extra count — both documented trades). The explode
    * multiplies rows by up to base+1 — and base = ⌊target/avail⌋ is
    * UNBOUNDED when one source is tiny next to the corpus max, so
    * copies is capped at [[maxRepeat]] (mirrored in the oracle: the
    * cap is part of the operator's semantics, matching real mixture
    * recipes which never repeat a source 10k+ epochs). Sources with
    * avail_chars = 0 (all-empty docs) are excluded up front — the
    * base division is undefined for them and they contribute no
    * training tokens anyway.
    */
  /** Epoch cap for q171: no source is repeated more than this many
    * times, bounding the explode fan-out (and each task's row count)
    * regardless of how small a source is relative to the target. */
  val maxRepeat = 10000L
  val q171 = Q("q171_budget_repeat",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "n_chars")
      val per = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("avail_chars"))
        .filter(col("avail_chars") > 0L)
      val target = per.agg(max("avail_chars").as("target_chars"))
      val planned = per.crossJoin(broadcast(target))
        .withColumn("base_raw",
          floor(col("target_chars").cast("double") / col("avail_chars")).cast("long"))
        .withColumn("base", least(col("base_raw"), lit(maxRepeat)))
        // double math in a pinned order (rem → ×n_docs → ÷avail) so the
        // oracle replays bit-identically; floor, never round (.5 hazard).
        // A capped source gets no fractional epoch — it's already at the cap.
        .withColumn("extra_docs",
          when(col("base_raw") >= lit(maxRepeat), lit(0L))
            .otherwise(floor((col("target_chars") - col("base") * col("avail_chars")).cast("double")
              * col("n_docs") / col("avail_chars")).cast("long")))
        .drop("base_raw")
      val ranked = docs.join(broadcast(planned), Seq("source"))
        .withColumn("_rk", row_number().over(Window.partitionBy("source")
          .orderBy(Hashing.hash64(concat(lit("rep|"), col("doc_id").cast("string"))).asc,
            col("doc_id").asc)))
        .withColumn("copies",
          col("base") + when(col("_rk") <= col("extra_docs"), 1L).otherwise(0L))
      ranked
        .select(col("source"), col("n_chars"), explode(expr("sequence(1L, copies)")).as("_c"))
        .groupBy("source")
        .agg(count(lit(1)).as("realized_docs"), sum("n_chars").as("realized_chars"))
        .join(broadcast(planned), Seq("source"))
        .select(col("source"), col("n_docs"), col("avail_chars"), col("base"),
          col("extra_docs"), col("realized_docs"), col("realized_chars"))
        .orderBy("source")
    },
    Some(s"""
      WITH per AS (SELECT source, count(*) AS n_docs,
                          CAST(sum(n_chars) AS BIGINT) AS avail_chars
                   FROM documents GROUP BY 1
                   HAVING CAST(sum(n_chars) AS BIGINT) > 0),
      t AS (SELECT max(avail_chars) AS target_chars FROM per),
      praw AS (SELECT source, n_docs, avail_chars, target_chars,
              CAST(floor(CAST(target_chars AS DOUBLE) / avail_chars) AS BIGINT) AS base_raw
            FROM per CROSS JOIN t),
      p AS (SELECT source, n_docs, avail_chars,
              LEAST(base_raw, 10000) AS base,
              CASE WHEN base_raw >= 10000 THEN 0
                   ELSE CAST(floor(CAST(target_chars - LEAST(base_raw, 10000) * avail_chars AS DOUBLE)
                        * n_docs / avail_chars) AS BIGINT) END AS extra_docs
            FROM praw),
      r AS (SELECT d.source, d.n_chars, p.base, p.extra_docs,
              row_number() OVER (PARTITION BY d.source
                ORDER BY ${duckHash64("concat('rep|', CAST(doc_id AS VARCHAR))")} ASC,
                         doc_id ASC) AS rk
            FROM documents d JOIN p USING (source)),
      c AS (SELECT source, n_chars,
              base + CASE WHEN rk <= extra_docs THEN 1 ELSE 0 END AS copies
            FROM r)
      SELECT source, n_docs, avail_chars, base, extra_docs,
             CAST(sum(copies) AS BIGINT) AS realized_docs,
             CAST(sum(n_chars * copies) AS BIGINT) AS realized_chars
      FROM c JOIN p USING (source)
      GROUP BY source, n_docs, avail_chars, base, extra_docs
      ORDER BY source"""))

  /** q180 — shard integrity manifest: the reproducibility artifact a
    * training-data export ships alongside its shards (q63's layout) —
    * per shard, the row count, character count, and an
    * ORDER-INDEPENDENT content hash (sum of per-row md5-derived 60-bit
    * hashes mod 2^61−1, exact DECIMAL accumulation). Because addition
    * commutes, the hash is invariant under re-partitioning, task
    * retries, and engine choice: the oracle recomputes it from the raw
    * table with no ordering agreement, and any row lost, duplicated, or
    * altered anywhere in a 100 TB export flips its shard's hash. One
    * partial-aggregated groupBy — map-side combine does almost all the
    * work; shuffle volume is shards × 4 values.
    */
  val q180 = Q("q180_shard_manifest",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(
          pmod(Hashing.hash64(concat(lit("shard|"), col("doc_id").cast("string"))),
            lit(8)).as("shard"),
          concat_ws("|", col("doc_id"), col("source"), col("text")).as("_payload"))
      graft.sources.Sinks.shardManifest(docs, "shard", "_payload")
        .orderBy("shard")
    },
    Some(s"""
      WITH a AS (SELECT
          ${duckHash64("concat('shard|', CAST(doc_id AS VARCHAR))")} % 8 AS shard,
          concat_ws('|', doc_id, source, text) AS payload
        FROM documents)
      SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(length(payload)) AS BIGINT) AS n_chars,
             CAST(sum(${duckHash64("payload")}) % ${graft.sources.Sinks.ManifestP}
                  AS BIGINT) AS content_hash
      FROM a GROUP BY shard ORDER BY shard"""))

  /** q183 — corpus snapshot diff: the bookkeeping step every
    * incremental-ingest pipeline runs between two corpus versions —
    * which documents were added, removed, changed, or untouched. The
    * stand-in snapshots carve the documents table (old: id % 11 ≠ 0;
    * new: id % 13 ≠ 0, with id % 7 = 0 docs edited), fingerprint each
    * side with md5, and FULL OUTER join on the id. Scale shape: the
    * join ships only (id, 32-char fingerprint) — never document bodies
    * — so diffing a 100 TB corpus shuffles gigabytes, not terabytes;
    * classification is a per-row case; the output is a ≤4-row rollup
    * with a sum-of-ids checksum so the oracle pins membership, not
    * just counts. One fingerprint scan per side, one shuffle each for
    * the join, map-side-combined aggregation.
    */
  val q183 = Q("q183_corpus_diff",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val old = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
        .select(col("doc_id"), Hashing.fingerprint(col("text")).as("fp_old"))
      val neu = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
        .select(col("doc_id"),
          Hashing.fingerprint(
            when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text"))).as("fp_new"))
      old.join(neu, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("fp_old").isNull, "added")
            .when(col("fp_new").isNull, "removed")
            .when(col("fp_old") =!= col("fp_new"), "changed")
            .otherwise("unchanged"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
        .orderBy("status")
    },
    Some("""
      WITH o AS (SELECT doc_id, md5(text) AS fp_old
                 FROM documents WHERE doc_id % 11 <> 0),
      n AS (SELECT doc_id,
              md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS fp_new
            FROM documents WHERE doc_id % 13 <> 0),
      j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
              CASE WHEN fp_old IS NULL THEN 'added'
                   WHEN fp_new IS NULL THEN 'removed'
                   WHEN fp_old <> fp_new THEN 'changed'
                   ELSE 'unchanged' END AS status
            FROM o FULL JOIN n ON o.doc_id = n.doc_id)
      SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(doc_id) AS BIGINT) AS sum_ids
      FROM j GROUP BY status ORDER BY status"""))

  /** q185 — sketch-pruned EXACT heavy hitters: the two-pass pattern
    * that finds every token with count ≥ N/200 over a 100 TB stream
    * without ever shuffling the full vocabulary's counts. Pass 1
    * aggregates Spark's built-in mergeable count-min sketch (map-side
    * partials, bytes per executor ∝ sketch size, not vocab) plus the
    * exact stream length; the one-row result broadcast-joins onto the
    * distinct vocabulary and the custom `graft_cms_estimate` expression
    * reads each token's estimate inside the plan — no driver collect,
    * no closure capture. Because CMS error is ONE-SIDED (estimate ≥
    * true), the pruned candidates are a superset of the true answer, so
    * pass 2's exact count over the candidate-semi-joined stream returns
    * EXACTLY the true heavy hitters no matter how coarse the sketch —
    * which is why a DuckDB oracle that knows nothing about sketches can
    * gate it. Shuffle volume: pass 2 only moves candidate-token rows.
    */
  val q185 = Q("q185_cms_heavy_hitters",
    (s, dir) => {
      val tok = Tables.load(s, dir, "documents")
        .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("token"))
      val sketch = tok.agg(
        expr("count_min_sketch(token, 0.0005d, 0.99d, 42)").as("sk"),
        count(lit(1)).as("n"))
      val cand = tok.distinct()
        .join(broadcast(sketch))
        .filter(call_function("graft_cms_estimate", col("sk"), col("token"))
          >= expr("n div 200"))
        .select(col("token"))
      tok.join(broadcast(cand), Seq("token"), "left_semi")
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .join(broadcast(sketch.select(col("n"))))
        .filter(col("cnt") >= expr("n div 200"))
        .select(col("token"), col("cnt"))
        .orderBy("token")
    },
    Some(s"""
      WITH tok AS (SELECT unnest($duckTokens) AS token FROM documents),
      n AS (SELECT count(*) AS n FROM tok)
      SELECT token, CAST(count(*) AS BIGINT) AS cnt
      FROM tok, n GROUP BY token, n.n
      HAVING count(*) >= n // 200 ORDER BY token"""))

  /** q186 — categorical dictionary encoding: the train-prep step that
    * turns a string column into dense integer codes (embedding-table
    * row ids). Codes are assigned by (frequency desc, value asc) — a
    * total order, so the same corpus yields the same dictionary on any
    * engine/layout, and the most frequent category gets code 1 (the
    * convention that lets a model truncate its embedding table to the
    * top-k). The dictionary build is one groupBy(value) rollup
    * (map-side combined — shuffle rows = cardinality, not corpus), and
    * id assignment uses the scale path (zipWithIndexOrdered — a
    * zipWithIndex over the sorted rollup, no single-partition window),
    * so a 10^9-cardinality id column encodes as comfortably as a
    * 20-value source tag.
    */
  val q186 = Q("q186_categorical_encode",
    (s, dir) => {
      val counts = Tables.load(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      graft.operators.Relational
        .zipWithIndexOrdered(counts, "code", col("n_docs").desc, col("source").asc)
        .select(col("source"), col("n_docs"), col("code"))
        .orderBy("code")
    },
    Some("""
      WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
             CAST(row_number() OVER (ORDER BY n_docs DESC, source) AS BIGINT) AS code
      FROM c ORDER BY code"""))

  /** q187 — capped inverted index: the retrieval-side artifact (token →
    * document-frequency + first-k posting list) a corpus ships next to
    * its shards for term lookup and BM25-style scoring (q93 consumes
    * these statistics). The ORDER of operations is the scale content:
    * the per-token posting cap applies via a token-partitioned
    * row_number BEFORE any list materializes, so a stop-word whose full
    * posting list is the corpus itself still costs k rows — a
    * collect-then-slice would hold the billion-element list first. The
    * window, the df rollup, and the capped collect all cluster on
    * token: one exchange feeds all three.
    */
  val q187 = Q("q187_inverted_index",
    (s, dir) => {
      val post = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.operators.TextAnalysis.tokens(col("text"))).as("token"))
        .distinct()
      // r15 opt: df + the 8 smallest doc_ids ride ONE hash aggregate —
      // the bounded top-k aggregate replaces a window sort over every
      // posting AND the df-branch join that recomputed the whole
      // tokenize+distinct subtree a second time (post had no checkpoint)
      post.groupBy("token").agg(count(lit(1)).as("df"),
          concat_ws(",", call_function("graft_top_k_longs", col("doc_id"), lit(8))
            .cast("array<string>")).as("postings"))
        .filter(col("df") >= 50)
        .orderBy("token")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, unnest($duckTokens) AS token FROM documents),
      d AS (SELECT DISTINCT token, doc_id FROM t)
      SELECT token, CAST(count(*) AS BIGINT) AS df,
             array_to_string((list(doc_id ORDER BY doc_id))[1:8], ',') AS postings
      FROM d GROUP BY token HAVING count(*) >= 50 ORDER BY token"""))

  /** q196 — exact duplicated-substring spans (the span-level
    * counterpart of document dedup, after "Deduplicating Training Data
    * Makes Language Models Better", Lee et al. 2021): every 8-token
    * window that appears VERBATIM in ≥2 distinct documents, merged per
    * document into maximal token spans `[start_tok, end_tok]`. A
    * curation pipeline cuts these spans out of the surviving copy too —
    * boilerplate, licenses, and templated passages recur across
    * documents that are nowhere near whole-document duplicates, which
    * is why MinHash/SimHash never see them.
    *
    * Plan, and why it holds at 100 TB:
    *  1. one scan → `graft_shingle_hash_list(text, 8)` (the compiled
    *     single-pass kernel) + posexplode — windows travel as
    *     (doc_id, pos, 61-bit hash), never as gram strings, so the
    *     exploded shuffle is ~20 bytes/token;
    *  2. shared-window detection is a groupBy(hash) with map-side
    *     partial counts — O(distinct windows) state, no pairwise work;
    *  3. the (tiny) shared-hash set joins back to the window stream —
    *     AQE reads its true size and broadcasts it in production
    *     (boilerplate is a vanishing fraction of distinct windows);
    *  4. span merging is gaps-and-islands per document
    *     (pos − row_number over doc_id): partition cardinality is one
    *     document's windows, bounded by document length, never corpus
    *     size.
    * Both engines hash windows identically (md5-60-bit & 2^31−1), so
    * even hash collisions — which at corpus scale a production run
    * would verify-pass like q36 — cannot diverge the gate.
    *
    * Sub-8-token documents contribute their whole-text hash at pos 0
    * (kernel semantics, uniform with q36/q38/q61); the synthetic corpus
    * has none (min 10 tokens), and the oracle mirrors the branch.
    */
  val q196 = Q("q196_dup_spans",
    (s, dir) => {
      val wins = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(call_function("graft_shingle_hash_list", col("text"), lit(8))))
        .toDF("doc_id", "pos", "gh")
        .withColumn("pos", col("pos").cast("long"))
      val shared = wins.groupBy("gh")
        .agg(countDistinct("doc_id").as("_nd"))
        .filter(col("_nd") > 1)
        .select("gh")
      val hit = wins.join(shared, Seq("gh"))
      hit
        .withColumn("_grp",
          col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
        .groupBy(col("doc_id"), col("_grp"))
        .agg(min("pos").as("start_tok"),
          (max(col("pos")) + lit(7L)).as("end_tok"),
          count(lit(1)).as("n_windows"))
        .select(col("doc_id"), col("start_tok"), col("end_tok"),
          (col("end_tok") - col("start_tok") + lit(1L)).as("span_tokens"),
          col("n_windows"))
        .orderBy("doc_id", "start_tok")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      win AS (
        SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
               ${duckHash64("array_to_string(w[u.i:u.i+7], ' ')")} & ${Dedup.MinhashP} AS gh
        FROM t, unnest(range(1, len(w) - 6)) AS u(i)
        WHERE len(w) >= 8
        UNION ALL
        SELECT doc_id, CAST(0 AS BIGINT) AS pos,
               ${duckHash64("array_to_string(w, ' ')")} & ${Dedup.MinhashP} AS gh
        FROM t WHERE len(w) < 8),
      sh AS (SELECT gh FROM win GROUP BY gh HAVING count(DISTINCT doc_id) > 1),
      hit AS (SELECT doc_id, pos FROM win WHERE gh IN (SELECT gh FROM sh)),
      g AS (SELECT doc_id, pos,
              pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM hit)
      SELECT doc_id, min(pos) AS start_tok, max(pos) + 7 AS end_tok,
             max(pos) + 7 - min(pos) + 1 AS span_tokens,
             CAST(count(*) AS BIGINT) AS n_windows
      FROM g GROUP BY doc_id, grp ORDER BY doc_id, start_tok"""))

  // --------------------------------------------------------------- q221

  /** q221 — PMI collocations: the top-20 adjacent word pairs by
    * pointwise mutual information (min support 5) — the collocation
    * miner ("new york", "machine learning") behind phrase detection
    * in word2vec-style preprocessing and tokenizer-vocabulary design.
    *
    * Scale shape: bigram pairs are generated MAP-SIDE from each
    * document's token array (an index-transform over the array — no
    * per-token shuffle, no window), then one pair rollup and one
    * unigram rollup; the support filter runs BEFORE the unigram
    * joins, so the joined candidate set is the rare-pair tail, which
    * AQE turns into broadcasts. Corpus totals re-enter as broadcast
    * 1-row aggregates.
    *
    * Exactness: PMI = ln(c_xy·Nt²/(Np·c_x·c_y)) through the proven
    * round(·1e9)::long quantization, identical double expressions
    * both sides; ordering is total (pmi desc, then the pair).
    */
  val q221 = Q("q221_pmi_collocations",
    (s, dir) => {
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.TextAnalysis.tokens(col("text")).as("w"))
      val pairs = base.filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS x, w[i + 1] AS y))")).as("p"))
        .select(col("p.x").as("x"), col("p.y").as("y"))
      val cxy = pairs.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      val uni = base
        .select(explode(col("w")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val nt = uni.agg(sum("c").as("_nt"))
      val np = cxy.agg(sum("c_xy").as("_np"))
      cxy.filter(col("c_xy") >= 5)
        .join(uni.select(col("tok").as("x"), col("c").as("c_x")), Seq("x"))
        .join(uni.select(col("tok").as("y"), col("c").as("c_y")), Seq("y"))
        .crossJoin(broadcast(nt)).crossJoin(broadcast(np))
        .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"),
          expr("""CAST(round(ln((CAST(c_xy AS DOUBLE) * _nt * _nt)
                 / (CAST(_np AS DOUBLE) * c_x * c_y)) * 1e9) AS BIGINT)""")
            .as("pmi_nano"))
        .orderBy(col("pmi_nano").desc, col("x"), col("y"))
        .limit(20)
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      pairs AS (
        SELECT w[u.i] AS x, w[u.i + 1] AS y
        FROM t, unnest(range(1, len(w))) AS u(i)
        WHERE len(w) >= 2),
      cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
              FROM pairs GROUP BY 1, 2),
      uni AS (SELECT unnest(w) AS tok FROM t),
      uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
      nt AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM uc),
      np AS (SELECT CAST(sum(c_xy) AS BIGINT) AS np FROM cxy)
      SELECT cxy.x, cxy.y, cxy.c_xy, ux.c AS c_x, uy.c AS c_y,
             CAST(round(ln((CAST(c_xy AS DOUBLE) * nt.nt * nt.nt)
               / (CAST(np.np AS DOUBLE) * ux.c * uy.c)) * 1e9) AS BIGINT)
               AS pmi_nano
      FROM cxy
      JOIN uc ux ON cxy.x = ux.tok
      JOIN uc uy ON cxy.y = uy.tok
      CROSS JOIN nt CROSS JOIN np
      WHERE cxy.c_xy >= 5
      ORDER BY pmi_nano DESC, cxy.x, cxy.y LIMIT 20"""))

  // --------------------------------------------------------------- q224

  /** q224 — Zipf slope of the corpus term-frequency distribution: OLS
    * of ln(freq) on ln(rank) over the top-1000 terms — natural text
    * sits near slope −1, and a corpus that drifts away (synthetic
    * spam, template floods, truncated crawls) moves the slope; this
    * is the corpus-law fingerprint companion to q203's Benford test
    * on numbers.
    *
    * Scale: term counts are one linear rollup; the rank only exists
    * on the top-1000 shortlist (TakeOrderedAndProject with a total
    * tie-break), so the one global row_number runs over ≤1000 rows —
    * a PlanSpec-whitelisted bounded site. The OLS runs on
    * micro-quantized ln values (proven recipe) with every moment
    * product in DECIMAL(38,0)/HUGEINT and sign-symmetric final
    * divisions; slope lands in exact micro-units (Zipf ≈ −1e6).
    */
  val q224 = Q("q224_zipf_slope",
    (s, dir) => {
      val top = Tables.load(s, dir, "documents")
        .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("tok").asc)
        .limit(1000)
      val xy = top
        .withColumn("_rk",
          row_number().over(Window.orderBy(col("f").desc, col("tok").asc)))
        .select(
          expr("CAST(round(ln(CAST(_rk AS DOUBLE)) * 1e6) AS BIGINT)").as("x"),
          expr("CAST(round(ln(CAST(f AS DOUBLE)) * 1e6) AS BIGINT)").as("y"))
      xy.agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
        .withColumn("_num", expr(
          "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
        .withColumn("_den", expr(
          "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
        .withColumn("_dyy", expr(
          "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
        // r² squares _num — at 1e6-quantized moments that exceeds 38
        // digits, so the r² path first reduces each moment by 1e6
        // (identical integer reduction both engines; r² stays exact
        // w.r.t. the reduced moments)
        .withColumn("_numm", expr(
          "CASE WHEN _num < 0 THEN -((-_num) div 1000000) ELSE _num div 1000000 END"))
        .withColumn("_denm", expr("_den div 1000000"))
        .withColumn("_dyym", expr("_dyy div 1000000"))
        .select(col("n"),
          expr("""CAST(CASE WHEN _num < 0
                 THEN -((-(1000000 * _num)) div _den)
                 ELSE (1000000 * _num) div _den END AS BIGINT)""").as("slope_micro"),
          expr("""CASE WHEN _dyym = 0 OR _denm = 0 THEN NULL ELSE
                 CAST((CAST(1000000 AS DECIMAL(38,0)) * _numm * _numm)
                      div (CAST(_denm AS DECIMAL(38,0)) * _dyym) AS BIGINT) END""")
            .as("r2_micro"))
    },
    Some(s"""
      WITH toks AS (SELECT unnest($duckTokens) AS tok FROM documents),
      tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1),
      top AS (SELECT tok, f FROM tf ORDER BY f DESC, tok ASC LIMIT 1000),
      xy AS (SELECT
               CAST(round(ln(CAST(row_number() OVER (ORDER BY f DESC, tok ASC)
                 AS DOUBLE)) * 1e6) AS BIGINT) AS x,
               CAST(round(ln(CAST(f AS DOUBLE)) * 1e6) AS BIGINT) AS y
             FROM top),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                   sum(CAST(x AS HUGEINT) * y) AS sxy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx,
                   sum(CAST(y AS HUGEINT) * y) AS syy
            FROM xy),
      d AS (SELECT n,
                   CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
                   CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
                   CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dyy
            FROM m),
      r AS (SELECT n, num, den, dyy,
                   CASE WHEN num < 0 THEN -((-num) // 1000000)
                        ELSE num // 1000000 END AS numm,
                   den // 1000000 AS denm, dyy // 1000000 AS dyym
            FROM d)
      SELECT n,
             CAST(CASE WHEN num < 0 THEN -((-(1000000 * num)) // den)
                  ELSE (1000000 * num) // den END AS BIGINT) AS slope_micro,
             CASE WHEN dyym = 0 OR denm = 0 THEN NULL ELSE
               CAST((1000000 * numm * numm) // (denm * dyym) AS BIGINT) END AS r2_micro
      FROM r"""))

  // --------------------------------------------------------------- q231

  /** q231 — held-out bigram perplexity per source: train an add-one
    * smoothed bigram LM on 80% of documents (doc_id % 5 ≠ 0), score
    * the held-out 20%, report per-source mean negative log-likelihood
    * and perplexity — the LM-eval harness proper, where q77 scores
    * with an in-corpus model: train/eval separation is what turns
    * "fluency prior" into a measured quality signal, and a source
    * whose held-out perplexity explodes is distributionally alien to
    * the rest of the corpus.
    *
    * Exactness: each bigram's −ln((c_xy+1)/(c_x+V)) is per-row double
    * → round(·1e9)::long (the proven recipe) before any multi-row
    * sum; unseen bigrams/unigrams coalesce to 0 BEFORE the identical
    * double expression; V is the train vocab size as a broadcast
    * 1-row aggregate; perplexity exponentiates once per output row.
    *
    * Scale: bigrams generated map-side from token arrays (q221's
    * shape), two linear count rollups, eval joins shuffle on the
    * bigram/unigram keys — all linear in the token stream.
    */
  val q231 = Q("q231_heldout_perplexity",
    (s, dir) => {
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.operators.TextAnalysis.tokens(col("text")).as("w"))
      val tr = base.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val ev = base.filter(pmod(col("doc_id"), lit(5)) === 0)
      def bigrams(df: org.apache.spark.sql.DataFrame) = df
        .filter(size(col("w")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS x, w[i + 1] AS y))")).as("p"))
        .select(col("source"), col("p.x").as("x"), col("p.y").as("y"))
      val cxy = bigrams(tr).groupBy("x", "y").agg(count(lit(1)).as("cxy"))
      val cx = tr.select(explode(col("w")).as("x"))
        .groupBy("x").agg(count(lit(1)).as("cx"))
      val v = cx.agg(count(lit(1)).as("_v"))
      bigrams(ev)
        .join(cxy, Seq("x", "y"), "left")
        .join(cx, Seq("x"), "left")
        .crossJoin(broadcast(v))
        .withColumn("_nll", expr(
          """CAST(round(-ln((coalesce(cxy, 0) + 1.0)
             / (coalesce(cx, 0) + _v)) * 1e9) AS BIGINT)"""))
        .groupBy("source")
        .agg(count(lit(1)).as("n_bigrams"), sum("_nll").as("_s"))
        .select(col("source"), col("n_bigrams"),
          expr("_s div n_bigrams").as("nll_nano"),
          expr("round(exp(CAST(_s div n_bigrams AS DOUBLE) / 1e9), 6)").as("ppl"))
        .orderBy("source")
    },
    Some(s"""
      WITH base AS (SELECT doc_id, source, $duckTokens AS w FROM documents),
      tr AS (SELECT * FROM base WHERE doc_id % 5 <> 0),
      ev AS (SELECT * FROM base WHERE doc_id % 5 = 0),
      trb AS (SELECT w[u.i] AS x, w[u.i + 1] AS y
              FROM tr, unnest(range(1, len(w))) AS u(i) WHERE len(w) >= 2),
      cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cxy FROM trb GROUP BY 1, 2),
      cx AS (SELECT unnest(w) AS x FROM tr),
      cxa AS (SELECT x, CAST(count(*) AS BIGINT) AS cx FROM cx GROUP BY 1),
      v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM cxa),
      evb AS (SELECT source, w[u.i] AS x, w[u.i + 1] AS y
              FROM ev, unnest(range(1, len(w))) AS u(i) WHERE len(w) >= 2),
      nll AS (SELECT evb.source,
                     CAST(round(-ln((coalesce(cxy.cxy, 0) + 1.0)
                       / (coalesce(cxa.cx, 0) + v.v)) * 1e9) AS BIGINT) AS t
              FROM evb
              LEFT JOIN cxy ON evb.x = cxy.x AND evb.y = cxy.y
              LEFT JOIN cxa ON evb.x = cxa.x
              CROSS JOIN v),
      agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
                     CAST(sum(t) AS BIGINT) AS s
              FROM nll GROUP BY 1)
      SELECT source, n_bigrams, s // n_bigrams AS nll_nano,
             round(exp(CAST(s // n_bigrams AS DOUBLE) / 1e9), 6) AS ppl
      FROM agg ORDER BY source"""))

  // --------------------------------------------------------------- q232

  /** q232 — leave-one-source-out corpus ablation: for EVERY source,
    * the corpus statistics (doc count, token mass, mean doc length,
    * exact-duplicate count and rate) of the corpus WITHOUT that
    * source — the data-valuation report ("which source is dragging
    * the mix") computed for all N ablations in ONE pass, never
    * re-scanning the corpus per source.
    *
    * The additive stats are trivially algebraic (total − per-source
    * sums). The interesting one is the DUPLICATE count, which is not
    * additive: removing a source changes whether other sources' docs
    * still have a twin. It decomposes exactly as
    * Σ_fp f(c_t − c_s) = Σ_fp f(c_t) + Σ_{fp: c_s>0} [f(c_t−c_s) −
    * f(c_t)] with f(x) = x·1[x≥2] — a global term plus corrections
    * only over (fingerprint, source) pairs that EXIST, i.e. one join
    * of the per-(fp, source) counts against broadcast-joined fp
    * totals. All integer.
    */
  val q232 = Q("q232_loo_ablation",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("source"), col("n_chars"),
          size(graft.operators.TextAnalysis.tokens(col("text"))).cast("long").as("nt"),
          md5(col("text")).as("fp"))
      val perSrc = docs.groupBy("source")
        .agg(count(lit(1)).as("sd"), sum("nt").as("st"), sum("n_chars").as("sc"))
      val tot = perSrc.agg(sum("sd").as("td"), sum("st").as("tt"), sum("sc").as("tc"))
      val fpt = docs.groupBy("fp").agg(count(lit(1)).as("ct"))
      val g = fpt.agg(sum(when(col("ct") >= 2, col("ct")).otherwise(0L)).as("gdup"))
      val corr = docs.groupBy("fp", "source").agg(count(lit(1)).as("cs"))
        .join(fpt, Seq("fp"))
        .withColumn("_rem", col("ct") - col("cs"))
        .withColumn("_delta",
          when(col("_rem") >= 2, col("_rem")).otherwise(lit(0L))
            - when(col("ct") >= 2, col("ct")).otherwise(lit(0L)))
        .groupBy("source").agg(sum("_delta").as("dcorr"))
      perSrc.join(corr, Seq("source"), "left")
        .crossJoin(broadcast(tot)).crossJoin(broadcast(g))
        .select(col("source"),
          (col("td") - col("sd")).as("n_docs_rem"),
          (col("tt") - col("st")).as("n_tokens_rem"),
          expr("(1000000 * (tt - st)) div (td - sd)").as("mean_tok_micro_rem"),
          (col("gdup") + coalesce(col("dcorr"), lit(0L))).as("dup_docs_rem"),
          expr("(1000000 * (gdup + coalesce(dcorr, 0))) div (td - sd)")
            .as("dup_rate_micro_rem"))
        .orderBy("source")
    },
    Some(s"""
      WITH d AS (SELECT source, n_chars,
                        CAST(len($duckTokens) AS BIGINT) AS nt,
                        md5(text) AS fp
                 FROM documents),
      ps AS (SELECT source, CAST(count(*) AS BIGINT) AS sd,
                    CAST(sum(nt) AS BIGINT) AS st,
                    CAST(sum(n_chars) AS BIGINT) AS sc
             FROM d GROUP BY 1),
      tot AS (SELECT CAST(sum(sd) AS BIGINT) AS td, CAST(sum(st) AS BIGINT) AS tt,
                     CAST(sum(sc) AS BIGINT) AS tc FROM ps),
      fpt AS (SELECT fp, CAST(count(*) AS BIGINT) AS ct FROM d GROUP BY 1),
      g AS (SELECT CAST(sum(CASE WHEN ct >= 2 THEN ct ELSE 0 END) AS BIGINT) AS gdup
            FROM fpt),
      cs AS (SELECT fp, source, CAST(count(*) AS BIGINT) AS cs FROM d GROUP BY 1, 2),
      corr AS (SELECT cs.source,
                      CAST(sum((CASE WHEN fpt.ct - cs.cs >= 2 THEN fpt.ct - cs.cs ELSE 0 END)
                        - (CASE WHEN fpt.ct >= 2 THEN fpt.ct ELSE 0 END)) AS BIGINT) AS dcorr
               FROM cs JOIN fpt ON cs.fp = fpt.fp GROUP BY 1)
      SELECT ps.source,
             tot.td - ps.sd AS n_docs_rem,
             tot.tt - ps.st AS n_tokens_rem,
             (1000000 * (tot.tt - ps.st)) // (tot.td - ps.sd) AS mean_tok_micro_rem,
             g.gdup + coalesce(corr.dcorr, 0) AS dup_docs_rem,
             (1000000 * (g.gdup + coalesce(corr.dcorr, 0))) // (tot.td - ps.sd)
               AS dup_rate_micro_rem
      FROM ps LEFT JOIN corr ON ps.source = corr.source
      CROSS JOIN tot CROSS JOIN g
      ORDER BY ps.source"""))

  // --------------------------------------------------------------- q288

  /** q288 — greedy set-cover corpus selection: pick 5 sources, one
    * per round, each maximizing the count of NOT-yet-covered distinct
    * word-trigram shingles (unigram vocabularies saturate after one
    * pick on any corpus with a shared core vocabulary) — the classical (1−1/e)-approximate data-selection loop
    * ("which 5 crawls buy the most vocabulary?") behind
    * coverage-driven corpus budgeting.
    *
    * Greedy is INHERENTLY sequential in rounds, so the driver loop is
    * the correct shape: each round is one distributed anti-join +
    * grouped count over the (source, shingle) set, and only the 1-row
    * argmax and the covered-count scalar ever reach the driver — 5
    * rounds = ~10 tiny jobs regardless of corpus size. Ties break on
    * source name; all numbers are exact longs. The oracle unrolls the
    * same 5 rounds as CTEs.
    */
  val q288 = Q("q288_set_cover",
    (s, dir) => {
      import s.implicits._
      // r16: fan the unsplittable scan before the trigram build — the
      // tokenize+explode+distinct map side was one task (562 ms CPU).
      // Keyed on doc_id (unique), NOT source (a handful of values
      // would leave most partitions empty)
      val tok = graft.operators.ScaleOps.fanIfNarrow(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("text")),
          col("doc_id"))
        .select(col("source"), graft.operators.TextAnalysis.tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("source"), explode(expr(
          """transform(sequence(0, size(w) - 3),
             i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))""")).as("token"))
        .distinct()
        .localCheckpoint(false) // re-scanned once per greedy round
      var covered: org.apache.spark.sql.DataFrame = null
      var chosen = List.empty[String]
      var out = List.empty[(Int, String, Long, Long)]
      for (r <- 1 to 5) {
        val cand = if (covered == null) tok
          else tok.join(covered, Seq("token"), "left_anti")
        val notChosen = if (chosen.isEmpty) cand
          else cand.filter(!col("source").isin(chosen: _*))
        val g = notChosen
          .groupBy("source").agg(count(lit(1)).as("gain"))
          .orderBy(desc("gain"), col("source")).limit(1).collect()(0)
        val (src, gain) = (g.getString(0), g.getLong(1))
        chosen = chosen :+ src
        val mine = tok.filter(col("source") === src).select("token")
        covered = (if (covered == null) mine else covered.union(mine))
          .distinct().localCheckpoint(false)
        out = out :+ ((r, src, gain, covered.count()))
      }
      out.toDF("round", "source", "gain", "cum_tokens")
    },
    Some(s"""
      WITH t AS (SELECT source, $duckTokens AS w FROM documents),
      tok AS (SELECT DISTINCT source,
                     concat(w[u.i], ' ', w[u.i + 1], ' ', w[u.i + 2]) AS token
              FROM t, unnest(range(1, len(w) - 1)) AS u(i)
              WHERE len(w) >= 3),
      p1 AS (SELECT source, CAST(count(*) AS BIGINT) AS gain FROM tok
             GROUP BY 1 ORDER BY gain DESC, source LIMIT 1),
      c1 AS (SELECT DISTINCT token FROM tok
             WHERE source IN (SELECT source FROM p1)),
      p2 AS (SELECT source, CAST(count(*) AS BIGINT) AS gain FROM tok
             WHERE token NOT IN (SELECT token FROM c1)
               AND source NOT IN (SELECT source FROM p1)
             GROUP BY 1 ORDER BY gain DESC, source LIMIT 1),
      c2 AS (SELECT token FROM c1 UNION
             SELECT token FROM tok WHERE source IN (SELECT source FROM p2)),
      p3 AS (SELECT source, CAST(count(*) AS BIGINT) AS gain FROM tok
             WHERE token NOT IN (SELECT token FROM c2)
               AND source NOT IN (SELECT source FROM p1 UNION ALL SELECT source FROM p2)
             GROUP BY 1 ORDER BY gain DESC, source LIMIT 1),
      c3 AS (SELECT token FROM c2 UNION
             SELECT token FROM tok WHERE source IN (SELECT source FROM p3)),
      p4 AS (SELECT source, CAST(count(*) AS BIGINT) AS gain FROM tok
             WHERE token NOT IN (SELECT token FROM c3)
               AND source NOT IN (SELECT source FROM p1 UNION ALL SELECT source FROM p2
                                  UNION ALL SELECT source FROM p3)
             GROUP BY 1 ORDER BY gain DESC, source LIMIT 1),
      c4 AS (SELECT token FROM c3 UNION
             SELECT token FROM tok WHERE source IN (SELECT source FROM p4)),
      p5 AS (SELECT source, CAST(count(*) AS BIGINT) AS gain FROM tok
             WHERE token NOT IN (SELECT token FROM c4)
               AND source NOT IN (SELECT source FROM p1 UNION ALL SELECT source FROM p2
                                  UNION ALL SELECT source FROM p3 UNION ALL SELECT source FROM p4)
             GROUP BY 1 ORDER BY gain DESC, source LIMIT 1),
      c5 AS (SELECT token FROM c4 UNION
             SELECT token FROM tok WHERE source IN (SELECT source FROM p5))
      SELECT CAST(1 AS INTEGER) AS round, source, gain,
             (SELECT CAST(count(*) AS BIGINT) FROM c1) AS cum_tokens FROM p1
      UNION ALL SELECT 2, source, gain,
             (SELECT CAST(count(*) AS BIGINT) FROM c2) FROM p2
      UNION ALL SELECT 3, source, gain,
             (SELECT CAST(count(*) AS BIGINT) FROM c3) FROM p3
      UNION ALL SELECT 4, source, gain,
             (SELECT CAST(count(*) AS BIGINT) FROM c4) FROM p4
      UNION ALL SELECT 5, source, gain,
             (SELECT CAST(count(*) AS BIGINT) FROM c5) FROM p5
      ORDER BY round"""))

  // --------------------------------------------------------------- q297

  /** q297 — Kneser-Ney smoothed bigram language model: the classic
    * absolute-discounting estimator (d = 0.75) whose back-off weight
    * is the CONTINUATION probability (how many distinct contexts a
    * word follows) rather than raw frequency — the difference that
    * makes "Francisco" unlikely after anything but "San". q77's
    * unsmoothed bigram LM assigns zero to unseen pairs; this is the
    * model production text-quality scorers actually use.
    *
    * P(w|v) = (c(vw)−d)⁺/c(v) + d·N₁₊(v·)/c(v) · N₁₊(·w)/T.
    * All five count families are linear grouped passes over the
    * bigram stream (shuffles keyed on v, w, or the pair — never
    * pairwise); d = 3/4 is exact in quarter-units, so the formula is
    * one double over exact integers, nano-quantized once. Top-20 by
    * smoothed probability.
    */
  val q297 = Q("q297_kneser_ney",
    (s, dir) => {
      val pairs = Tables.load(s, dir, "documents")
        .select(graft.operators.TextAnalysis.tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS v, w[i + 1] AS t))")).as("p"))
        .select(col("p.v").as("v"), col("p.t").as("t"))
      val cvw = pairs.groupBy("v", "t").agg(count(lit(1)).as("c_vw"))
        .localCheckpoint(false) // 4 count-family consumers
      val cv = cvw.groupBy("v").agg(sum("c_vw").as("c_v"))
      val fanout = cvw.groupBy("v").agg(count(lit(1)).as("n1p_v"))
      val contin = cvw.groupBy("t").agg(count(lit(1)).as("n1p_w"))
      val types = cvw.groupBy().agg(count(lit(1)).as("tt"))
      cvw
        .join(broadcast(cv), Seq("v"))
        .join(broadcast(fanout), Seq("v"))
        .join(broadcast(contin), Seq("t"))
        .crossJoin(broadcast(types))
        .select(col("v"), col("t").as("w"), col("c_vw"),
          expr("""CAST(round(1e9 * (
              CAST(greatest(4 * c_vw - 3, 0) AS DOUBLE) / CAST(4 * c_v AS DOUBLE)
              + 3.0 * CAST(n1p_v AS DOUBLE) / CAST(4 * c_v AS DOUBLE)
                * CAST(n1p_w AS DOUBLE) / CAST(tt AS DOUBLE))) AS BIGINT)""")
            .as("p_nano"))
        .orderBy(desc("p_nano"), col("v"), col("w"))
        .limit(20)
        .select(col("v"), col("w"), col("c_vw"),
          round(col("p_nano").cast("double") / 1e9, 6).as("p_kn"))
    },
    Some(s"""
      WITH t0 AS (SELECT $duckTokens AS w FROM documents),
      pairs AS (SELECT w[u.i] AS v, w[u.i + 1] AS t
                FROM t0, unnest(range(1, len(w))) AS u(i)
                WHERE len(w) >= 2),
      cvw AS (SELECT v, t, CAST(count(*) AS BIGINT) AS c_vw
              FROM pairs GROUP BY 1, 2),
      cv AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v FROM cvw GROUP BY 1),
      fanout AS (SELECT v, CAST(count(*) AS BIGINT) AS n1p_v FROM cvw GROUP BY 1),
      contin AS (SELECT t, CAST(count(*) AS BIGINT) AS n1p_w FROM cvw GROUP BY 1),
      types AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM cvw),
      scored AS (SELECT cvw.v, cvw.t AS w, c_vw,
                   CAST(round(1e9 * (
                     CAST(greatest(4 * c_vw - 3, 0) AS DOUBLE) / CAST(4 * c_v AS DOUBLE)
                     + 3.0 * CAST(n1p_v AS DOUBLE) / CAST(4 * c_v AS DOUBLE)
                       * CAST(n1p_w AS DOUBLE) / CAST(tt AS DOUBLE))) AS BIGINT)
                     AS p_nano
                 FROM cvw JOIN cv ON cvw.v = cv.v
                          JOIN fanout ON cvw.v = fanout.v
                          JOIN contin ON cvw.t = contin.t
                          CROSS JOIN types)
      SELECT v, w, c_vw, round(CAST(p_nano AS DOUBLE) / 1e9, 6) AS p_kn
      FROM scored ORDER BY p_nano DESC, v, w LIMIT 20"""))

  /** q316 — HTML → text extraction (the WET step of crawl curation),
    * exactly oracle-gated: every document wrapped in a deterministic
    * HTML shell (head/style/script subtrees, comments, tag soup, the
    * full fixed entity set incl. a double-escape probe) and run
    * through [[graft.operators.HtmlText.extract]] — script/style
    * SUBTREE removal, comment and tag stripping, one-level entity
    * decode (`&amp;` last), explicit-class whitespace collapse. The
    * whole extraction is codegen'd built-ins (regexp_replace/replace):
    * one map-only projection over the scan, no UDF, no shuffle — at
    * 100 TB this runs at parquet-scan speed. The oracle applies the
    * IDENTICAL chain (HtmlText.duckSql — engine and oracle generated
    * from one entity table, so they cannot drift silently) to the
    * identically-constructed shell; any divergence in subtree
    * boundaries, decode order, or whitespace classes hash-fails.
    */
  val q316 = Q("q316_html_extract",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"), lit("</title>\n"),
        lit("<style type=\"text/css\">body { color: #333; }</style>\n"),
        lit("<script>var s = \"<b>&amp;</b>\"; if ("), col("doc_id") % 7,
        lit(" < 5) { track(); }</script>\n"),
        lit("</head><body>\n<h1>"), col("source"), lit(" &amp; corpus</h1>\n"),
        lit("<!-- crawl "), col("doc_id"), lit(" <meta> -->\n"),
        lit("<p class=\"main\">"), col("text"), lit("</p>\n"),
        lit("<p>&lt;raw&gt;&nbsp;tail&apos;s &quot;quote&quot; &amp;lt;keep</p>\n"),
        lit("</body></html>"))
      d.select(col("doc_id"), html.as("html"))
        .select(col("doc_id"), length(col("html")).cast("long").as("n_chars_raw"),
          graft.operators.HtmlText.extract(col("html")).as("text_clean"))
        .withColumn("n_chars_clean", length(col("text_clean")).cast("long"))
        .orderBy("doc_id")
    },
    Some {
      val htmlExpr = """'<html><head><title>Doc ' || doc_id || '</title>' || chr(10) ||
        '<style type="text/css">body { color: #333; }</style>' || chr(10) ||
        '<script>var s = "<b>&amp;</b>"; if (' || (doc_id % 7) ||
        ' < 5) { track(); }</script>' || chr(10) ||
        '</head><body>' || chr(10) || '<h1>' || source || ' &amp; corpus</h1>' || chr(10) ||
        '<!-- crawl ' || doc_id || ' <meta> -->' || chr(10) ||
        '<p class="main">' || text || '</p>' || chr(10) ||
        '<p>&lt;raw&gt;&nbsp;tail&apos;s &quot;quote&quot; &amp;lt;keep</p>' || chr(10) ||
        '</body></html>'"""
      s"""
      WITH h AS (SELECT doc_id, $htmlExpr AS html FROM documents)
      SELECT doc_id, CAST(length(html) AS BIGINT) AS n_chars_raw,
             ${graft.operators.HtmlText.duckSql("html")} AS text_clean,
             CAST(length(${graft.operators.HtmlText.duckSql("html")}) AS BIGINT)
               AS n_chars_clean
      FROM h ORDER BY doc_id"""
    })

  /** q317 — URL normalization + registrable-domain rollup, exactly
    * oracle-gated: messy deterministic URLs (mixed-case scheme/host,
    * default ports, fragments, utm_* tracking params) normalize
    * through [[graft.operators.UrlOps.normalize]] and roll up per
    * registrable domain (mini public-suffix set) — the crawl-curation
    * pass behind per-site quotas, host dedup keys and domain-level
    * mixture weights. Map-side normalization is all codegen'd
    * regexp/string built-ins; the single shuffle is the domain rollup
    * (exactly the aggregation a 100 TB crawl needs anyway). Oracle
    * generated from the same UrlOps source of truth.
    */
  val q317 = Q("q317_url_normalize",
    (s, dir) => {
      import graft.operators.UrlOps
      val d = Tables.load(s, dir, "documents")
        .withColumn("k", (col("doc_id") % 60).cast("long"))
      val schemeStr = element_at(
        array(lit("http"), lit("https"), lit("HTTP"), lit("HTTPS")),
        (col("k") % 4).cast("int") + 1)
      val hostStr = when(col("k") % 3 === 0,
          concat(lit("WWW.Shop"), (col("k") % 7).cast("string"), lit(".COM")))
        .when(col("k") % 3 === 1,
          concat(lit("cdn"), (col("k") % 5).cast("string"),
            lit(".News"), (col("k") % 4).cast("string"), lit(".co.uk")))
        .otherwise(concat(lit("Blog"), (col("k") % 9).cast("string"),
          lit(".Example.ORG")))
      val portStr = when(col("k") % 5 === 0,
          when(col("k") % 4 === 1 || col("k") % 4 === 3, lit(":443"))
            .otherwise(lit(":80")))
        .otherwise(lit(""))
      val queryStr = when(col("k") % 4 === 0,
          concat(lit("?utm_source=feed&utm_medium=rss&ref="), col("k").cast("string")))
        .when(col("k") % 4 === 1,
          concat(lit("?id="), col("k").cast("string"), lit("&utm_campaign=x")))
        .when(col("k") % 4 === 2, concat(lit("?id="), col("k").cast("string")))
        .otherwise(lit(""))
      val fragStr = when(col("k") % 2 === 0,
        concat(lit("#sec"), col("k").cast("string"))).otherwise(lit(""))
      val url = concat(schemeStr, lit("://"), hostStr, portStr,
        lit("/item/"), col("doc_id").cast("string"), queryStr, fragStr)
      d.select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          UrlOps.normalize(col("url")).as("norm_url"),
          UrlOps.scheme(col("url")).as("sch"),
          UrlOps.host(col("url")).as("host"))
        .withColumn("domain", UrlOps.registrableDomain(col("host")))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("host")).as("n_hosts"),
          sum(when(col("sch") === "https", 1L).otherwise(0L)).as("n_https"),
          min(col("norm_url")).as("min_url"))
        .orderBy("domain")
    },
    Some {
      import graft.operators.UrlOps
      val urlExpr = """
        (['http','https','HTTP','HTTPS'][CAST(1 + k % 4 AS INT)]) || '://' ||
        (CASE WHEN k % 3 = 0 THEN 'WWW.Shop' || (k % 7) || '.COM'
              WHEN k % 3 = 1 THEN 'cdn' || (k % 5) || '.News' || (k % 4) || '.co.uk'
              ELSE 'Blog' || (k % 9) || '.Example.ORG' END) ||
        (CASE WHEN k % 5 = 0 THEN
                CASE WHEN k % 4 IN (1, 3) THEN ':443' ELSE ':80' END
              ELSE '' END) ||
        '/item/' || doc_id ||
        (CASE WHEN k % 4 = 0 THEN '?utm_source=feed&utm_medium=rss&ref=' || k
              WHEN k % 4 = 1 THEN '?id=' || k || '&utm_campaign=x'
              WHEN k % 4 = 2 THEN '?id=' || k
              ELSE '' END) ||
        (CASE WHEN k % 2 = 0 THEN '#sec' || k ELSE '' END)"""
      s"""
      WITH d AS (SELECT doc_id, CAST(doc_id % 60 AS BIGINT) AS k FROM documents),
      u AS (SELECT doc_id, $urlExpr AS url FROM d),
      n AS (SELECT doc_id,
              ${UrlOps.duckNormalizeSql("url")} AS norm_url,
              lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
              lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)) AS host
            FROM u),
      r AS (SELECT *, ${UrlOps.duckRegistrableSql("host")} AS domain FROM n)
      SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
             CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
             CAST(sum(CASE WHEN sch = 'https' THEN 1 ELSE 0 END) AS BIGINT) AS n_https,
             min(norm_url) AS min_url
      FROM r GROUP BY domain ORDER BY domain"""
    })

  /** q320 — robots.txt fetchability audit, exactly oracle-gated: the
    * policy pass of the crawl suite (q317 normalizes, q316 extracts,
    * this decides what may be fetched). Deterministic per-domain
    * robots texts parse through [[graft.operators.RobotsOps
    * .parseRules]] (map-side line explode) and every URL gets the
    * documented longest-match decision ([[graft.operators.RobotsOps
    * .decide]]: longest matching prefix wins, ties to Allow, no match
    * ⇒ allowed) via a domain equi-join + bounded per-url window —
    * the fact table shuffles once, on its natural key. The oracle
    * replays both the parse and the longest-match window in SQL.
    */
  val q320 = Q("q320_robots_audit",
    (s, dir) => {
      import graft.operators.RobotsOps
      val d = Tables.load(s, dir, "documents")
        .withColumn("k", (col("doc_id") % 60).cast("long"))
      val domain = when(col("k") % 3 === 0,
          concat(lit("shop"), (col("k") % 7).cast("string"), lit(".com")))
        .when(col("k") % 3 === 1,
          concat(lit("news"), (col("k") % 4).cast("string"), lit(".co.uk")))
        .otherwise(lit("example.org"))
      val urls = d.select(domain.as("domain"),
        concat(lit("/item/"), col("doc_id").cast("string")).as("path"))
      val kd = (length(col("domain")) * 7 + ascii(col("domain"))) % 10
      val robots = urls.select("domain").distinct()
        .withColumn("kd", kd)
        .withColumn("robots_txt", concat(
          lit("User-agent: *\nDisallow: /item/"), col("kd").cast("string"),
          when(col("kd") % 2 === 0,
            concat(lit("\nAllow: /item/"), col("kd").cast("string"), lit("2")))
            .otherwise(lit("")),
          when(col("kd") % 3 === 0, lit("\nDisallow: /private")).otherwise(lit(""))))
      val rules = RobotsOps.parseRules(robots, "domain", "robots_txt")
      RobotsOps.decide(urls, rules)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          sum(lit(1L) - col("allowed")).as("n_blocked"),
          min(when(col("allowed") === 0, col("path"))).as("min_blocked_path"))
        .orderBy("domain")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 60 AS BIGINT) AS k FROM documents),
      urls AS (SELECT CASE WHEN k % 3 = 0 THEN 'shop' || (k % 7) || '.com'
                           WHEN k % 3 = 1 THEN 'news' || (k % 4) || '.co.uk'
                           ELSE 'example.org' END AS domain,
                      '/item/' || doc_id AS path
               FROM d),
      doms AS (SELECT DISTINCT domain,
                      (length(domain) * 7 + ascii(domain)) % 10 AS kd
               FROM urls),
      robots AS (SELECT domain,
                   'User-agent: *' || chr(10) || 'Disallow: /item/' || kd ||
                   (CASE WHEN kd % 2 = 0
                         THEN chr(10) || 'Allow: /item/' || kd || '2' ELSE '' END) ||
                   (CASE WHEN kd % 3 = 0
                         THEN chr(10) || 'Disallow: /private' ELSE '' END) AS txt
                 FROM doms),
      lines AS (SELECT domain, unnest(string_split(txt, chr(10))) AS line FROM robots),
      rules AS (SELECT domain,
                       regexp_extract(line, '^(Allow|Disallow): (.*)$', 1) AS rule,
                       regexp_extract(line, '^(Allow|Disallow): (.*)$', 2) AS prefix
                FROM lines
                WHERE regexp_extract(line, '^(Allow|Disallow): (.*)$', 1) <> ''
                  AND regexp_extract(line, '^(Allow|Disallow): (.*)$', 2) <> ''),
      j AS (SELECT u.domain, u.path, r.rule, r.prefix,
                   (r.prefix IS NOT NULL AND
                    substr(u.path, 1, length(r.prefix)) = r.prefix) AS m,
                   length(r.prefix) AS plen
            FROM urls u LEFT JOIN rules r ON u.domain = r.domain),
      ranked AS (SELECT *, row_number() OVER
                   (PARTITION BY domain, path
                    ORDER BY m DESC, plen DESC, rule ASC) AS rn
                 FROM j),
      dec AS (SELECT domain, path,
                     CASE WHEN m AND rule = 'Disallow' THEN 0 ELSE 1 END AS allowed
              FROM ranked WHERE rn = 1)
      SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
             CAST(sum(1 - allowed) AS BIGINT) AS n_blocked,
             min(CASE WHEN allowed = 0 THEN path END) AS min_blocked_path
      FROM dec GROUP BY domain ORDER BY domain"""))

  /** q321 — PII detection + redaction, exactly oracle-gated: the
    * safety pass an LLM corpus runs first. Deterministic
    * email/IPv4/phone injections ride on every document; the engine
    * counts matches per type ([[graft.operators.PiiOps.countMatches]]
    * — the portable split-size trick, codegen'd) and emits typed-
    * placeholder redacted text ([[PiiOps.redact]] — literal
    * replacements, fixed order, no group references). Map-only at
    * scan speed; any divergence in patterns, order, or placeholder
    * text hash-fails against the same-source oracle chain.
    */
  val q321 = Q("q321_pii_redact",
    (s, dir) => {
      import graft.operators.PiiOps
      val d = Tables.load(s, dir, "documents")
        .withColumn("k", (col("doc_id") % 50).cast("long"))
      val injected = concat(col("text"),
        when(col("k") % 3 === 0,
          concat(lit(" Contact user"), col("k").cast("string"), lit("@example"),
            (col("k") % 5).cast("string"), lit(".com now"))).otherwise(lit("")),
        when(col("k") % 4 === 0,
          concat(lit(" Server 10."), (col("k") % 256).cast("string"), lit(".0."),
            (col("k") % 100).cast("string"), lit(" up"))).otherwise(lit("")),
        when(col("k") % 5 === 0,
          concat(lit(" Call +1-555-"), (lit(100) + col("k") % 900).cast("string"),
            lit("-"), (lit(1000) + (col("k") * 7) % 9000).cast("string")))
          .otherwise(lit("")))
      d.select(col("doc_id"), injected.as("t"))
        .select(col("doc_id"),
          PiiOps.countMatches(col("t"), PiiOps.EmailRe).as("n_emails"),
          PiiOps.countMatches(col("t"), PiiOps.Ipv4Re).as("n_ips"),
          PiiOps.countMatches(col("t"), PiiOps.PhoneRe).as("n_phones"),
          PiiOps.redact(col("t")).as("text_redacted"))
        .withColumn("n_chars_redacted", length(col("text_redacted")).cast("long"))
        .orderBy("doc_id")
    },
    Some {
      import graft.operators.PiiOps
      s"""
      WITH d AS (SELECT doc_id, text, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      t AS (SELECT doc_id, text ||
              (CASE WHEN k % 3 = 0 THEN ' Contact user' || k || '@example' ||
                      (k % 5) || '.com now' ELSE '' END) ||
              (CASE WHEN k % 4 = 0 THEN ' Server 10.' || (k % 256) || '.0.' ||
                      (k % 100) || ' up' ELSE '' END) ||
              (CASE WHEN k % 5 = 0 THEN ' Call +1-555-' || (100 + k % 900) ||
                      '-' || (1000 + (k * 7) % 9000) ELSE '' END) AS t
            FROM d)
      SELECT doc_id,
             ${PiiOps.duckCountSql("t", PiiOps.EmailRe)} AS n_emails,
             ${PiiOps.duckCountSql("t", PiiOps.Ipv4Re)} AS n_ips,
             ${PiiOps.duckCountSql("t", PiiOps.PhoneRe)} AS n_phones,
             ${PiiOps.duckRedactSql("t")} AS text_redacted,
             CAST(length(${PiiOps.duckRedactSql("t")}) AS BIGINT) AS n_chars_redacted
      FROM t ORDER BY doc_id"""
    })

  /** q322 — content-defined chunking (Gear CDC) dedup census, exactly
    * oracle-gated: each document's head (240 bytes — bounds the
    * oracle's recursion; the kernel itself is unbounded) chunks at
    * gear-hash boundaries (`h ← (h<<1)+gear[b]`, boundary when the low
    * 6 bits are zero ⇒ ~64-byte expected chunks) via the compiled
    * [[graft.expressions.GearChunks]] kernel — ONE codegen'd pass per
    * row, the MinhashKernel discipline. Content-defined boundaries
    * survive insert/delete edits (fixed-size chunking shifts every
    * downstream boundary), which is what makes chunk-fingerprint
    * dedup work on near-identical documents — the rsync/LBFS recipe
    * at corpus scale: explode chunks, ONE fingerprint rollup, join
    * doc-counts back. The oracle replays the whole state machine as a
    * recursive CTE in HUGEINT mod 2⁶⁴ with the gear table re-derived
    * from the same md5 formula — any divergence in the fold, the
    * reset-on-boundary, or the chunk fingerprints hash-fails.
    */
  val q322 = Q("q322_cdc_chunks",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 240).as("s"))
      val ch = d.select(col("doc_id"),
        explode(call_function("graft_gear_chunks", col("s"), lit(6))).as("c"))
        .select(col("doc_id"), col("c.fp").as("fp"), col("c.len").as("clen"))
      val fd = ch.groupBy("fp").agg(countDistinct("doc_id").as("nd"))
      ch.join(fd, Seq("fp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("clen")).cast("long").as("sum_chunk_len"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared_chunks"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE
      gear AS (SELECT b, CAST(concat('0x', substr(md5('gear:' || b), 1, 15)) AS BIGINT) AS g
               FROM (SELECT unnest(range(256)) AS b)),
      t AS (SELECT doc_id, substr(text, 1, 240) AS s FROM documents),
      seq(doc_id, pos, h, bnd) AS (
        SELECT doc_id, 0, CAST(0 AS HUGEINT), FALSE FROM t
        UNION ALL
        SELECT seq.doc_id, seq.pos + 1,
               CASE WHEN ((seq.h * 2 + g.g) % 18446744073709551616) % 64 = 0
                    THEN CAST(0 AS HUGEINT)
                    ELSE (seq.h * 2 + g.g) % 18446744073709551616 END,
               ((seq.h * 2 + g.g) % 18446744073709551616) % 64 = 0
        FROM seq JOIN t ON seq.doc_id = t.doc_id
        JOIN gear g ON g.b = ascii(substr(t.s, seq.pos + 1, 1))
        WHERE seq.pos < length(t.s)),
      b AS (SELECT doc_id, pos FROM seq WHERE bnd),
      -- explicit DISTINCT over UNION ALL: inside a WITH RECURSIVE
      -- statement DuckDB parses a bare UNION CTE body as recursive-CTE
      -- syntax and does NOT apply plain set-dedup semantics
      e AS (SELECT DISTINCT doc_id, pos FROM (
              SELECT doc_id, pos FROM b
              UNION ALL
              SELECT doc_id, CAST(length(s) AS INTEGER) FROM t
              WHERE length(s) > 0) u),
      c AS (SELECT doc_id,
              coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0) + 1 AS st,
              pos AS en
            FROM e),
      ch AS (SELECT c.doc_id,
               CAST(concat('0x', substr(md5(substr(t.s, c.st, c.en - c.st + 1)), 1, 15))
                 AS BIGINT) AS fp,
               c.en - c.st + 1 AS clen
             FROM c JOIN t ON c.doc_id = t.doc_id),
      fd AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM ch GROUP BY fp)
      SELECT ch.doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(clen) AS BIGINT) AS sum_chunk_len,
             CAST(sum(CASE WHEN fd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks
      FROM ch JOIN fd ON ch.fp = fd.fp
      GROUP BY ch.doc_id ORDER BY ch.doc_id"""))

  /** q326 — Unicode script/mojibake census, exactly oracle-gated: the
    * script-mixing triage pass (CCNet/fineweb-style) a multilingual
    * crawl runs before language-ID can be trusted — mixed-script text
    * is usually boilerplate, spam, or encoding damage, and zero-width
    * / control characters are the classic token-smuggling vector.
    * Deterministic CJK / Cyrillic / ZWSP / control injections ride on
    * the ASCII corpus (the q321 discipline); counts use the portable
    * split-size trick over EXPLICIT `[\x{…}-\x{…}]` code-point
    * classes — the one range syntax java.util.regex and RE2 share
    * (`\p{Han}` vs `\p{IsHan}` spellings diverge, so script names are
    * designed out). Map-only, zero shuffles, all codegen'd built-ins.
    */
  val q326 = Q("q326_script_census",
    (s, dir) => {
      val k = (col("doc_id") % 50).cast("long")
      // Spark's chr() is ASCII-only (n % 256) — inject real code points
      // via array-literal lookup instead (still codegen'd constants)
      val cjkChars = array((0 until 50).map(i =>
        lit(String.valueOf((0x4E00 + i).toChar))): _*)
      val cyrChars = array((0 until 32).map(i =>
        lit(String.valueOf((0x410 + i).toChar))): _*)
      val injected = concat(col("text"),
        when(k % 4 === 0, repeat(element_at(cjkChars, (k + 1).cast("int")),
          (lit(4) + k % 7).cast("int"))).otherwise(lit("")),
        when(k % 5 === 0, repeat(element_at(cyrChars, (k % 32 + 1).cast("int")), 3))
          .otherwise(lit("")),
        when(k % 6 === 0, lit("\u200B")).otherwise(lit("")),
        when(k % 7 === 0, lit("\u0007")).otherwise(lit("")))
      def cnt(c: org.apache.spark.sql.Column, cls: String) =
        (size(split(c, cls)) - 1).cast("long")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), injected.as("t"))
        .select(col("doc_id"),
          cnt(col("t"), "[A-Za-z]").as("n_latin"),
          cnt(col("t"), "[\\x{4E00}-\\x{9FFF}]").as("n_cjk"),
          cnt(col("t"), "[\\x{0400}-\\x{04FF}]").as("n_cyr"),
          cnt(col("t"), "[\\x{200B}-\\x{200D}]").as("n_zwsp"),
          cnt(col("t"), "[\\x{0001}-\\x{0008}\\x{000E}-\\x{001F}]").as("n_ctrl"))
        .withColumn("mixed_script",
          ((col("n_cjk") > 0 || col("n_cyr") > 0) && col("n_latin") > 0)
            .cast("long"))
        .withColumn("suspicious", (col("n_zwsp") + col("n_ctrl") > 0).cast("long"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k, text FROM documents),
      t AS (SELECT doc_id, text ||
              (CASE WHEN k % 4 = 0 THEN repeat(chr(CAST(19968 + k AS INT)), CAST(4 + k % 7 AS INT)) ELSE '' END) ||
              (CASE WHEN k % 5 = 0 THEN repeat(chr(CAST(1040 + k % 32 AS INT)), 3) ELSE '' END) ||
              (CASE WHEN k % 6 = 0 THEN chr(8203) ELSE '' END) ||
              (CASE WHEN k % 7 = 0 THEN chr(7) ELSE '' END) AS t
            FROM d),
      c AS (SELECT doc_id,
              CAST(length(string_split_regex(t, '[A-Za-z]')) - 1 AS BIGINT) AS n_latin,
              CAST(length(string_split_regex(t, '[\x{4E00}-\x{9FFF}]')) - 1 AS BIGINT) AS n_cjk,
              CAST(length(string_split_regex(t, '[\x{0400}-\x{04FF}]')) - 1 AS BIGINT) AS n_cyr,
              CAST(length(string_split_regex(t, '[\x{200B}-\x{200D}]')) - 1 AS BIGINT) AS n_zwsp,
              CAST(length(string_split_regex(t, '[\x{0001}-\x{0008}\x{000E}-\x{001F}]')) - 1 AS BIGINT) AS n_ctrl
            FROM t)
      SELECT doc_id, n_latin, n_cjk, n_cyr, n_zwsp, n_ctrl,
             CAST(CASE WHEN (n_cjk > 0 OR n_cyr > 0) AND n_latin > 0 THEN 1 ELSE 0 END
               AS BIGINT) AS mixed_script,
             CAST(CASE WHEN n_zwsp + n_ctrl > 0 THEN 1 ELSE 0 END AS BIGINT) AS suspicious
      FROM c ORDER BY doc_id"""))

  /** q327 — source-overlap matrix ("which crawl dumps overlap"),
    * exactly oracle-gated: corpus-LEVEL dedup triage — before any
    * doc-level pass, a 100 TB ingest wants the pairwise overlap of
    * its source dumps to know which pairs are worth deduping against
    * each other. Two estimators side by side: (1) EXACT 3-token-
    * shingle Jaccard, computed scalably because a shingle's distinct-
    * source list is bounded by the source count (≤ ~20 ⇒ ≤ 190 pairs
    * per shingle — never doc×doc); (2) the 32-family MinHash
    * signature agreement (md5 hash families, exact integer mins) —
    * the sketch that replaces (1) when the source count grows. Both
    * are deterministic integers except the two round-6 ratios.
    */
  val q327 = Q("q327_source_overlap",
    (s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(col("source"), split(trim(col("text")), "\\s+").as("t"))
      val sh = toks.select(col("source"), explode(expr(
        """CASE WHEN size(t) >= 3
             THEN transform(sequence(0, size(t)-3),
                            i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
             ELSE CAST(array() AS ARRAY<STRING>) END""")).as("sh"))
        .distinct()
      val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
      val common = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_common"))
      val exact = common
        .join(broadcast(sizes).withColumnRenamed("source", "src_a")
          .withColumnRenamed("n", "na"), Seq("src_a"))
        .join(broadcast(sizes).withColumnRenamed("source", "src_b")
          .withColumnRenamed("n", "nb"), Seq("src_b"))
      val hs = explode(array((0 until 32).map(lit(_)): _*)).as("h")
      val sig = sh.select(col("source"), col("sh"), hs)
        .select(col("source"), col("h"),
          Hashing.hash64(concat(col("sh"), lit("#"), col("h"))).as("hv"))
        .groupBy("source", "h").agg(min("hv").as("mv"))
      val agree = sig.as("x").join(sig.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
        .agg(sum(when(col("x.mv") === col("y.mv"), 1L).otherwise(0L)).as("n_sig_agree"))
      exact.join(agree, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"), col("n_common"),
          round(col("n_common").cast("double") /
            (col("na") + col("nb") - col("n_common")), 6).as("jaccard_exact"),
          coalesce(col("n_sig_agree"), lit(0L)).as("n_sig_agree"),
          round(coalesce(col("n_sig_agree"), lit(0L)).cast("double") / 32, 6)
            .as("jaccard_est"))
        .orderBy("src_a", "src_b")
    },
    Some("""
      WITH d AS (SELECT source, string_split_regex(trim(text), '\s+') AS t FROM documents),
      sh AS (SELECT DISTINCT source,
                    unnest(list_transform(range(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
             FROM d),
      sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
      common AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
                 FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
                 GROUP BY 1, 2),
      sig AS (SELECT source, h,
                     min(CAST(concat('0x', substr(md5(sh || '#' || h), 1, 15)) AS BIGINT)) AS mv
              FROM sh CROSS JOIN (SELECT unnest(range(32)) AS h) hh
              GROUP BY source, h),
      agree AS (SELECT x.source AS src_a, y.source AS src_b,
                       sum(CASE WHEN x.mv = y.mv THEN 1 ELSE 0 END) AS n_sig_agree
                FROM sig x JOIN sig y ON x.h = y.h AND x.source < y.source
                GROUP BY 1, 2)
      SELECT c.src_a, c.src_b,
             CAST(c.n_common AS BIGINT) AS n_common,
             round(CAST(c.n_common AS DOUBLE) / (sa.n + sb.n - c.n_common), 6) AS jaccard_exact,
             CAST(coalesce(g.n_sig_agree, 0) AS BIGINT) AS n_sig_agree,
             round(CAST(coalesce(g.n_sig_agree, 0) AS DOUBLE) / 32, 6) AS jaccard_est
      FROM common c
      JOIN sizes sa ON sa.source = c.src_a
      JOIN sizes sb ON sb.source = c.src_b
      LEFT JOIN agree g ON g.src_a = c.src_a AND g.src_b = c.src_b
      ORDER BY c.src_a, c.src_b"""))

  /** q328 — Luhn card-number audit, exactly oracle-gated: the
    * STRUCTURED-PII complement to q321's pattern pass — a 16-digit
    * run is only a live card number if its mod-10 check digit
    * verifies, and the distinction (valid card vs random digits)
    * drives whether a redaction pipeline escalates. Card-shaped
    * injections ride on every 2nd doc (check digit correct when
    * k%3==0, off-by-one otherwise); the engine extracts the run and
    * VERIFIES Luhn with integer array folds (`aggregate`/
    * `list_reduce` — all codegen'd, no UDF), and the oracle
    * re-derives the verdict with its own independent fold. Map-only,
    * zero shuffles.
    */
  val q328 = Q("q328_luhn_audit",
    (s, dir) => {
      val k = (col("doc_id") % 50).cast("long")
      // 16 deterministic digits: d0 = 4, d1..d14 = (k·7+i·13)%10, d15 =
      // Luhn check over d0..d14, +1 mod 10 when k%3≠0 (invalid)
      val digits = (0 until 15).map {
        case 0 => lit(4L)
        case i => (k * 7 + i * 13) % 10
      }
      // doubling applies at even left indices for a 16-digit number
      val partial = digits.zipWithIndex.map { case (d, i) =>
        if (i % 2 == 0) {
          val dd = d * 2
          when(dd > 9, dd - 9).otherwise(dd)
        } else d
      }.reduce(_ + _)
      val check = (lit(10L) - partial % 10) % 10
      val checkUsed = when(k % 3 === 0, check).otherwise((check + 1) % 10)
      val cardStr = concat((digits :+ checkUsed).map(_.cast("string")): _*)
      val injected = when(k % 2 === 0,
        concat(col("text"), lit(" card "), cardStr, lit(" on file")))
        .otherwise(col("text"))
      // verify: fold the 16 extracted digits with the same doubling rule
      val luhnSum = expr(
        """aggregate(transform(sequence(1, 16),
             i -> CASE WHEN i % 2 = 1
                       THEN CASE WHEN CAST(substring(cc, i, 1) AS INT) * 2 > 9
                                 THEN CAST(substring(cc, i, 1) AS INT) * 2 - 9
                                 ELSE CAST(substring(cc, i, 1) AS INT) * 2 END
                       ELSE CAST(substring(cc, i, 1) AS INT) END),
           0, (acc, x) -> acc + x)""")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), injected.as("t"))
        .withColumn("cc", regexp_extract(col("t"), "[0-9]{16}", 0))
        .select(col("doc_id"),
          (length(col("cc")) === 16).cast("long").as("card_found"),
          when(length(col("cc")) === 16 && luhnSum % 10 === 0, 1L).otherwise(0L)
            .as("luhn_valid"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k, text FROM documents),
      gen AS (SELECT doc_id, k,
                     list_transform(range(0, 15),
                       i -> CASE WHEN i = 0 THEN 4 ELSE (k * 7 + i * 13) % 10 END) AS ds
              FROM d),
      chk AS (SELECT doc_id, k, ds,
                     (10 - list_sum(list_transform(range(1, 16),
                        i -> CASE WHEN (i - 1) % 2 = 0
                                  THEN CASE WHEN ds[i] * 2 > 9 THEN ds[i] * 2 - 9
                                            ELSE ds[i] * 2 END
                                  ELSE ds[i] END)) % 10) % 10 AS c
              FROM gen),
      t AS (SELECT c2.doc_id,
                   CASE WHEN c2.k % 2 = 0
                        THEN d.text || ' card ' ||
                             list_aggregate(list_transform(c2.ds, x -> CAST(x AS VARCHAR)), 'string_agg', '') ||
                             CAST(CASE WHEN c2.k % 3 = 0 THEN c2.c ELSE (c2.c + 1) % 10 END AS VARCHAR) ||
                             ' on file'
                        ELSE d.text END AS t
            FROM chk c2 JOIN d ON c2.doc_id = d.doc_id),
      x AS (SELECT doc_id, regexp_extract(t, '[0-9]{16}', 0) AS cc FROM t),
      v AS (SELECT doc_id, cc,
                   list_sum(list_transform(range(1, 17),
                     i -> CASE WHEN i % 2 = 1
                               THEN CASE WHEN CAST(substr(cc, CAST(i AS INT), 1) AS INT) * 2 > 9
                                         THEN CAST(substr(cc, CAST(i AS INT), 1) AS INT) * 2 - 9
                                         ELSE CAST(substr(cc, CAST(i AS INT), 1) AS INT) * 2 END
                               ELSE CAST(substr(cc, CAST(i AS INT), 1) AS INT) END)) AS s
            FROM x WHERE length(cc) = 16)
      SELECT d.doc_id,
             CAST(CASE WHEN v.cc IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS card_found,
             CAST(CASE WHEN v.s % 10 = 0 THEN 1 ELSE 0 END AS BIGINT) AS luhn_valid
      FROM d LEFT JOIN v ON v.doc_id = d.doc_id
      ORDER BY d.doc_id"""))

  /** q331 — corpus snapshot diff (the incremental-crawl changelog):
    * between two dataset versions a 100 TB pipeline wants per-source
    * added/removed/changed/unchanged counts and byte churn BEFORE
    * deciding what to re-process — the diff runs on fingerprints
    * (md5), never on text comparison. Version 2 is derived
    * deterministically from version 1 (k%11 docs removed, k%7 texts
    * edited, k%13 docs cloned as new ids — the q321 injection
    * discipline), and the diff itself is ONE full-outer join on
    * doc_id over (fingerprint, length) pairs + a per-source rollup.
    * Scale shape: fingerprints are computed map-side; the join
    * shuffles two narrow columns, not text.
    */
  val q331 = Q("q331_snapshot_diff",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .withColumn("k", (col("doc_id") % 50).cast("long"))
      val v1 = d.select(col("doc_id"), col("source"),
        md5(col("text")).as("f"), length(col("text")).cast("long").as("len"))
      val v2base = d.filter(col("k") % 11 =!= 0)
        .select(col("doc_id"), col("source"),
          when(col("k") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("t"))
      val v2new = d.filter(col("k") % 13 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("source"),
          concat(col("text"), lit(" new")).as("t"))
      val v2 = v2base.union(v2new)
        .select(col("doc_id"), col("source").as("source2"),
          md5(col("t")).as("f2"), length(col("t")).cast("long").as("len2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(coalesce(col("source"), col("source2")).as("src"),
          when(col("f").isNull, 1L).otherwise(0L).as("added"),
          when(col("f2").isNull, 1L).otherwise(0L).as("removed"),
          when(col("f").isNotNull && col("f2").isNotNull && col("f") =!= col("f2"), 1L)
            .otherwise(0L).as("changed"),
          when(col("f") === col("f2"), 1L).otherwise(0L).as("unchanged"),
          when(col("f").isNull, col("len2")).otherwise(0L).as("ba"),
          when(col("f2").isNull, col("len")).otherwise(0L).as("br"))
        .groupBy(col("src").as("source"))
        .agg(sum("added").as("n_added"), sum("removed").as("n_removed"),
          sum("changed").as("n_changed"), sum("unchanged").as("n_unchanged"),
          sum("ba").as("bytes_added"), sum("br").as("bytes_removed"))
        .orderBy("source")
    },
    Some("""
      WITH d AS (SELECT doc_id, source, text, CAST(doc_id % 50 AS BIGINT) AS k
                 FROM documents),
      v1 AS (SELECT doc_id, source, md5(text) AS f,
                    CAST(length(text) AS BIGINT) AS len FROM d),
      v2 AS (SELECT doc_id, source AS source2,
                    md5(CASE WHEN k % 7 = 0 THEN text || ' v2' ELSE text END) AS f2,
                    CAST(length(CASE WHEN k % 7 = 0 THEN text || ' v2' ELSE text END)
                      AS BIGINT) AS len2
             FROM d WHERE k % 11 <> 0
             UNION ALL
             SELECT doc_id + 1000000000, source, md5(text || ' new'),
                    CAST(length(text || ' new') AS BIGINT)
             FROM d WHERE k % 13 = 0),
      j AS (SELECT coalesce(v1.source, v2.source2) AS source,
                   CASE WHEN v1.f IS NULL THEN 1 ELSE 0 END AS added,
                   CASE WHEN v2.f2 IS NULL THEN 1 ELSE 0 END AS removed,
                   CASE WHEN v1.f IS NOT NULL AND v2.f2 IS NOT NULL AND v1.f <> v2.f2
                        THEN 1 ELSE 0 END AS changed,
                   CASE WHEN v1.f = v2.f2 THEN 1 ELSE 0 END AS unchanged,
                   CASE WHEN v1.f IS NULL THEN v2.len2 ELSE 0 END AS ba,
                   CASE WHEN v2.f2 IS NULL THEN v1.len ELSE 0 END AS br
            FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      SELECT source,
             CAST(sum(added) AS BIGINT) AS n_added,
             CAST(sum(removed) AS BIGINT) AS n_removed,
             CAST(sum(changed) AS BIGINT) AS n_changed,
             CAST(sum(unchanged) AS BIGINT) AS n_unchanged,
             CAST(sum(ba) AS BIGINT) AS bytes_added,
             CAST(sum(br) AS BIGINT) AS bytes_removed
      FROM j GROUP BY source ORDER BY source"""))

  /** One source of truth for the q333 blocklist — both engine and
    * oracle are generated from this list, so they cannot drift. The
    * set deliberately contains a phrase-inside-phrase pair (`table` ⊂
    * `fast table` — exercises the automaton's output links on real
    * data) and adjacent-overlap pairs (`slow fast`/`fast table`).
    */
  private val blocklist = Seq("table", "fast table", "slow fast", "value part",
    "spark", "order data", "row scan", "the")

  /** q333 — blocklist scan via the compiled Aho–Corasick kernel,
    * exactly oracle-gated: the policy-filter pass of crawl curation
    * (ban-phrase hit counts decide document fate). P phrases scanned
    * with P regex passes read a 100 TB corpus P times; the
    * [[graft.expressions.MultiMatch]] automaton reads each byte ONCE
    * regardless of P — built at plan time from the foldable phrase
    * array, shipped as a codegen reference object, leftmost
    * non-overlapping per phrase (exactly a literal-split scan, which
    * is what the oracle replays per phrase). Map-only, zero shuffles,
    * inside whole-stage codegen.
    */
  val q333 = Q("q333_blocklist_scan",
    (s, dir) => {
      val arr = s"array(${blocklist.map(p => s"'$p'").mkString(",")})"
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), expr(s"graft_multi_match(text, $arr)").as("c"))
        .select(col("doc_id"),
          expr("CAST(aggregate(c, 0, (a, x) -> a + x) AS BIGINT)").as("n_total"),
          expr("CAST(size(filter(c, x -> x > 0)) AS BIGINT)").as("n_phrases_hit"),
          expr("""CAST(CASE WHEN aggregate(c, 0, (a, x) -> a + x) > 0
                       THEN array_position(c, array_max(c)) ELSE 0 END AS BIGINT)""")
            .as("top_idx"))
        .withColumn("blocked", (col("n_total") >= 20).cast("long"))
        .orderBy("doc_id")
    },
    Some {
      val cols = blocklist
        .map(p => s"length(string_split(text, '$p')) - 1").mkString(", ")
      s"""
      WITH c AS (SELECT doc_id, [$cols] AS c FROM documents)
      SELECT doc_id,
             CAST(list_sum(c) AS BIGINT) AS n_total,
             CAST(len(list_filter(c, x -> x > 0)) AS BIGINT) AS n_phrases_hit,
             CAST(CASE WHEN list_sum(c) > 0 THEN list_position(c, list_max(c))
                       ELSE 0 END AS BIGINT) AS top_idx,
             CAST(CASE WHEN list_sum(c) >= 20 THEN 1 ELSE 0 END AS BIGINT) AS blocked
      FROM c ORDER BY doc_id"""
    })

  /** q334 — JSONL field census, exactly oracle-gated: JSONL is the
    * LLM-data interchange format, and the FIRST question about an
    * unfamiliar dump is its effective schema — which fields exist,
    * how often, with what nesting. Deterministic JSON lines are
    * synthesized from the corpus (optional `meta.lang` object,
    * `tags` array, numeric `score` — presence closed functions of k),
    * and the census runs on real JSON-path evaluation
    * (`get_json_object` / `json_extract_string` — nested paths AND
    * array indexing exercised, not regex). Per-source presence
    * counts + one value-level rollup; one narrow shuffle.
    */
  val q334 = Q("q334_json_field_census",
    (s, dir) => {
      val k = (col("doc_id") % 50).cast("long")
      val j = concat(lit("{\"id\":"), col("doc_id").cast("string"),
        lit(",\"title\":\"t"), k.cast("string"), lit("\""),
        when(k % 2 === 0, concat(lit(",\"meta\":{\"lang\":\""), col("lang"), lit("\"}")))
          .otherwise(lit("")),
        when(k % 3 === 0, lit(",\"tags\":[\"a\",\"b\"]")).otherwise(lit("")),
        when(k % 5 === 0, concat(lit(",\"score\":"), k.cast("string")))
          .otherwise(lit("")),
        lit("}"))
      Tables.load(s, dir, "documents")
        .select(col("source"), j.as("j"))
        .select(col("source"),
          get_json_object(col("j"), "$.id").isNotNull.cast("long").as("has_id"),
          get_json_object(col("j"), "$.meta.lang").isNotNull.cast("long").as("has_lang"),
          get_json_object(col("j"), "$.tags[0]").isNotNull.cast("long").as("has_tags"),
          get_json_object(col("j"), "$.score").isNotNull.cast("long").as("has_score"),
          (get_json_object(col("j"), "$.meta.lang") === "en").cast("long").as("lang_en"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("has_id").as("n_id"),
          sum("has_lang").as("n_lang"),
          sum("has_tags").as("n_tags"),
          sum("has_score").as("n_score"),
          sum(coalesce(col("lang_en"), lit(0L))).as("n_lang_en"))
        .orderBy("source")
    },
    Some("""
      WITH d AS (SELECT doc_id, source, lang, CAST(doc_id % 50 AS BIGINT) AS k
                 FROM documents),
      t AS (SELECT source,
                   '{"id":' || doc_id || ',"title":"t' || k || '"' ||
                   (CASE WHEN k % 2 = 0 THEN ',"meta":{"lang":"' || lang || '"}' ELSE '' END) ||
                   (CASE WHEN k % 3 = 0 THEN ',"tags":["a","b"]' ELSE '' END) ||
                   (CASE WHEN k % 5 = 0 THEN ',"score":' || k ELSE '' END) ||
                   '}' AS j
            FROM d),
      c AS (SELECT source,
                   CASE WHEN json_extract_string(j, '$.id') IS NOT NULL THEN 1 ELSE 0 END AS has_id,
                   CASE WHEN json_extract_string(j, '$.meta.lang') IS NOT NULL THEN 1 ELSE 0 END AS has_lang,
                   CASE WHEN json_extract_string(j, '$.tags[0]') IS NOT NULL THEN 1 ELSE 0 END AS has_tags,
                   CASE WHEN json_extract_string(j, '$.score') IS NOT NULL THEN 1 ELSE 0 END AS has_score,
                   CASE WHEN json_extract_string(j, '$.meta.lang') = 'en' THEN 1 ELSE 0 END AS lang_en
            FROM t)
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(has_id) AS BIGINT) AS n_id,
             CAST(sum(has_lang) AS BIGINT) AS n_lang,
             CAST(sum(has_tags) AS BIGINT) AS n_tags,
             CAST(sum(has_score) AS BIGINT) AS n_score,
             CAST(sum(lang_en) AS BIGINT) AS n_lang_en
      FROM c GROUP BY source ORDER BY source"""))

  /** q338 — curation VERDICT pipeline, exactly oracle-gated: the
    * composition flagship for the crawl-policy family — one pass
    * assigns every document its fate with a fixed reason precedence
    * (the order IS the contract: `pii_heavy` → `blocked` →
    * `too_short` → `duplicate` → `keep`), composing q321's PII
    * counts+redaction, q333's Aho–Corasick blocklist kernel, token
    * counting, and exact keep-first dedup ON THE REDACTED text (dedup
    * before redaction double-counts docs differing only in their
    * PII — the subtle ordering bug this query pins). Scale shape:
    * everything is map-side except ONE fingerprint min-rollup join
    * for the dup check. The q321 injections ride along so the PII
    * gate actually fires.
    */
  val q338 = Q("q338_curation_verdict",
    (s, dir) => {
      import graft.operators.PiiOps
      val k = (col("doc_id") % 50).cast("long")
      // q321's injection, verbatim — one source of PII-bearing text;
      // k=47 docs collapse to one boilerplate page so the duplicate
      // branch fires (47 is coprime to the PII moduli, so they stay
      // PII-clean and long enough to pass the length gate)
      val base = when(k === 47,
        lit("lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam quis nostrud exercitation ullamco laboris nisi ut aliquip")).otherwise(col("text"))
      val injected = concat(base,
        when(k % 3 === 0,
          concat(lit(" Contact user"), k.cast("string"), lit("@example"),
            (k % 5).cast("string"), lit(".com now"))).otherwise(lit("")),
        when(k % 4 === 0,
          concat(lit(" Server 10."), (k % 256).cast("string"), lit(".0."),
            (k % 100).cast("string"), lit(" up"))).otherwise(lit("")),
        when(k % 5 === 0,
          concat(lit(" Call +1-555-"), (lit(100) + k % 900).cast("string"),
            lit("-"), (lit(1000) + (k * 7) % 9000).cast("string")))
          .otherwise(lit("")))
      val arr = s"array(${blocklist.map(p => s"'$p'").mkString(",")})"
      val scored = Tables.load(s, dir, "documents")
        .select(col("doc_id"), injected.as("t"))
        .select(col("doc_id"),
          (PiiOps.countMatches(col("t"), PiiOps.EmailRe) +
            PiiOps.countMatches(col("t"), PiiOps.Ipv4Re) +
            PiiOps.countMatches(col("t"), PiiOps.PhoneRe)).as("n_pii"),
          PiiOps.redact(col("t")).as("red"))
        .withColumn("n_block",
          expr(s"CAST(aggregate(graft_multi_match(red, $arr), 0, (a, x) -> a + x) AS BIGINT)"))
        .withColumn("n_tokens",
          size(split(trim(col("red")), "\\s+")).cast("long"))
        .withColumn("fp", md5(col("red")))
      val first = scored.groupBy("fp").agg(min("doc_id").as("keeper"))
      scored.join(first, Seq("fp"))
        .select(col("doc_id"), col("n_pii"), col("n_block"), col("n_tokens"),
          (col("doc_id") =!= col("keeper")).cast("long").as("is_dup"))
        .withColumn("verdict",
          when(col("n_pii") > 2, "pii_heavy")
            .when(col("n_block") >= 15, "blocked")
            .when(col("n_tokens") < 30, "too_short")
            .when(col("is_dup") === 1, "duplicate")
            .otherwise("keep"))
        .orderBy("doc_id")
    },
    Some {
      import graft.operators.PiiOps
      val blockCols = blocklist
        .map(p => s"length(string_split(red, '$p')) - 1").mkString(" + ")
      s"""
      WITH d AS (SELECT doc_id, text, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      t AS (SELECT doc_id,
              (CASE WHEN k = 47 THEN 'lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam quis nostrud exercitation ullamco laboris nisi ut aliquip' ELSE text END) ||
              (CASE WHEN k % 3 = 0 THEN ' Contact user' || k || '@example' ||
                      (k % 5) || '.com now' ELSE '' END) ||
              (CASE WHEN k % 4 = 0 THEN ' Server 10.' || (k % 256) || '.0.' ||
                      (k % 100) || ' up' ELSE '' END) ||
              (CASE WHEN k % 5 = 0 THEN ' Call +1-555-' || (100 + k % 900) ||
                      '-' || (1000 + (k * 7) % 9000) ELSE '' END) AS t
            FROM d),
      sc AS (SELECT doc_id,
               ${PiiOps.duckCountSql("t", PiiOps.EmailRe)} +
               ${PiiOps.duckCountSql("t", PiiOps.Ipv4Re)} +
               ${PiiOps.duckCountSql("t", PiiOps.PhoneRe)} AS n_pii,
               ${PiiOps.duckRedactSql("t")} AS red
             FROM t),
      sb AS (SELECT doc_id, n_pii,
               CAST($blockCols AS BIGINT) AS n_block,
               CAST(length(string_split_regex(trim(red), '\\s+')) AS BIGINT) AS n_tokens,
               md5(red) AS fp
             FROM sc),
      f AS (SELECT fp, min(doc_id) AS keeper FROM sb GROUP BY fp)
      SELECT sb.doc_id, sb.n_pii, sb.n_block, sb.n_tokens,
             CAST(CASE WHEN sb.doc_id <> f.keeper THEN 1 ELSE 0 END AS BIGINT) AS is_dup,
             CASE WHEN sb.n_pii > 2 THEN 'pii_heavy'
                  WHEN sb.n_block >= 15 THEN 'blocked'
                  WHEN sb.n_tokens < 30 THEN 'too_short'
                  WHEN sb.doc_id <> f.keeper THEN 'duplicate'
                  ELSE 'keep' END AS verdict
      FROM sb JOIN f ON sb.fp = f.fp
      ORDER BY sb.doc_id"""
    })

  // --------------------------------------------------------------- q343

  /** q343 — chat-template audit: the SFT-data QA pass. Instruction
    * corpora ship as JSON chat transcripts, and a trainer's collator
    * assumes a contract this query verifies per document: at most one
    * leading `system` turn, then STRICT user/assistant alternation
    * ending on `assistant`, no empty contents — plus the loss-masking
    * numbers the collator derives (assistant tokens train, user/system
    * tokens mask → `trained_ratio_micro`). Transcripts are synthesized
    * as REAL JSON per doc (violations planted: a doubled user turn at
    * k%7=3, an empty final assistant at k%11=5) and parsed back with
    * `from_json` into `array<struct<role,content>>`; the alternation
    * check is a pure-expression `aggregate` fold over the turn array
    * (expected-role state flips user↔assistant, q341's fold
    * discipline), per-role token mass an expression fold too — all
    * codegen-resident, map-only, zero shuffles. The oracle recomputes
    * every output from the synth plan's closed-form arithmetic, so the
    * gate proves the synthesize→parse→audit round trip, not
    * self-consistency.
    */
  val q343 = Q("q343_chat_template_audit",
    (s, dir) => {
      import s.implicits._
      val synth = Tables.docIdsFanned(s, dir)
        .mapPartitions { it =>
          it.map { id =>
            val k = (id % 12).toInt
            val nPairs = 1 + k % 3
            val sb = new StringBuilder("[")
            def turn(role: String, words: Seq[String]): Unit = {
              if (sb.length > 1) sb.append(',')
              sb.append("{\"role\":\"").append(role)
                .append("\",\"content\":\"").append(words.mkString(" ")).append("\"}")
            }
            if (k % 3 == 0) turn("system", Seq.fill(4)("sys"))
            for (i <- 1 to nPairs) {
              turn("user", Seq.fill(2 + (k + i) % 4)("ask"))
              if (k % 7 == 3 && i == 1) turn("user", Seq.fill(2)("oops"))
              val aw = if (k % 11 == 5 && i == nPairs) 0 else 3 + (k + 2 * i) % 5
              turn("assistant", Seq.fill(aw)("ok"))
            }
            (id, sb.append(']').toString)
          }
        }
        .toDF("doc_id", "payload")
      def roleTokens(role: String) = expr(
        s"""CAST(aggregate(turns, CAST(0 AS BIGINT), (a, t) -> a +
           |  CASE WHEN t.role = '$role' AND t.content <> ''
           |       THEN size(split(trim(t.content), '\\\\s+')) ELSE 0 END)
           |AS BIGINT)""".stripMargin)
      synth
        .withColumn("turns",
          from_json(col("payload"), "array<struct<role:string,content:string>>",
            Map.empty[String, String]))
        .select(col("doc_id"),
          size(col("turns")).cast("long").as("n_turns"),
          (element_at(col("turns"), 1).getField("role") === "system")
            .cast("long").as("has_system"),
          expr("""CAST(aggregate(
              slice(turns, CASE WHEN element_at(turns, 1).role = 'system'
                           THEN 2 ELSE 1 END, size(turns)),
              named_struct('expect', 'user', 'ok', true),
              (s, t) -> named_struct(
                'expect', CASE WHEN s.expect = 'user' THEN 'assistant' ELSE 'user' END,
                'ok', s.ok AND t.role = s.expect),
              s -> s.ok AND s.expect = 'user') AS BIGINT)""").as("alternation_ok"),
          size(expr("filter(turns, t -> t.content = '')")).cast("long").as("n_empty"),
          roleTokens("user").as("user_tokens"),
          roleTokens("assistant").as("assistant_tokens"),
          roleTokens("system").as("system_tokens"))
        .withColumn("trained_ratio_micro", expr(
          """CAST((CAST(assistant_tokens AS DECIMAL(38,0)) * 1000000)
            |div CAST(user_tokens + assistant_tokens + system_tokens AS DECIMAL(38,0))
            |AS BIGINT)""".stripMargin))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 12 AS BIGINT) AS k FROM documents),
      i AS (SELECT d.doc_id, d.k, r.range AS i
            FROM d, range(1, 4) r WHERE r.range <= 1 + d.k % 3),
      s AS (SELECT doc_id, k,
                   CAST(sum(2 + (k + i) % 4) AS BIGINT) AS utok,
                   CAST(sum(CASE WHEN i = 1 + k % 3 AND k % 11 = 5 THEN 0
                                 ELSE 3 + (k + 2 * i) % 5 END) AS BIGINT) AS atok
            FROM i GROUP BY doc_id, k),
      f AS (SELECT doc_id, k,
                   utok + CASE WHEN k % 7 = 3 THEN 2 ELSE 0 END AS user_tokens,
                   atok AS assistant_tokens,
                   CASE WHEN k % 3 = 0 THEN 4 ELSE 0 END AS system_tokens
            FROM s)
      SELECT doc_id,
             CAST(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END
                  + 2 * (1 + k % 3)
                  + CASE WHEN k % 7 = 3 THEN 1 ELSE 0 END AS BIGINT) AS n_turns,
             CAST(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS has_system,
             CAST(CASE WHEN k % 7 = 3 THEN 0 ELSE 1 END AS BIGINT) AS alternation_ok,
             CAST(CASE WHEN k % 11 = 5 THEN 1 ELSE 0 END AS BIGINT) AS n_empty,
             CAST(user_tokens AS BIGINT) AS user_tokens,
             CAST(assistant_tokens AS BIGINT) AS assistant_tokens,
             CAST(system_tokens AS BIGINT) AS system_tokens,
             CAST((CAST(assistant_tokens AS HUGEINT) * 1000000)
                  // (user_tokens + assistant_tokens + system_tokens)
                  AS BIGINT) AS trained_ratio_micro
      FROM f ORDER BY doc_id"""))

  // --------------------------------------------------------------- q345

  /** q345 — prefix-cache ROI census: serving stacks (vLLM-style
    * automatic prefix caching) reuse the KV cache across requests
    * sharing a token PREFIX — shared system prompts, templated
    * few-shot headers. This audit measures, per source, how much
    * prefix mass a corpus would actually share: docs grouped by their
    * first-8-token prefix (a doc shorter than 8 tokens IS its own
    * prefix — group identity is the literal token sequence, so a
    * 5-token doc never collides with an 8-token prefix), then
    * `cacheable_tokens = Σ_groups (size−1)·prefix_len` — every group
    * member after the first hits the cache. `cacheable_ratio_micro`
    * (cacheable / total prefix tokens, exact integer division) is the
    * expected KV-cache hit mass the serving fleet provisions against.
    * Scale shape: prefix extraction is map-side (`slice` of the token
    * split — no UDF), ONE groupBy on (source, prefix-hash) with
    * map-side combine, one bounded per-source rollup.
    */
  val q345 = Q("q345_prefix_cache",
    (s, dir) => {
      val toks = graft.operators.TextAnalysis.tokens(col("text"))
      Tables.load(s, dir, "documents")
        .select(col("source"),
          md5(concat_ws(" ", slice(toks, 1, 8))).as("pfx"),
          least(size(toks).cast("long"), lit(8L)).as("plen"))
        .groupBy("source", "pfx", "plen")
        .agg(count(lit(1)).as("gsize"))
        .groupBy("source")
        .agg(sum("gsize").as("n_docs"),
          count(lit(1)).as("n_groups"),
          sum(col("gsize") - 1L).as("shared_docs"),
          sum((col("gsize") - 1L) * col("plen")).as("cacheable_tokens"),
          sum(col("gsize") * col("plen")).as("prefix_tokens"))
        .withColumn("cacheable_ratio_micro", expr(
          "CAST((CAST(cacheable_tokens AS DECIMAL(38,0)) * 1000000) div prefix_tokens AS BIGINT)"))
        .orderBy("source")
    },
    Some(s"""
      WITH p AS (SELECT source,
                        md5(array_to_string(($duckTokens)[1:8], ' ')) AS pfx,
                        least(CAST(len($duckTokens) AS BIGINT), 8) AS plen
                 FROM documents),
      g AS (SELECT source, pfx, plen, CAST(count(*) AS BIGINT) AS gsize
            FROM p GROUP BY source, pfx, plen)
      SELECT source, CAST(sum(gsize) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(gsize - 1) AS BIGINT) AS shared_docs,
             CAST(sum((gsize - 1) * plen) AS BIGINT) AS cacheable_tokens,
             CAST(sum(gsize * plen) AS BIGINT) AS prefix_tokens,
             CAST((CAST(sum((gsize - 1) * plen) AS HUGEINT) * 1000000)
                  // sum(gsize * plen) AS BIGINT) AS cacheable_ratio_micro
      FROM g GROUP BY source ORDER BY source"""))

  // --------------------------------------------------------------- q349

  /** q349 — training-order shuffle-quality audit: a corpus written in
    * crawl order feeds SGD long same-source runs, and the fix (a
    * global shuffle) is expensive enough that teams first MEASURE how
    * bad the ordering is. Per source: of the adjacent pairs this
    * source leads in shipped `doc_id` order, how many continue into
    * the same source (`same_pairs`), vs the exact expectation under a
    * uniform random permutation (`lead_pairs · (n_s−1)/(N−1)`, in
    * micro units by integer division). `obs_over_exp_micro` ≫ 1e6
    * means clumped (shuffle before training); ≈ 1e6 means the order
    * is already permutation-like. All arithmetic is exact integer —
    * no floats. Scale shape: adjacency is ONE self-equi-join on
    * `doc_id+1` (dense ids — the shard manifest's row_number at
    * 100 TB), rolled up map-side-combined to the bounded |sources|
    * relation; the corpus size enters as one driver scalar.
    */
  val q349 = Q("q349_shuffle_quality",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("source"))
      val n = docs.count() // ONE bounded scalar (the corpus row count)
      val pairs = docs.as("a")
        .join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.source").as("src"),
          (col("a.source") === col("b.source")).cast("long").as("same"))
        .groupBy("src")
        .agg(count(lit(1)).as("lead_pairs"), sum("same").as("same_pairs"))
      docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(pairs, col("source") === col("src")).drop("src")
        .withColumn("expected_same_micro", expr(
          s"CAST((CAST(lead_pairs AS DECIMAL(38,0)) * (n_docs - 1) * 1000000) div ${n - 1}L AS BIGINT)"))
        .withColumn("obs_over_exp_micro", expr(
          s"""CASE WHEN n_docs > 1 THEN
             |  CAST((CAST(same_pairs AS DECIMAL(38,0)) * 1000000 * ${n - 1}L)
             |       div (CAST(lead_pairs AS DECIMAL(38,0)) * (n_docs - 1)) AS BIGINT)
             |ELSE CAST(NULL AS BIGINT) END""".stripMargin))
        .select("source", "n_docs", "lead_pairs", "same_pairs",
          "expected_same_micro", "obs_over_exp_micro")
        .orderBy("source")
    },
    Some("""
      WITH d AS (SELECT doc_id, source FROM documents),
      p AS (SELECT a.source AS src,
                   CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS same
            FROM d a JOIN d b ON b.doc_id = a.doc_id + 1),
      c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY source),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS N FROM d),
      g AS (SELECT src, CAST(count(*) AS BIGINT) AS lead_pairs,
                   CAST(sum(same) AS BIGINT) AS same_pairs
            FROM p GROUP BY src)
      SELECT c.source, c.n_docs, g.lead_pairs, g.same_pairs,
             CAST((CAST(g.lead_pairs AS HUGEINT) * (c.n_docs - 1) * 1000000)
                  // (nn.N - 1) AS BIGINT) AS expected_same_micro,
             CASE WHEN c.n_docs > 1 THEN
               CAST((CAST(g.same_pairs AS HUGEINT) * 1000000 * (nn.N - 1))
                    // (CAST(g.lead_pairs AS HUGEINT) * (c.n_docs - 1)) AS BIGINT)
             ELSE NULL END AS obs_over_exp_micro
      FROM c JOIN g ON g.src = c.source CROSS JOIN nn
      ORDER BY c.source"""))

  // --------------------------------------------------------------- q350

  /** q350 — encoding-damage (mojibake) census: web-crawl text arrives
    * with three classic wounds a curation pass must triage before
    * tokenization bakes them in — UTF-8 bytes decoded as Latin-1
    * (`é` → `Ã©`, the ftfy case), U+FFFD replacement characters (a
    * lossy transcode already happened — unrecoverable), and stray C1
    * controls (U+0085 NEL from Windows-1252 confusion). Damage is
    * injected deterministically on the clean table (k%7 → Latin-1
    * mojibake on every 'e', k%11 → appended U+FFFD, k%13 → prepended
    * NEL; mutually exclusive branches, q335's discipline), then the
    * audit counts per source both the affected DOCS per category and
    * the damaged CHAR mass, plus `clean_ratio_micro` by exact integer
    * division. Detection is pure `length(x) − length(replace(x, …))`
    * arithmetic — no regex engine semantics to disagree across
    * engines. Scale shape: map-only per-doc scans + ONE
    * map-side-combined groupBy(source).
    */
  val q350 = Q("q350_mojibake_census",
    (s, dir) => {
      val moji = "Ã©" // 'é' as UTF-8 bytes read back as Latin-1
      val repl = "�"
      val nel = ""
      Tables.load(s, dir, "documents")
        .withColumn("k", (col("doc_id") % 60).cast("long"))
        .withColumn("t",
          when(col("k") % 7 === 0, expr(s"replace(text, 'e', '$moji')"))
            .when(col("k") % 11 === 0, concat(col("text"), lit(repl)))
            .when(col("k") % 13 === 0, concat(lit(nel), col("text")))
            .otherwise(col("text")))
        .select(col("source"),
          (length(col("t")) - length(translate(col("t"), "Ã", "")))
            .cast("long").as("moji_chars"),
          (length(col("t")) - length(translate(col("t"), repl, "")))
            .cast("long").as("repl_chars"),
          (length(col("t")) - length(translate(col("t"), nel, "")))
            .cast("long").as("c1_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum((col("moji_chars") > 0).cast("long")).as("n_latin1_moji"),
          sum((col("repl_chars") > 0).cast("long")).as("n_replacement"),
          sum((col("c1_chars") > 0).cast("long")).as("n_c1_control"),
          sum((col("moji_chars") > 0 || col("repl_chars") > 0 ||
            col("c1_chars") > 0).cast("long")).as("damaged_docs"),
          sum("moji_chars").as("moji_chars"),
          sum("repl_chars").as("repl_chars"),
          sum("c1_chars").as("c1_chars"))
        .withColumn("clean_ratio_micro", expr(
          "CAST((CAST(n_docs - damaged_docs AS DECIMAL(38,0)) * 1000000) div n_docs AS BIGINT)"))
        .orderBy("source")
    },
    Some("""
      WITH d AS (SELECT source, CAST(doc_id % 60 AS BIGINT) AS k,
                        CASE WHEN doc_id % 60 % 7 = 0
                               THEN replace(text, 'e', chr(195) || chr(169))
                             WHEN doc_id % 60 % 11 = 0 THEN text || chr(65533)
                             WHEN doc_id % 60 % 13 = 0 THEN chr(133) || text
                             ELSE text END AS t
                 FROM documents),
      m AS (SELECT source,
                   CAST(len(t) - len(replace(t, chr(195), '')) AS BIGINT) AS moji_chars,
                   CAST(len(t) - len(replace(t, chr(65533), '')) AS BIGINT) AS repl_chars,
                   CAST(len(t) - len(replace(t, chr(133), '')) AS BIGINT) AS c1_chars
            FROM d)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN moji_chars > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_latin1_moji,
             CAST(sum(CASE WHEN repl_chars > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_replacement,
             CAST(sum(CASE WHEN c1_chars > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c1_control,
             CAST(sum(CASE WHEN moji_chars > 0 OR repl_chars > 0 OR c1_chars > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS damaged_docs,
             CAST(sum(moji_chars) AS BIGINT) AS moji_chars,
             CAST(sum(repl_chars) AS BIGINT) AS repl_chars,
             CAST(sum(c1_chars) AS BIGINT) AS c1_chars,
             CAST((CAST(count(*) - sum(CASE WHEN moji_chars > 0 OR repl_chars > 0
                            OR c1_chars > 0 THEN 1 ELSE 0 END) AS HUGEINT) * 1000000)
                  // count(*) AS BIGINT) AS clean_ratio_micro
      FROM m GROUP BY source ORDER BY source"""))

  // --------------------------------------------------------------- q354

  /** q354 — per-source DATASET CARD: the one-row-per-source shipping
    * artifact a data team publishes with a corpus (the HF
    * dataset-card statistics block), composing the audit battery
    * into a single relation — size (docs, tokens), exact-dup burden
    * (q342's fingerprint keep-first gate), short-doc share,
    * truncation loss at ctx=2048 (q347's sweep pinned to the shipping
    * budget), prefix-cache share (q345's ratio), and the 3-bucket
    * length-quality mix (q352's rater A). Every ratio is exact
    * integer micro units. Scale shape: one fingerprint min-rollup
    * join (the only row-scale shuffle beyond the rollups), one
    * groupBy(source) for the card body, one (source, pfx) sub-rollup
    * re-attached by a 20-row broadcast join — no windows, no driver
    * loops.
    */
  val q354 = Q("q354_dataset_card",
    (s, dir) => {
      val toks = graft.operators.TextAnalysis.tokens(col("text"))
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("nt"),
          md5(col("text")).as("fp"),
          md5(concat_ws(" ", slice(toks, 1, 8))).as("pfx"),
          least(size(toks).cast("long"), lit(8L)).as("plen"))
      val keeper = base.groupBy("fp").agg(min("doc_id").as("keeper"))
      val card = base.join(keeper, Seq("fp"))
        .select(col("source"), col("nt"),
          (col("doc_id") =!= col("keeper")).cast("long").as("dup"),
          (col("nt") < 30).cast("long").as("short"),
          greatest(col("nt") - 2048L, lit(0L)).as("lost2048"),
          when(col("n_chars") < 200, 1L).otherwise(0L).as("qlo"),
          when(col("n_chars") >= 200 && col("n_chars") < 500, 1L).otherwise(0L).as("qmid"),
          when(col("n_chars") >= 500, 1L).otherwise(0L).as("qhi"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
          sum("dup").as("dup_docs"), sum("short").as("short_docs"),
          sum("lost2048").as("trunc2048_lost"),
          sum("qlo").as("q_lo"), sum("qmid").as("q_mid"), sum("qhi").as("q_hi"))
      val pfx = base.groupBy("source", "pfx", "plen")
        .agg(count(lit(1)).as("gsize"))
        .groupBy("source")
        .agg(sum((col("gsize") - 1L) * col("plen")).as("cacheable_tokens"),
          sum(col("gsize") * col("plen")).as("prefix_tokens"))
      card.join(broadcast(pfx), Seq("source"))
        .withColumn("dup_share_micro", expr(
          "CAST((CAST(dup_docs AS DECIMAL(38,0)) * 1000000) div n_docs AS BIGINT)"))
        .withColumn("short_share_micro", expr(
          "CAST((CAST(short_docs AS DECIMAL(38,0)) * 1000000) div n_docs AS BIGINT)"))
        .withColumn("trunc2048_loss_micro", expr(
          "CAST((CAST(trunc2048_lost AS DECIMAL(38,0)) * 1000000) div n_tokens AS BIGINT)"))
        .withColumn("prefix_share_micro", expr(
          "CAST((CAST(cacheable_tokens AS DECIMAL(38,0)) * 1000000) div prefix_tokens AS BIGINT)"))
        .select("source", "n_docs", "n_tokens", "dup_docs", "dup_share_micro",
          "short_docs", "short_share_micro", "trunc2048_lost",
          "trunc2048_loss_micro", "prefix_share_micro", "q_lo", "q_mid", "q_hi")
        .orderBy("source")
    },
    Some(s"""
      WITH base AS (SELECT doc_id, source, n_chars,
                           CAST(len($duckTokens) AS BIGINT) AS nt,
                           md5(text) AS fp,
                           md5(array_to_string(($duckTokens)[1:8], ' ')) AS pfx,
                           least(CAST(len($duckTokens) AS BIGINT), 8) AS plen
                    FROM documents),
      k AS (SELECT fp, min(doc_id) AS keeper FROM base GROUP BY fp),
      f AS (SELECT b.source, b.nt,
                   CASE WHEN b.doc_id <> k.keeper THEN 1 ELSE 0 END AS dup,
                   CASE WHEN b.nt < 30 THEN 1 ELSE 0 END AS short,
                   greatest(b.nt - 2048, 0) AS lost2048,
                   CASE WHEN b.n_chars < 200 THEN 1 ELSE 0 END AS qlo,
                   CASE WHEN b.n_chars >= 200 AND b.n_chars < 500 THEN 1 ELSE 0 END AS qmid,
                   CASE WHEN b.n_chars >= 500 THEN 1 ELSE 0 END AS qhi
            FROM base b JOIN k ON b.fp = k.fp),
      card AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(nt) AS BIGINT) AS n_tokens,
                      CAST(sum(dup) AS BIGINT) AS dup_docs,
                      CAST(sum(short) AS BIGINT) AS short_docs,
                      CAST(sum(lost2048) AS BIGINT) AS trunc2048_lost,
                      CAST(sum(qlo) AS BIGINT) AS q_lo,
                      CAST(sum(qmid) AS BIGINT) AS q_mid,
                      CAST(sum(qhi) AS BIGINT) AS q_hi
               FROM f GROUP BY source),
      g AS (SELECT source, pfx, plen, CAST(count(*) AS BIGINT) AS gsize
            FROM base GROUP BY source, pfx, plen),
      pf AS (SELECT source,
                    CAST(sum((gsize - 1) * plen) AS BIGINT) AS cacheable_tokens,
                    CAST(sum(gsize * plen) AS BIGINT) AS prefix_tokens
             FROM g GROUP BY source)
      SELECT c.source, c.n_docs, c.n_tokens, c.dup_docs,
             CAST((CAST(c.dup_docs AS HUGEINT) * 1000000) // c.n_docs AS BIGINT)
               AS dup_share_micro,
             c.short_docs,
             CAST((CAST(c.short_docs AS HUGEINT) * 1000000) // c.n_docs AS BIGINT)
               AS short_share_micro,
             c.trunc2048_lost,
             CAST((CAST(c.trunc2048_lost AS HUGEINT) * 1000000) // c.n_tokens AS BIGINT)
               AS trunc2048_loss_micro,
             CAST((CAST(pf.cacheable_tokens AS HUGEINT) * 1000000) // pf.prefix_tokens
               AS BIGINT) AS prefix_share_micro,
             c.q_lo, c.q_mid, c.q_hi
      FROM card c JOIN pf ON pf.source = c.source
      ORDER BY c.source"""))

  // --------------------------------------------------------------- q357

  /** q357 — deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis 2006): the draw a data team uses to pull a
    * token-mass-proportional inspection sample per source — each doc
    * gets key `ln(u)/w` (u a reproducible md5-derived uniform, w its
    * token count) and the k largest keys per source ARE a weighted
    * sample without replacement. At scale this is the whole point of
    * the ES construction: no sequential draw state, just a per-group
    * top-k — executed here by the engine's custom TopKPerKey physical
    * operator (bounded partial heaps, a ≤ k·|keys| candidate shuffle;
    * a Window route would shuffle the full corpus). The uniform, the
    * log-key arithmetic, and the (key desc, doc_id) tie order are
    * textually identical on both engines, so selection is exact.
    */
  val q357 = Q("q357_weighted_sample",
    (s, dir) => {
      val df = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("tokens"),
          graft.functions.Hashing.hash64(col("doc_id").cast("string")).as("h"))
        .withColumn("es_key", expr(
          "ln((CAST(h AS DOUBLE) + 0.5) / 1152921504606846976.0) / CAST(tokens AS DOUBLE)"))
        .select("source", "doc_id", "tokens", "es_key")
      graft.operators.Relational.topKPerKey(df, Seq("source"),
          Seq(col("es_key").desc, col("doc_id").asc), 5)
        .select(col("source"), col("doc_id"), col("tokens"),
          round(col("es_key"), 6).as("es_key_r6"))
        .orderBy("source", "doc_id")
    },
    Some(s"""
      WITH d AS (SELECT doc_id, source,
                        CAST(len($duckTokens) AS BIGINT) AS tokens,
                        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) AS h
                 FROM documents),
      k AS (SELECT *, ln((CAST(h AS DOUBLE) + 0.5) / 1152921504606846976.0)
                      / CAST(tokens AS DOUBLE) AS es_key
            FROM d),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY source ORDER BY es_key DESC, doc_id ASC) AS rn
            FROM k)
      SELECT source, doc_id, tokens, round(es_key, 6) AS es_key_r6
      FROM r WHERE rn <= 5 ORDER BY source, doc_id"""))

  // --------------------------------------------------------------- q359

  /** q359 — exact-duplicate cluster-size HISTOGRAM: q354's card says
    * how many duplicate docs a source carries; this says how they
    * cluster — the distribution that decides dedup strategy (many
    * pairs → keep-first suffices; a few huge clusters → investigate
    * the template/boilerplate source). Per cluster size s: clusters,
    * docs, redundant docs (s−1 per cluster) and the redundant TOKEN
    * mass reclaimable at that size — the dedup ROI curve, exact
    * integers throughout. The synthetic corpus is dup-free, so
    * duplicates are injected deterministically (q335's discipline):
    * every 7th doc gains one clone, every 21st a second — the
    * histogram carries real mass at sizes 1, 2 and 3. Scale shape:
    * one fingerprint groupBy (cluster collapse — shuffle ∝ corpus),
    * one groupBy(size) to the bounded histogram; no joins, no windows.
    */
  val q359 = Q("q359_dup_histogram",
    (s, dir) => {
      val k = (col("doc_id") % 50).cast("long")
      val base = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      base
        .unionAll(base.filter(k % 7 === 0)
          .select(col("doc_id") + 1000000000L, col("text")))
        .unionAll(base.filter(k % 21 === 0)
          .select(col("doc_id") + 2000000000L, col("text")))
        .select(md5(col("text")).as("fp"),
          graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("nt"))
        .groupBy("fp")
        .agg(count(lit(1)).as("csize"), sum("nt").as("ctok"), min("nt").as("keep_tok"))
        .groupBy("csize")
        .agg(count(lit(1)).as("n_clusters"),
          sum("ctok").as("n_tokens"),
          sum(expr("(csize - 1)")).as("redundant_docs"),
          sum(expr("ctok - keep_tok")).as("redundant_tokens"))
        .orderBy("csize")
    },
    Some(s"""
      WITH a AS (SELECT text FROM documents
                 UNION ALL
                 SELECT text FROM documents WHERE doc_id % 50 % 7 = 0
                 UNION ALL
                 SELECT text FROM documents WHERE doc_id % 50 % 21 = 0),
      c AS (SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS csize,
                   CAST(sum(len($duckTokens)) AS BIGINT) AS ctok,
                   CAST(min(len($duckTokens)) AS BIGINT) AS keep_tok
            FROM a GROUP BY md5(text))
      SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters,
             CAST(sum(ctok) AS BIGINT) AS n_tokens,
             CAST(sum(csize - 1) AS BIGINT) AS redundant_docs,
             CAST(sum(ctok - keep_tok) AS BIGINT) AS redundant_tokens
      FROM c GROUP BY csize ORDER BY csize"""))

  // --------------------------------------------------------------- q360

  /** q360 — order-0 character-entropy census per source: the
    * compressibility triage a crawl pipeline runs to catch binary
    * junk, base64 blobs, and boilerplate masquerading as text —
    * natural prose sits near ~4.1 bits/char, already-compressed or
    * encoded payloads push toward log2(alphabet), templates fall
    * well below. H = Σ c·ln(N/c) / (N·ln 2); each (source, char)
    * cell's `c·ln(N/c)` term is nano-quantized to a long BEFORE the
    * per-source sum (≤ |alphabet| cells per source — the group sum is
    * exact in any reduction order), and the final bits-per-char
    * division is one double formula from exact longs. Scale shape:
    * one char explode (rows ∝ corpus bytes, map-side) into a
    * map-side-combined groupBy(source, char), a bounded totals
    * rollup broadcast back, one bounded final rollup.
    */
  val q360 = Q("q360_char_entropy",
    (s, dir) => {
      val counts = Tables.load(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), "")).as("ch"))
        .filter(col("ch") =!= "")
        .groupBy("source", "ch").agg(count(lit(1)).as("c"))
      val totals = counts.groupBy("source")
        .agg(sum("c").as("n"), count(lit(1)).as("d"))
      counts.join(broadcast(totals), Seq("source"))
        .select(col("source"), col("n"), col("d"),
          expr("CAST(round(1e9 * c * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))) AS BIGINT)").as("t"))
        .groupBy("source")
        .agg(first("n").as("n_chars"), first("d").as("distinct_chars"),
          sum("t").as("tq"))
        .select(col("source"), col("n_chars"), col("distinct_chars"),
          expr("CAST(round(CAST(tq AS DOUBLE) / CAST(n_chars AS DOUBLE) / ln(2) / 1000.0) AS BIGINT)")
            .as("entropy_micro_bits"),
          expr("""CASE WHEN distinct_chars > 1
                 |THEN CAST(round(1000000 * ln(CAST(distinct_chars AS DOUBLE)) / ln(2)) AS BIGINT)
                 |ELSE CAST(0 AS BIGINT) END""".stripMargin).as("max_entropy_micro_bits"))
        .orderBy("source")
    },
    Some("""
      WITH ch AS (SELECT source,
                         unnest(list_filter(string_split(text, ''), x -> x <> '')) AS ch
                  FROM documents),
      c AS (SELECT source, ch, CAST(count(*) AS BIGINT) AS c
            FROM ch GROUP BY source, ch),
      tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
                     CAST(count(*) AS BIGINT) AS d
              FROM c GROUP BY source),
      s AS (SELECT c.source,
                   CAST(sum(CAST(round(1e9 * c.c * ln(CAST(t.n AS DOUBLE)
                     / CAST(c.c AS DOUBLE))) AS BIGINT)) AS BIGINT) AS tq
            FROM c JOIN tot t ON t.source = c.source GROUP BY c.source)
      SELECT t.source, t.n AS n_chars, t.d AS distinct_chars,
             CAST(round(CAST(s.tq AS DOUBLE) / CAST(t.n AS DOUBLE)
                  / ln(2) / 1000.0) AS BIGINT) AS entropy_micro_bits,
             CASE WHEN t.d > 1
                  THEN CAST(round(1000000 * ln(CAST(t.d AS DOUBLE)) / ln(2)) AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS max_entropy_micro_bits
      FROM tot t JOIN s ON s.source = t.source ORDER BY t.source"""))

  // --------------------------------------------------------------- q371

  /** q371 — corpus-wide boilerplate-line removal (the C4/RefinedWeb
    * line dedup): lines appearing in ≥ minDocs DISTINCT documents are
    * nav bars / cookie banners / footers and are stripped from every
    * document, order-preserving. Per-doc texts are reshaped into
    * lines (8-token chunks) with a planted nav line in every doc and
    * a footer in every other doc; the operator must remove exactly
    * the planted lines and reconstruct the content byte-for-byte
    * (the oracle replays the whole pass, so even a freak content-line
    * collision is replayed identically). Scale shape (see
    * [[graft.operators.TextAnalysis.stripBoilerplate]]): the
    * line-frequency shuffle carries each DISTINCT line once — the
    * hotter the boilerplate, the less it costs to count — and the
    * join-back is AQE-broadcastable because the boilerplate set is
    * small by definition. Reconstruction is collect+array_sort, no
    * window.
    */
  val q371 = Q("q371_boilerplate_lines",
    (s, dir) => {
      val k = col("doc_id") % 50
      val content = expr("transform(sequence(0, CAST(ceil(size(split(trim(text), '\\\\s+')) / 8.0) AS INT) - 1), " +
        "g -> array_join(slice(split(trim(text), '\\\\s+'), g * 8 + 1, 8), ' '))")
      val withNav = concat(array(lit("NAV HOME ABOUT")), content)
      val full = when(k % 2 === 0, concat(withNav, array(lit("COPYRIGHT FOOTER"))))
        .otherwise(withNav)
      val synth = Tables.load(s, dir, "documents")
        .select(col("doc_id"), array_join(full, "\n").as("text"))
      graft.operators.TextAnalysis.stripBoilerplate(synth, "doc_id", "text", minDocs = 20L)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k,
                        $duckTokens AS w
                 FROM documents),
      wi AS (SELECT doc_id, k, unnest(w) AS word,
                    unnest(range(len(w))) AS i
             FROM d),
      lg AS (SELECT doc_id, k, i // 8 AS li,
                    string_agg(word, ' ' ORDER BY i) AS line
             FROM wi GROUP BY doc_id, k, li),
      alll AS (
        SELECT doc_id, 0 AS pos, 'NAV HOME ABOUT' AS line FROM d
        UNION ALL
        SELECT doc_id, CAST(li + 1 AS BIGINT) AS pos, line FROM lg
        UNION ALL
        SELECT doc_id, 1000000 AS pos, 'COPYRIGHT FOOTER' AS line
        FROM d WHERE k % 2 = 0),
      freq AS (SELECT line, count(DISTINCT doc_id) AS nd FROM alll GROUP BY line),
      j AS (SELECT a.doc_id, a.pos, a.line,
                   CASE WHEN f.nd >= 20 THEN 1 ELSE 0 END AS boiler
            FROM alll a JOIN freq f ON a.line = f.line)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(boiler) AS BIGINT) AS n_boiler,
             coalesce(string_agg(CASE WHEN boiler = 0 THEN line END,
                                 chr(10) ORDER BY pos), '') AS clean_text
      FROM j GROUP BY doc_id ORDER BY doc_id"""))

  // --------------------------------------------------------------- q372

  /** q372 — winnowing fingerprint census (Schleimer–Wilkerson–Aiken
    * 2003, the MOSS scheme): per document, the distinct window-minimum
    * 4-gram hashes over w=5 windows, then the corpus-wide sharing
    * profile (how many fingerprints each doc shares with ANY other
    * doc, and the hottest fingerprint's document frequency). The
    * scheme's guarantee — any shared run of ≥ w+k−1 = 8 tokens puts at
    * least one IDENTICAL fingerprint in both docs at ~2/(w+1) density
    * — is what makes it the fixed-budget alternative to full-shingle
    * overlap (q62) for plagiarism-style detection. The oracle replays
    * the whole pass: same kernel hash arithmetic, same window minima,
    * same sharing counts. Window partitions BY DOCUMENT (bounded);
    * the fingerprint distinct + document-frequency groupBy are the
    * only corpus-wide shuffles, both carrying (id, long) pairs.
    */
  val q372 = Q("q372_winnow_fingerprints",
    (s, dir) => {
      import graft.operators.Dedup
      // hash the corpus ONCE (md5 per gram is the dominant per-row
      // cost): the lazily-checkpointed relation feeds both the
      // winnowing pass and the per-doc gram counts
      val hashed = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          call_function("graft_shingle_hash_list", col("text"), lit(4)).as("gs"))
        .localCheckpoint(false)
      val fps = Dedup.winnowFromGrams(
        hashed.select(col("doc_id"), posexplode(col("gs")).as(Seq("pos", "h"))),
        "doc_id", w = 5)
      val fdf = fps.groupBy("h").agg(count_distinct(col("doc_id")).as("df"))
      val grams = hashed.select(col("doc_id"),
        size(col("gs")).cast("long").as("n_grams"))
        .withColumn("n_windows",
          greatest(col("n_grams") - lit(4), lit(1L)))
      fps.join(fdf, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fingerprints"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared_fp"),
          max(col("df")).as("max_df"))
        .join(grams, "doc_id")
        .select(col("doc_id"), col("n_grams"), col("n_windows"),
          col("n_fingerprints"), col("n_shared_fp"), col("max_df"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      g AS (SELECT doc_id,
              CASE WHEN len(w) < 4
                   THEN [${duckHash64("array_to_string(w, ' ')")} & ${Dedup.MinhashP}]
                   ELSE list_transform(range(1, len(w) - 2),
                          i -> ${duckHash64("w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]")} & ${Dedup.MinhashP})
              END AS gs
            FROM t),
      h AS (SELECT doc_id, unnest(range(len(gs))) AS pos, unnest(gs) AS h FROM g),
      win AS (SELECT doc_id, pos, h,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS wmin,
                     count(*) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS cnt,
                     count(*) OVER (PARTITION BY doc_id) AS m
              FROM h),
      fps AS (SELECT DISTINCT doc_id, wmin
              FROM win WHERE cnt = 5 OR (pos = 0 AND m < 5)),
      fdf AS (SELECT wmin, count(DISTINCT doc_id) AS df FROM fps GROUP BY wmin),
      stats AS (SELECT f.doc_id,
                       count(*) AS n_fingerprints,
                       sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_shared_fp,
                       max(df) AS max_df
                FROM fps f JOIN fdf ON fdf.wmin = f.wmin
                GROUP BY f.doc_id),
      gl AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
                    CAST(greatest(len(gs) - 4, 1) AS BIGINT) AS n_windows
             FROM g)
      SELECT s.doc_id, gl.n_grams, gl.n_windows,
             CAST(n_fingerprints AS BIGINT) AS n_fingerprints,
             CAST(n_shared_fp AS BIGINT) AS n_shared_fp,
             CAST(max_df AS BIGINT) AS max_df
      FROM stats s JOIN gl ON gl.doc_id = s.doc_id
      ORDER BY s.doc_id"""))

  // --------------------------------------------------------------- q383

  /** q383 — substring-level exact dedup: maximal cross-document
    * duplicate RUNS ([[graft.operators.Dedup.duplicateRuns]]) — every
    * shared span of ≥ 20 consecutive tokens between two documents,
    * with where it starts in each and how long it runs. This is the
    * suffix-array family's answer ("remove any long span that repeats
    * across docs") re-expressed shardably: instead of one corpus-wide
    * sorted suffix structure, matched 8-gram occurrences at constant
    * offset d = pos_a − pos_b group into maximal runs by island
    * arithmetic (pos − row_number), and a run of g grams covers
    * g + 7 tokens. The oracle replays the whole pass — same 31-bit
    * gram hashes, same ≤64 occurrence cap, same island keys — so the
    * run extents are exact, not approximate. Scale shape: one
    * corpus-wide groupBy on gram hash carrying (id, pos) pairs,
    * hot grams capped BEFORE pair expansion, run windows bounded by
    * document length. No self-join, no all-pairs, no global sort.
    */
  val q383 = Q("q383_duplicate_runs",
    (s, dir) => {
      import graft.operators.Dedup
      val grams = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(call_function("graft_shingle_hash_list", col("text"), lit(8)))
            .as(Seq("pos", "h")))
      Dedup.duplicateRuns(grams, "doc_id", k = 8, minTokens = 20,
          maxOccurrences = 64)
        .orderBy("id_a", "id_b", "a_start", "b_start", "n_tokens")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      g AS (SELECT doc_id,
              CASE WHEN len(w) < 8
                   THEN [${duckHash64("array_to_string(w, ' ')")} & ${Dedup.MinhashP}]
                   ELSE list_transform(range(1, len(w) - 6),
                          i -> ${duckHash64(
      "w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || " +
        "w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]")} & ${Dedup.MinhashP})
              END AS gs
            FROM t),
      o AS (SELECT doc_id, unnest(range(len(gs))) AS pos, unnest(gs) AS h FROM g),
      hot AS (SELECT h, count(*) AS occ FROM o GROUP BY 1),
      oc AS (SELECT o.doc_id, o.pos, o.h FROM o JOIN hot USING (h)
             WHERE occ BETWEEN 2 AND 64),
      p AS (SELECT a.doc_id AS id_a, a.pos AS pos_a,
                   b.doc_id AS id_b, b.pos AS pos_b
            FROM oc a JOIN oc b ON a.h = b.h AND a.doc_id < b.doc_id),
      r AS (SELECT id_a, id_b, pos_a - pos_b AS d, pos_a, pos_b,
                   pos_a - row_number() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
                                              ORDER BY pos_a) AS isl
            FROM p)
      SELECT id_a, id_b,
             CAST(min(pos_a) AS BIGINT) AS a_start,
             CAST(min(pos_b) AS BIGINT) AS b_start,
             CAST(count(*) + 7 AS BIGINT) AS n_tokens
      FROM r GROUP BY id_a, id_b, d, isl
      HAVING count(*) + 7 >= 20
      ORDER BY id_a, id_b, a_start, b_start, n_tokens"""))

  // --------------------------------------------------------------- q384

  /** q384 — winnowing-based near-dup CANDIDATE PAIRS
    * ([[graft.operators.Dedup.winnowPairs]]): q372's fingerprint census
    * turned into the MOSS scheme's second half — document pairs sharing
    * ≥ 2 window-minimum fingerprints, with the shared count carried.
    * This is the run-localized candidate generator next to
    * MinHash-LSH's whole-document-Jaccard one (q84 family); the bench's
    * winnow_vs_minhash extras A/B the two on the same planted-twin
    * corpus. Hot fingerprints (> 64 docs) drop before pair expansion —
    * the [[graft.operators.Dedup.bucketPairs]] cap discipline, replayed
    * by the oracle. One corpus-wide shuffle on (doc, fingerprint);
    * pairs are born ordered inside each fingerprint bucket.
    */
  val q384 = Q("q384_winnow_pairs",
    (s, dir) => {
      import graft.operators.Dedup
      Dedup.winnowPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
          k = 4, w = 5, minShared = 2, maxBucket = 64)
        .orderBy("id_a", "id_b")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      g AS (SELECT doc_id,
              CASE WHEN len(w) < 4
                   THEN [${duckHash64("array_to_string(w, ' ')")} & ${Dedup.MinhashP}]
                   ELSE list_transform(range(1, len(w) - 2),
                          i -> ${duckHash64("w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]")} & ${Dedup.MinhashP})
              END AS gs
            FROM t),
      h AS (SELECT doc_id, unnest(range(len(gs))) AS pos, unnest(gs) AS h FROM g),
      win AS (SELECT doc_id, pos, h,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS wmin,
                     count(*) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS cnt,
                     count(*) OVER (PARTITION BY doc_id) AS m
              FROM h),
      fps AS (SELECT DISTINCT doc_id, wmin
              FROM win WHERE cnt = 5 OR (pos = 0 AND m < 5)),
      bsz AS (SELECT wmin, count(*) AS b FROM fps GROUP BY wmin),
      ok AS (SELECT f.doc_id, f.wmin FROM fps f JOIN bsz USING (wmin)
             WHERE b BETWEEN 2 AND 64)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_shared_fp
      FROM ok a JOIN ok b ON a.wmin = b.wmin AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
      ORDER BY id_a, id_b"""))

  // --------------------------------------------------------------- q386

  /** q386 — Unicode script-block census
    * ([[graft.operators.TextAnalysis.scriptCounts]]): per-document
    * codepoint counts over named Unicode block ranges (Latin, digits,
    * Cyrillic, Greek, Arabic, Hebrew, Devanagari, CJK, kana, Hangul,
    * supplementary-plane emoji) plus the dominant script — the cheap
    * language/contamination triage a 100 TB pipeline runs before any
    * model-based langID, one codegen'd regexp_count pass per class,
    * no UDF, no per-codepoint explode. q370 audits the UTF-8 BYTE
    * layer; this classifies the codepoints above it (emoji counted by
    * CODEPOINT via \x{...}, never as two surrogate halves). The
    * fixture plants multilingual text derived from doc_id (script
    * (id+j)%11 repeated 1+(id·7+j)%4 times for j<7, 2 codepoints per
    * sample), so the oracle replays the census as PURE ARITHMETIC —
    * the gate proves the regex classes count planted codepoints
    * exactly, with no Unicode machinery on the oracle side at all.
    * Map-only, zero shuffles.
    */
  val q386 = Q("q386_script_census",
    (s, dir) => {
      import graft.operators.TextAnalysis
      // 2 codepoints per sample, one sample per ScriptClasses entry:
      // latin, digit, cyrillic, greek, arabic, hebrew, devanagari,
      // cjk, kana, hangul, emoji (U+1F600 U+1F300 — surrogate pairs)
      val samples = Seq("ab", "37", "Аб", "αβ",
        "اب", "אב", "अआ", "中文",
        "あカ", "가나", "😀🌀")
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"))
        .withColumn("_s", array(samples.map(lit): _*))
        .withColumn("text", concat_ws(" ", (0 until 7).map(j =>
          expr(s"repeat(element_at(_s, CAST(pmod(doc_id + $j, 11) AS INT) + 1), " +
            s"CAST(1 + pmod(doc_id * 7 + $j, 4) AS INT))")): _*))
      docs.select(Seq(col("doc_id")) ++
        TextAnalysis.scriptCounts(col("text")).map { case (n, c) => c.as(n) } :+
        TextAnalysis.dominantScript(col("text")).as("dominant_script"): _*)
        .orderBy("doc_id")
    },
    Some("""
      WITH cls AS (SELECT unnest(range(11)) AS s),
      js AS (SELECT unnest(range(7)) AS j),
      c AS (SELECT d.doc_id, cls.s,
              2 * sum(CASE WHEN (d.doc_id + js.j) % 11 = cls.s
                           THEN 1 + (d.doc_id * 7 + js.j) % 4 ELSE 0 END) AS n
            FROM documents d, js, cls
            GROUP BY 1, 2),
      piv AS (SELECT doc_id, list(n ORDER BY s) AS l FROM c GROUP BY doc_id)
      SELECT doc_id,
             CAST(l[1] AS BIGINT) AS n_latin,
             CAST(l[2] AS BIGINT) AS n_digit,
             CAST(l[3] AS BIGINT) AS n_cyrillic,
             CAST(l[4] AS BIGINT) AS n_greek,
             CAST(l[5] AS BIGINT) AS n_arabic,
             CAST(l[6] AS BIGINT) AS n_hebrew,
             CAST(l[7] AS BIGINT) AS n_devanagari,
             CAST(l[8] AS BIGINT) AS n_cjk,
             CAST(l[9] AS BIGINT) AS n_kana,
             CAST(l[10] AS BIGINT) AS n_hangul,
             CAST(l[11] AS BIGINT) AS n_emoji,
             list_extract(['latin','digit','cyrillic','greek','arabic','hebrew',
                           'devanagari','cjk','kana','hangul','emoji'],
                          list_position(l, list_max(l))) AS dominant_script
      FROM piv ORDER BY doc_id"""))

  // --------------------------------------------------------------- q389

  /** q389 — INCREMENTAL duplicate-run dedup
    * ([[graft.operators.Dedup.duplicateRunsIncremental]]): the
    * substring layer of the incremental-curation story — an arriving
    * batch (every 5th document plays "new") checked against the
    * standing corpus for shared ≥20-token runs WITHOUT re-enumerating
    * base×base pairs. Buckets with no new member drop before any list
    * is collected (the same windowed pass as the hot cap), old×old
    * pairs drop at birth inside the expansion, and the hot-gram cap
    * still counts the WHOLE corpus — so every emitted run is exactly
    * what the batch q383 pass says about it, restricted to runs
    * touching a new document (the oracle IS q383's replay plus that
    * restriction; DedupSimilaritySpec pins the subset identity on the
    * operator directly).
    */
  val q389 = Q("q389_duplicate_runs_incremental",
    (s, dir) => {
      import graft.operators.Dedup
      val grams = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(call_function("graft_shingle_hash_list", col("text"), lit(8)))
            .as(Seq("pos", "h")))
        .withColumn("is_new", pmod(col("doc_id"), lit(5)) === 0)
      Dedup.duplicateRunsIncremental(grams, "doc_id", "is_new",
          k = 8, minTokens = 20, maxOccurrences = 64)
        .orderBy("id_a", "id_b", "a_start", "b_start", "n_tokens")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      g AS (SELECT doc_id,
              CASE WHEN len(w) < 8
                   THEN [${duckHash64("array_to_string(w, ' ')")} & ${Dedup.MinhashP}]
                   ELSE list_transform(range(1, len(w) - 6),
                          i -> ${duckHash64(
      "w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || " +
        "w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]")} & ${Dedup.MinhashP})
              END AS gs
            FROM t),
      o AS (SELECT doc_id, unnest(range(len(gs))) AS pos, unnest(gs) AS h FROM g),
      hot AS (SELECT h, count(*) AS occ FROM o GROUP BY 1),
      oc AS (SELECT o.doc_id, o.pos, o.h FROM o JOIN hot USING (h)
             WHERE occ BETWEEN 2 AND 64),
      p AS (SELECT a.doc_id AS id_a, a.pos AS pos_a,
                   b.doc_id AS id_b, b.pos AS pos_b
            FROM oc a JOIN oc b ON a.h = b.h AND a.doc_id < b.doc_id
            WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0),
      r AS (SELECT id_a, id_b, pos_a - pos_b AS d, pos_a, pos_b,
                   pos_a - row_number() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
                                              ORDER BY pos_a) AS isl
            FROM p)
      SELECT id_a, id_b,
             CAST(min(pos_a) AS BIGINT) AS a_start,
             CAST(min(pos_b) AS BIGINT) AS b_start,
             CAST(count(*) + 7 AS BIGINT) AS n_tokens
      FROM r GROUP BY id_a, id_b, d, isl
      HAVING count(*) + 7 >= 20
      ORDER BY id_a, id_b, a_start, b_start, n_tokens"""))

  // --------------------------------------------------------------- q391

  /** q391 — duplicate-span REMOVAL with byte-exact reassembly
    * ([[graft.operators.Dedup.removeDuplicateRuns]]): the cut half of
    * Lee et al. 2021's substring dedup, completing q383's detection
    * half. Every shared ≥20-token run survives only at its FIRST
    * occurrence (keeper min (doc_id, start) — the a-side of every run
    * row by construction); a document's cut intervals MERGE before
    * cutting (overlapping runs from different partners would otherwise
    * double-cut), and each doc reassembles from its surviving tokens
    * in position order. The md5 fingerprint pins the rebuilt corpus
    * byte-exactly without shipping it; the oracle replays detection,
    * keeper choice, interval merge, and reassembly end to end.
    * Scale shape: q383's one gram shuffle, plus interval windows
    * bounded per-doc, a cut-position explode linear in REMOVED tokens,
    * and one doc-id shuffle for the reassembly.
    */
  val q391 = Q("q391_duplicate_span_removal",
    (s, dir) => {
      import graft.operators.Dedup
      val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
      Dedup.removeDuplicateRuns(docs, "doc_id", "text",
          k = 8, minTokens = 20, maxOccurrences = 64)
        .select(col("doc_id"), col("n_tokens"), col("n_kept"),
          col("n_cut_intervals"),
          md5(col("text")).as("fp"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      g AS (SELECT doc_id,
              CASE WHEN len(w) < 8
                   THEN [${duckHash64("array_to_string(w, ' ')")} & ${Dedup.MinhashP}]
                   ELSE list_transform(range(1, len(w) - 6),
                          i -> ${duckHash64(
      "w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || " +
        "w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]")} & ${Dedup.MinhashP})
              END AS gs
            FROM t),
      o AS (SELECT doc_id, unnest(range(len(gs))) AS pos, unnest(gs) AS h FROM g),
      hot AS (SELECT h, count(*) AS occ FROM o GROUP BY 1),
      oc AS (SELECT o.doc_id, o.pos, o.h FROM o JOIN hot USING (h)
             WHERE occ BETWEEN 2 AND 64),
      p AS (SELECT a.doc_id AS id_a, a.pos AS pos_a,
                   b.doc_id AS id_b, b.pos AS pos_b
            FROM oc a JOIN oc b ON a.h = b.h AND a.doc_id < b.doc_id),
      r AS (SELECT id_a, id_b, pos_a - pos_b AS d, pos_a, pos_b,
                   pos_a - row_number() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
                                              ORDER BY pos_a) AS isl
            FROM p),
      runs AS (SELECT id_a, id_b, min(pos_a) AS a_start, min(pos_b) AS b_start,
                      count(*) + 7 AS n_tokens
               FROM r GROUP BY id_a, id_b, d, isl
               HAVING count(*) + 7 >= 20),
      ci AS (SELECT id_b AS doc_id, b_start AS s, b_start + n_tokens AS e FROM runs),
      mk AS (SELECT doc_id, s, e,
               CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS nw
             FROM ci),
      ik AS (SELECT doc_id, s, e,
               sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
             FROM mk),
      iv AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM ik GROUP BY doc_id, isl),
      niv AS (SELECT doc_id, count(*) AS n_iv FROM iv GROUP BY doc_id),
      cutpos AS (SELECT doc_id, unnest(range(s, e)) AS pos FROM iv),
      tok AS (SELECT doc_id, unnest(range(len(w))) AS pos, unnest(w) AS tok FROM t),
      kept AS (SELECT k.doc_id, k.pos, k.tok
               FROM tok k LEFT JOIN cutpos c
                 ON c.doc_id = k.doc_id AND c.pos = k.pos
               WHERE c.doc_id IS NULL),
      res AS (SELECT doc_id, count(*) AS n_kept,
                     md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
              FROM kept GROUP BY doc_id)
      SELECT t.doc_id,
             CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(coalesce(res.n_kept, 0) AS BIGINT) AS n_kept,
             CAST(coalesce(niv.n_iv, 0) AS BIGINT) AS n_cut_intervals,
             coalesce(res.fp, md5('')) AS fp
      FROM t LEFT JOIN res ON res.doc_id = t.doc_id
             LEFT JOIN niv ON niv.doc_id = t.doc_id
      ORDER BY t.doc_id"""))

  // --------------------------------------------------------------- q394

  /** q394 — the WARC→text→curation COMPOSITION flagship: the Common
    * Crawl pipeline end to end in one oracle-gated pass — the
    * artifact the whole triage layer exists for. Stage 1 walks WARC
    * archives ([[graft.operators.WarcOps.extractResponses]] — the
    * extraction half of q323's census walk: response records only,
    * Content-Length authoritative, a cut terminator drops the
    * record); stage 2 strips HTML to text (q316's
    * [[graft.operators.HtmlText.extract]], scripts/comments/entities
    * and all); stage 3 issues per-page curation verdicts (q338's
    * shape): token-count gate, corpus-wide exact-dup keep-first on
    * the CLEAN text (min (doc, page) keeps), keep/too_short/
    * duplicate. Fixtures plant all three branches: page 0 carries the
    * document's real text, page 1 a 3-token footer (too_short), page
    * 2 shared boilerplate (duplicate everywhere but its first
    * occurrence). The container flatMap is the only non-columnar
    * step; dedup is the single shuffle. The oracle replays every
    * stage — framing, extraction (HtmlText.duckSql), tokens, md5
    * keep-first — so the composition, not just its pieces, is gated.
    */
  val q394 = Q("q394_warc_curation_pipeline",
    (s, dir) => {
      import s.implicits._
      val shortB = "<html><body><p>footer nav page</p></body></html>"
      val longB = "<html><body><p>" + (1 to 30).map(i => s"boiler$i").mkString(" ") +
        "</p></body></html>"
      val archives = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val k = (id % 50).toInt
            val np = 1 + k % 3
            val plan =
              Seq(("warcinfo", None: Option[String],
                Array.tabulate(40 + (k * 7) % 50)(i => ((i * 31) % 256).toByte))) ++
                (0 until np).flatMap { p =>
                  val uri = s"http://site$k.com/p$p"
                  val html =
                    if (p == 0)
                      s"""<html><head><title>D$id</title><script>t("x")</script></head><body><h1>site$k</h1><!-- c --><p>$text</p></body></html>"""
                    else if (p == 1) shortB
                    else longB
                  Seq(
                    ("request", Some(uri),
                      Array.tabulate(30 + (k * 11 + p * 13) % 60)(i => (i % 256).toByte)),
                    ("response", Some(uri),
                      html.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
                }
            (id, graft.operators.WarcOps.encodeSyntheticContent(plan))
          }
        }.toDF("doc_id", "payload")
      val pages = graft.operators.WarcOps
        .extractResponses(archives, "doc_id", "payload")
      val cleaned = pages.select(col("doc_id"), col("page"), col("uri"),
          graft.operators.HtmlText.extract(col("content")).as("clean"))
        .withColumn("n_chars_clean", length(col("clean")).cast("long"))
        .withColumn("n_tokens", size(split(trim(col("clean")), "\\s+")).cast("long"))
        .withColumn("fp", md5(col("clean")))
      val w = Window.partitionBy("fp").orderBy("doc_id", "page")
      cleaned.withColumn("_rn", row_number().over(w))
        .withColumn("is_dup", (col("_rn") > 1).cast("long"))
        .withColumn("verdict",
          when(col("n_tokens") < 10, "too_short")
            .when(col("is_dup") === 1, "duplicate")
            .otherwise("keep"))
        .select("doc_id", "page", "uri", "n_chars_clean", "n_tokens", "is_dup", "verdict")
        .orderBy("doc_id", "page")
    },
    Some {
      val htmlCase = """CASE WHEN p = 0 THEN
          '<html><head><title>D' || doc_id || '</title><script>t("x")</script></head><body><h1>site' || k || '</h1><!-- c --><p>' || text || '</p></body></html>'
        WHEN p = 1 THEN '<html><body><p>footer nav page</p></body></html>'
        ELSE '<html><body><p>""" +
        (1 to 30).map(i => s"boiler$i").mkString(" ") +
        """</p></body></html>' END"""
      s"""
      WITH d AS (SELECT doc_id, text, doc_id % 50 AS k FROM documents),
      pg AS (SELECT doc_id, k, text, unnest(range(1 + k % 3)) AS p FROM d),
      h AS (SELECT doc_id, p, 'http://site' || k || '.com/p' || p AS uri,
              $htmlCase AS html
            FROM pg),
      c AS (SELECT doc_id, p AS page, uri,
              ${graft.operators.HtmlText.duckSql("html")} AS clean FROM h),
      t AS (SELECT doc_id, page, uri,
              CAST(length(clean) AS BIGINT) AS n_chars_clean,
              CAST(len(string_split_regex(trim(clean), '\\s+')) AS BIGINT) AS n_tokens,
              md5(clean) AS fp FROM c),
      r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id, page) AS rn
            FROM t)
      SELECT doc_id, CAST(page AS BIGINT) AS page, uri, n_chars_clean, n_tokens,
             CAST(CASE WHEN rn > 1 THEN 1 ELSE 0 END AS BIGINT) AS is_dup,
             CASE WHEN n_tokens < 10 THEN 'too_short'
                  WHEN rn > 1 THEN 'duplicate'
                  ELSE 'keep' END AS verdict
      FROM r ORDER BY doc_id, page"""
    })

  val all: Seq[Q] = Seq(q61, q62, q63, q64, q76, q171, q180, q183, q185, q186, q187,
    q196, q221, q224, q231, q232, q288, q297, q316, q317, q320, q321, q322, q326, q327,
    q328, q331, q333, q334, q338, q343, q345, q349, q350, q354, q357, q359, q360, q371,
    q372, q383, q384, q386, q389, q391, q394)
}
