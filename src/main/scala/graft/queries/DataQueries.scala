package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing
import graft.operators.{AudioCodec, Dedup, MultimodalCodec, MultimodalStub, Payloads, Similarity, TextCodec, VideoCodec, TextAnalysis => TA}
import graft.operators.Relational.dedupKeepFirst
import graft.queries.Q.{duckCos, duckDot, duckHash64}

/** Training-data pipeline operators over the `documents` and
  * `embeddings` tables: text analysis, deduplication (exact, MinHash-LSH,
  * SimHash, n-gram Jaccard), similarity search (brute-force + LSH), and
  * multimodal binary plumbing. Every query has a DuckDB oracle that
  * recomputes the same deterministic algorithm (md5-derived hashing,
  * decimal-accumulated dot products), so results match bit-for-bit.
  */
object DataQueries {

  private val stopwords = Seq("the", "a", "of", "and")
  private val markerSets = Seq(
    "en" -> Seq("the", "a"),
    "de" -> Seq("der", "und", "das"),
    "es" -> Seq("el", "los", "que"),
    "fr" -> Seq("le", "la", "et"),
    "zh" -> Seq("zh1", "zh2"))

  // ---- shared DuckDB SQL fragments (mirror the Scala operators) ----

  private val duckTokens = "string_split_regex(trim(text), '\\s+')"

  private def duckList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("[", ",", "]")

  private def duckLangScore(markers: Seq[String]): String =
    s"len(list_filter(w, x -> list_contains(${duckList(markers)}, x)))"

  /** q32 — token statistics + content fingerprint (text analysis). */
  val q32 = Q("q32_text_stats",
    (s, dir) => Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        TA.tokenCount(col("text")).as("n_tokens"),
        TA.distinctTokenCount(col("text")).as("n_distinct"),
        TA.avgTokenLen(col("text")).as("avg_token_len"),
        TA.contentFingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id,
             len($duckTokens) AS n_tokens,
             len(list_distinct($duckTokens)) AS n_distinct,
             round(CAST(list_sum(list_transform($duckTokens, x -> length(x))) AS DOUBLE)
                   / len($duckTokens), 6) AS avg_token_len,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
      FROM documents ORDER BY doc_id"""))

  /** q33 — marker-word language ID (argmax with first-wins tie-break). */
  val q33 = Q("q33_langid",
    (s, dir) => Tables.load(s, dir, "documents")
      .select(
        col("doc_id"), col("lang"),
        TA.langId(col("text"), markerSets).as("lang_pred"),
        greatest(markerSets.map { case (_, ms) => TA.langScore(col("text"), ms) }: _*)
          .as("best_score"))
      .orderBy("doc_id"),
    Some {
      val scores = markerSets.map { case (l, ms) => s"${duckLangScore(ms)} AS s_$l" }.mkString(", ")
      val best = markerSets.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val argmax = markerSets.map { case (l, _) => s"WHEN s_$l = best THEN '$l'" }.mkString(" ")
      s"""
      WITH t AS (SELECT doc_id, lang, $duckTokens AS w FROM documents),
      sc AS (SELECT doc_id, lang, $scores FROM t),
      b AS (SELECT *, $best AS best FROM sc)
      SELECT doc_id, lang, CASE $argmax END AS lang_pred, best AS best_score
      FROM b ORDER BY doc_id"""
    })

  /** q34 — document quality scoring (length / punctuation / stopword
    * fluency).
    */
  val q34 = Q("q34_quality",
    (s, dir) => Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        TA.tokenCount(col("text")).as("n_tokens"),
        TA.punctRatio(col("text")).as("punct_ratio"),
        TA.stopwordRatio(col("text"), stopwords).as("stopword_ratio"),
        TA.qualityScore(col("text"), stopwords).as("quality_score"))
      .orderBy("doc_id"),
    Some(s"""
      WITH t AS (
        SELECT doc_id, $duckTokens AS w,
               round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
                     / length(text), 6) AS punct_ratio
        FROM documents),
      r AS (
        SELECT doc_id, len(w) AS n_tokens, punct_ratio,
               round(len(list_filter(w, x -> list_contains(${duckList(stopwords)}, x)))::DOUBLE
                     / len(w), 6) AS stopword_ratio
        FROM t)
      SELECT doc_id, n_tokens, punct_ratio, stopword_ratio,
             round(0.4 * least(1.0, n_tokens::DOUBLE / 100.0)
                   + 0.3 * (1.0 - punct_ratio)
                   + 0.3 * stopword_ratio, 6) AS quality_score
      FROM r ORDER BY doc_id"""))

  /** q35 — exact dedup after normalization: keep-first per 2-token-prefix
    * fingerprint (hash-groupBy dedup; one shuffle on the fingerprint).
    */
  val q35 = Q("q35_dedup_exact",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .withColumn("prefix_fp",
          md5(concat_ws(" ", slice(TA.tokens(col("text")), 1, 2))))
      dedupKeepFirst(docs, Seq("prefix_fp"), Seq(col("doc_id").asc))
        .select("doc_id", "prefix_fp")
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id, prefix_fp
      FROM (SELECT doc_id, md5(array_to_string(($duckTokens)[1:2], ' ')) AS prefix_fp,
                   row_number() OVER (PARTITION BY md5(array_to_string(($duckTokens)[1:2], ' '))
                                      ORDER BY doc_id) AS rn
            FROM documents)
      WHERE rn = 1 ORDER BY doc_id"""))

  /** q36 — MinHash + LSH near-duplicate pairs: bigram shingles, k=12
    * signature, 6 bands × 2 rows, exact-Jaccard verify ≥ 0.2.
    */
  /** CTE chain reproducing Dedup.minhashLshPairs on `documents`
    * (bigram shingles, k=12, 6 bands × 2 rows, capped buckets) up to a
    * `j(doc_a, doc_b, jaccard)` relation — shared by q36 and q58.
    */
  private[queries] def duckMinhashPairCtes: String = {
    // the affine min-hash coefficients, identical to Dedup.minhashCoeffs
    val sigExprs = Dedup.minhashCoeffs(12).map { case (a, b) =>
      s"list_min(list_transform(hl, h -> (${a} * h + ${b}) % ${Dedup.MinhashP}))"
    }.mkString("[", ",\n                ", "]")
    s"""t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      sh AS (SELECT doc_id,
             CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
                  ELSE list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) END AS g
             FROM t),
      hh AS (SELECT doc_id,
             list_transform(list_distinct(g), s -> ${duckHash64("s")} & ${Dedup.MinhashP}) AS hl
             FROM sh),
      sig AS (SELECT doc_id, hl, $sigExprs AS sg FROM hh),
      bands AS (SELECT doc_id, b,
                ${duckHash64("'band' || b || '|' || sg[2*b+1] || '|' || sg[2*b+2]")} AS h
                FROM sig CROSS JOIN (SELECT unnest(range(0, 6)) AS b) bs),
      ok AS (SELECT b, h FROM bands GROUP BY b, h
             HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bands a JOIN ok ON a.b = ok.b AND a.h = ok.h
               JOIN bands b ON a.b = b.b AND a.h = b.h AND a.doc_id < b.doc_id),
      gg AS (SELECT doc_id, list_distinct(hl) AS gd FROM hh),
      j AS (SELECT doc_a, doc_b,
            round(len(list_intersect(ga.gd, gb.gd))::DOUBLE /
                  (len(ga.gd) + len(gb.gd) - len(list_intersect(ga.gd, gb.gd))), 6) AS jaccard
            FROM cand JOIN gg ga ON doc_a = ga.doc_id JOIN gg gb ON doc_b = gb.doc_id)"""
  }

  val q36 = Q("q36_minhash_lsh",
    (s, dir) => Dedup.minhashLshPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 2, k = 12, rowsPerBand = 2, threshold = 0.2)
      .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
      .orderBy("doc_a", "doc_b"),
    Some(s"""
      WITH $duckMinhashPairCtes
      SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.2
      ORDER BY doc_a, doc_b"""))

  /** q37 — 16-bit SimHash fingerprints over distinct tokens. */
  val q37 = Q("q37_simhash",
    (s, dir) => Tables.load(s, dir, "documents")
      .select(col("doc_id"), Dedup.simhash(col("text"), 16).as("simhash"))
      .orderBy("doc_id"),
    Some(s"""
      WITH t AS (SELECT doc_id, list_distinct($duckTokens) AS w FROM documents),
      h AS (SELECT doc_id, list_transform(w, x -> ${duckHash64("x")}) AS hs FROM t)
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 16), b ->
               CASE WHEN list_sum(list_transform(hs, v -> ((v >> b) & 1) * 2 - 1)) > 0
                    THEN 1 << b ELSE 0 END)) AS BIGINT) AS simhash
      FROM h ORDER BY doc_id"""))

  /** q38 — n-gram Jaccard near-dups within each source, candidates from
    * 12 single-row LSH bands (recall 1-(1-j)^12: 72% at j=0.1, 98.6% at
    * j=0.3, ~1 at j≥0.5), each candidate exact-verified on the full
    * 31-bit shingle-hash sets.
    *
    * The round-1 version ran blocked all-pairs (`source` self-join) —
    * exact, but O(n²) per block and the bench's worst query; at corpus
    * scale it would never finish. Banded candidate generation is the
    * linear-shuffle replacement: same verify arithmetic, deterministic
    * md5-derived bands the oracle replays bit-for-bit.
    */
  val q38 = Q("q38_ngram_jaccard",
    (s, dir) => Dedup.minhashLshPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 2, k = 12, rowsPerBand = 1, threshold = 0.1,
        blockCols = Seq("source"))
      .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
      .orderBy("doc_a", "doc_b"),
    Some {
      val sigExprs = Dedup.minhashCoeffs(12).map { case (a, b) =>
        s"list_min(list_transform(hl, h -> (${a} * h + ${b}) % ${Dedup.MinhashP}))"
      }.mkString("[", ",\n                ", "]")
      s"""
      WITH t AS (SELECT doc_id, source, $duckTokens AS w FROM documents),
      sh AS (SELECT doc_id, source,
             CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
                  ELSE list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) END AS g
             FROM t),
      hh AS (SELECT doc_id, source,
             list_transform(list_distinct(g), s -> ${duckHash64("s")} & ${Dedup.MinhashP}) AS hl
             FROM sh),
      sig AS (SELECT doc_id, source, hl, $sigExprs AS sg FROM hh),
      bands AS (SELECT doc_id, source, b,
                ${duckHash64("'band' || b || '|' || sg[b+1]")} AS h
                FROM sig CROSS JOIN (SELECT unnest(range(0, 12)) AS b) bs),
      ok AS (SELECT source, b, h FROM bands GROUP BY source, b, h
             HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bands a
               JOIN ok ON a.source = ok.source AND a.b = ok.b AND a.h = ok.h
               JOIN bands b ON a.source = b.source AND a.b = b.b AND a.h = b.h
                          AND a.doc_id < b.doc_id),
      gg AS (SELECT doc_id, list_distinct(hl) AS gd FROM hh),
      j AS (SELECT doc_a, doc_b,
            round(len(list_intersect(ga.gd, gb.gd))::DOUBLE /
                  (len(ga.gd) + len(gb.gd) - len(list_intersect(ga.gd, gb.gd))), 6) AS jaccard
            FROM cand JOIN gg ga ON doc_a = ga.doc_id JOIN gg gb ON doc_b = gb.doc_id)
      SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.1
      ORDER BY doc_a, doc_b"""
    })

  /** q39 — brute-force cosine top-10 for one query vector (ANN
    * baseline; map-only + TakeOrderedAndProject).
    */
  val q39 = Q("q39_embed_topk",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") === 0), k = 10)
    },
    Some(s"""
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, ${duckCos("embedding", "qv")} AS cos_sim
      FROM embeddings CROSS JOIN q
      ORDER BY cos_sim DESC, vec_id ASC LIMIT 10"""))

  /** q40 — embedding-cosine near-duplicate pairs within each label:
    * candidates from 6 hyperplane hash tables × 3 planes (recall
    * 1-(1-(1-θ/π)³)⁶ — ~42% at cos 0.3, 99.7% at cos 0.9, i.e. tuned
    * for true near-dups), exact-cosine verified (norms precomputed once
    * per row, not per pair).
    *
    * The round-1 version joined all pairs within each label — O(n²)
    * per block. Banded hyperplane buckets are the linear-shuffle scale
    * path (same machinery as q41's ANN, banded for pair search);
    * deterministic md5-derived planes let the oracle rebuild identical
    * buckets.
    */
  val q40 = Q("q40_embed_neardup",
    (s, dir) => {
      val tables = 6; val planes = 3
      // materialized once (lazy local checkpoint): referenced by the
      // bucket generation and both verification joins
      val emb = Tables.load(s, dir, "embeddings")
        .withColumn("_norm", sqrt(Similarity.dotNative(col("embedding"), col("embedding"))))
        .localCheckpoint(false)
      val buckets = emb.select(col("vec_id"), col("label"),
        posexplode(array((0 until tables).map(t =>
          Similarity.hyperplaneBucketSeeded(col("embedding"), 64, planes, s"q40t$t")): _*))
          .as(Seq("_t", "_bk")))
      val cand = Dedup.bucketPairs(buckets, "vec_id", Seq("label", "_t", "_bk"))
      cand
        .join(emb.select(col("vec_id").as("id_a"),
          col("embedding").as("va"), col("_norm").as("na")), Seq("id_a"))
        .join(emb.select(col("vec_id").as("id_b"),
          col("embedding").as("vb"), col("_norm").as("nb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(Similarity.dotNative(col("va"), col("vb")) / (col("na") * col("nb")), 6)
            .as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
        .orderBy("id_a", "id_b")
    },
    Some {
      val tables = 6; val planes = 3
      def planeLit(seed: String, p: Int) = (1 to 64).map { d =>
        val n = Hashing.hash64Local(s"$seed:p$p:d$d") % 2001 - 1000
        s"(${n}.0/1000.0)"
      }.mkString("[", ",", "]")
      val bucketExprs = (0 until tables).map { t =>
        val bits = (0 until planes).map { p =>
          s"""CASE WHEN list_reduce(list_transform(range(1, 65),
             d -> CAST(embedding[d] AS DOUBLE) * (${planeLit(s"q40t$t", p)}[d])), (a, b) -> a + b) > 0
             THEN ${1 << p} ELSE 0 END"""
        }.mkString(" + ")
        s"CAST($bits AS INTEGER) AS bk$t"
      }.mkString(",\n             ")
      val bkCase = (0 until tables).map(t => s"WHEN $t THEN bk$t").mkString(" ")
      s"""
      WITH n AS (SELECT vec_id, label, embedding,
                        sqrt(${duckDot("embedding", "embedding")}) AS nrm,
             $bucketExprs
             FROM embeddings),
      bk AS (SELECT vec_id, label, t, CASE t $bkCase END AS bkt
             FROM n CROSS JOIN (SELECT unnest(range(0, $tables)) AS t) ts),
      ok AS (SELECT label, t, bkt FROM bk GROUP BY label, t, bkt
             HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
               FROM bk a
               JOIN ok ON a.label = ok.label AND a.t = ok.t AND a.bkt = ok.bkt
               JOIN bk b ON a.label = b.label AND a.t = b.t AND a.bkt = b.bkt
                       AND a.vec_id < b.vec_id),
      p AS (SELECT id_a, id_b,
            round(${duckDot("na.embedding", "nb.embedding")} / (na.nrm * nb.nrm), 6) AS cos_sim
            FROM cand JOIN n na ON id_a = na.vec_id JOIN n nb ON id_b = nb.vec_id)
      SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.3
      ORDER BY id_a, id_b"""
    })

  /** q41 — LSH-bucketed ANN: 8 md5-derived hyperplanes, search only the
    * query's bucket, top-5 by cosine (the 100 TB scale path).
    */
  val q41 = Q("q41_ann_lsh",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.lshTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") === 0), dim = 64, planes = 8, k = 5)
    },
    Some {
      // hyperplane components as exact literals (n/1000 divisions are
      // IEEE-identical to the Scala-side constants); projections fold
      // left-to-right in both engines → bit-exact sign bits
      val bitExprs = (0 until 8).map { p =>
        val planeLit = (1 to 64)
          .map { d =>
            val n = Hashing.hash64Local(s"plane$p:$d") % 2001 - 1000
            s"(${n}.0/1000.0)"
          }
          .mkString("[", ",", "]")
        s"""CASE WHEN list_reduce(list_transform(range(1, 65),
           d -> CAST(embedding[d] AS DOUBLE) * ($planeLit[d])), (a, b) -> a + b) > 0
           THEN ${1 << p} ELSE 0 END"""
      }.mkString(" + ")
      s"""
      WITH b AS (SELECT vec_id, embedding, CAST($bitExprs AS INTEGER) AS bucket
             FROM embeddings),
      q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0)
      SELECT vec_id, ${duckCos("embedding", "qv")} AS cos_sim
      FROM b JOIN q ON bucket = qb
      ORDER BY cos_sim DESC, vec_id ASC LIMIT 5"""
    })

  /** q42 — multimodal binary plumbing: opaque payload column + feature
    * extraction as codegen'd built-in expressions (decode step stubbed
    * deterministically; see MultimodalStub).
    * The oracle slices bytes (substr over the encoded BLOB), matching
    * Spark's binary substring even for multibyte text.
    */
  val q42 = Q("q42_media_features",
    (s, dir) => MultimodalStub.extractFeatures(
        MultimodalStub.attachPayload(
          Tables.load(s, dir, "documents"), "text", "payload"),
        "doc_id", "payload")
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             lower(left(hex(encode(text)), 8)) AS header_hex,
             md5(text) AS content_md5
      FROM documents ORDER BY doc_id"""))

  /** q43 — BPE-ish regex tokenization vs whitespace tokenization
    * (token-counting surface of a corpus pipeline).
    */
  val q43 = Q("q43_token_bpe",
    (s, dir) => Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        size(TA.bpeTokens(col("text"))).as("n_bpe_tokens"),
        TA.tokenCount(col("text")).as("n_ws_tokens"))
      .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
             len($duckTokens) AS n_ws_tokens
      FROM documents ORDER BY doc_id"""))

  /** q44 — order-sensitive rolling-hash document fingerprint (detects
    * reordered near-dups that set fingerprints miss).
    */
  val q44 = Q("q44_rolling_fingerprint",
    (s, dir) => Tables.load(s, dir, "documents")
      .select(col("doc_id"), TA.rollingFingerprint(col("text")).as("roll_fp"))
      .orderBy("doc_id"),
    Some(s"""
      WITH t AS (SELECT doc_id,
             list_transform($duckTokens, x -> ${duckHash64("x")} & ${Dedup.MinhashP}) AS hs
             FROM documents)
      SELECT doc_id,
             CASE WHEN len(hs) = 0 THEN 0
                  ELSE list_reduce(hs, (acc, h) -> (acc * 131 + h) % ${Dedup.MinhashP})
             END AS roll_fp
      FROM t ORDER BY doc_id"""))

  /** q45 — per-label embedding centroids via positional explode +
    * order-independent decimal mean per (label, dim): the distributed
    * vector-aggregation pattern (shuffle key = (label, dim), no driver
    * collection).
    */
  val q45 = Q("q45_embed_centroid",
    (s, dir) => Tables.load(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("_pos", "_v")))
      .groupBy(col("label"), (col("_pos") + 1).as("dim"))
      .agg(
        // fixed-point accumulation: quantize each component to 1e-6,
        // sum exact longs (order-independent), rescale once. Decimal
        // casts can't be used here — DuckDB's double→decimal goes
        // through a float multiply, diverging from Spark's exact
        // BigDecimal rounding by 1 ulp on some values.
        (sum(round(col("_v").cast("double") * 1e6).cast("long")).cast("double")
          / count(col("_v")) / 1e6).as("centroid"),
        count(col("_v")).as("n_vecs"))
      .orderBy("label", "dim"),
    Some("""
      SELECT label, d AS dim,
             CAST(sum(CAST(round(CAST(embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
               / count(*) / 1000000.0 AS centroid,
             count(*) AS n_vecs
      FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS d) ds
      GROUP BY label, d ORDER BY label, dim"""))

  /** q46 — ordered window frames: running totals + lag over an event
    * sequence (the frame-based window surface beyond the reference's
    * unbounded partition transforms).
    */
  val q46 = Q("q46_running_window",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("seq"),
          sum(col("o_totalprice").cast(DecimalType(28, 6))).over(wRun)
            .cast("double").as("run_total"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"))
        .orderBy("o_custkey", "seq")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER w AS seq,
             CAST(sum(CAST(o_totalprice AS DECIMAL(28,6)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_total,
             lag(o_totalprice) OVER w AS prev_price
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, seq"""))

  /** q47 — frame sampling over media payloads: fixed-width frame split
    * + per-frame fingerprint (the video-frame / audio-chunk batch shape
    * with the decode stubbed as byte-slice hashing).
    */
  val q47 = Q("q47_media_frames",
    (s, dir) => {
      val frameW = 64
      Tables.load(s, dir, "documents")
        .withColumn("_nf",
          greatest(floor((length(col("text")) + (frameW - 1)) / frameW), lit(1)).cast("int"))
        .select(col("doc_id"),
          explode(sequence(lit(0), col("_nf") - 1)).as("frame_idx"),
          col("text"))
        .select(col("doc_id"), col("frame_idx"),
          md5(expr(s"substring(text, frame_idx * $frameW + 1, $frameW)")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    },
    Some("""
      WITH f AS (
        SELECT doc_id, text,
               greatest(CAST(floor((length(text) + 63) / 64) AS INTEGER), 1) AS nf
        FROM documents)
      SELECT doc_id, i AS frame_idx, md5(substr(text, i * 64 + 1, 64)) AS frame_md5
      FROM f CROSS JOIN unnest(range(0, nf)) AS u(i)
      WHERE i < nf
      ORDER BY doc_id, frame_idx"""))

  /** q48 — IVF-style ANN: coarse quantizer = deterministic per-label
    * centroids (fixed-point means); every vector is assigned to its
    * nearest centroid cell (L2, rounded, label tie-break); search
    * probes only the query's cell. The inverted-file scale path next
    * to q41's hyperplane-LSH: cells partition the corpus, the probe
    * reads one partition.
    */
  val q48 = Q("q48_ann_ivf",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.load(s, dir, "embeddings")
      val cents = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("_pos", "_v")))
        .groupBy("label", "_pos")
        .agg((sum(round(col("_v").cast("double") * 1e6).cast("long")).cast("double")
          / count(col("_v")) / 1e6).as("c"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("_pos"), col("c")))),
          x => x.getField("c")).as("centroid"))
        .select(col("label").as("_cl"), col("centroid"))
      val dist2 = aggregate(
        zip_with(col("embedding"), col("centroid"),
          (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
        lit(0.0), (a, v) => a + v)
      val w = Window.partitionBy("vec_id").orderBy(col("_d").asc, col("_cl").asc)
      val assigned = emb.crossJoin(broadcast(cents))
        .withColumn("_d", round(dist2, 6))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("vec_id"), col("embedding"), col("_cl").as("cell"))
      val qcell = assigned.filter(col("vec_id") === 0)
        .select(col("embedding").as("_qvec"), col("cell").as("_qcell"))
      assigned.join(broadcast(qcell), col("cell") === col("_qcell"))
        .select(col("vec_id"), Similarity.cosine(col("embedding"), col("_qvec")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(5)
    },
    Some(s"""
      WITH cent AS (
        SELECT label, d,
               CAST(sum(CAST(round(CAST(embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / count(*) / 1000000.0 AS c
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS d) ds
        GROUP BY label, d),
      cl AS (SELECT label, list(c ORDER BY d) AS centroid FROM cent GROUP BY label),
      dist AS (SELECT e.vec_id, e.embedding, cl.label,
               round(list_reduce(list_transform(range(1, 65),
                 i -> (CAST(e.embedding[i] AS DOUBLE) - cl.centroid[i])
                      * (CAST(e.embedding[i] AS DOUBLE) - cl.centroid[i])),
                 (a, b) -> a + b), 6) AS dd
               FROM embeddings e CROSS JOIN cl),
      assigned AS (SELECT vec_id, embedding, label AS cell
                   FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                      ORDER BY dd, label) AS rn
                         FROM dist)
                   WHERE rn = 1),
      q AS (SELECT embedding AS qv, cell AS qc FROM assigned WHERE vec_id = 0)
      SELECT vec_id, ${duckCos("embedding", "qv")} AS cos_sim
      FROM assigned JOIN q ON cell = qc
      ORDER BY cos_sim DESC, vec_id ASC LIMIT 5"""))

  /** q49 — the full corpus-curation composition (quality → language →
    * exact dedup → MinHash near-dup removal) as one oracle-checked
    * query: the end-to-end pipeline a training-data user runs.
    */
  val q49 = Q("q49_curation",
    (s, dir) => graft.curation.CurationPipeline.curate(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        graft.curation.CurationPipeline.Config(minQuality = 0.5,
          allowedLangs = Seq("en"), nearDupJaccard = 0.5))
      .select("doc_id", "n_chars")
      .orderBy("doc_id"),
    Some {
      val sigExprs = Dedup.minhashCoeffs(12).map { case (a, b) =>
        s"list_min(list_transform(hl, h -> (${a} * h + ${b}) % ${Dedup.MinhashP}))"
      }.mkString("[", ",\n                ", "]")
      s"""
      WITH t AS (SELECT doc_id, text, n_chars, $duckTokens AS w FROM documents),
      sc AS (SELECT doc_id, text, n_chars, w,
             round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
                   / length(text), 6) AS pr,
             round(len(list_filter(w, x -> list_contains(['the','a','of','and'], x)))::DOUBLE
                   / len(w), 6) AS sr,
             len(list_filter(w, x -> list_contains(['the','a'], x))) AS s_en,
             len(list_filter(w, x -> list_contains(['der','und','das'], x))) AS s_de,
             len(list_filter(w, x -> list_contains(['el','los','que'], x))) AS s_es,
             len(list_filter(w, x -> list_contains(['le','la','et'], x))) AS s_fr,
             len(list_filter(w, x -> list_contains(['zh1','zh2'], x))) AS s_zh
             FROM t),
      f AS (SELECT doc_id, text, n_chars, w FROM sc
            WHERE round(0.4 * least(1.0, len(w)::DOUBLE / 100.0)
                        + 0.3 * (1.0 - pr) + 0.3 * sr, 6) >= 0.5
              AND CASE WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
                       WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
                       WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
                       WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
                       ELSE 'zh' END = 'en'),
      e AS (SELECT doc_id, text, n_chars, w FROM (
              SELECT *, row_number() OVER (
                PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                ORDER BY doc_id) AS rn
              FROM f) WHERE rn = 1),
      sh AS (SELECT doc_id,
             CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
                  ELSE list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) END AS g
             FROM e),
      hh AS (SELECT doc_id,
             list_distinct(list_transform(list_distinct(g), s2 -> ${duckHash64("s2")} & ${Dedup.MinhashP})) AS hl
             FROM sh),
      sig AS (SELECT doc_id, hl, $sigExprs AS sg FROM hh),
      bands AS (SELECT doc_id, b,
                ${duckHash64("'band' || b || '|' || sg[2*b+1] || '|' || sg[2*b+2]")} AS h
                FROM sig CROSS JOIN (SELECT unnest(range(0, 6)) AS b) bs),
      ok AS (SELECT b, h FROM bands GROUP BY b, h
             HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bands a JOIN ok ON a.b = ok.b AND a.h = ok.h
               JOIN bands b ON a.b = b.b AND a.h = b.h AND a.doc_id < b.doc_id),
      j AS (SELECT doc_a, doc_b,
            round(len(list_intersect(ga.hl, gb.hl))::DOUBLE /
                  (len(ga.hl) + len(gb.hl) - len(list_intersect(ga.hl, gb.hl))), 6) AS jac
            FROM cand JOIN hh ga ON doc_a = ga.doc_id JOIN hh gb ON doc_b = gb.doc_id),
      losers AS (SELECT DISTINCT doc_b FROM j WHERE jac >= 0.5)
      SELECT doc_id, n_chars FROM e
      WHERE doc_id NOT IN (SELECT doc_b FROM losers)
      ORDER BY doc_id"""
    })

  /** q58 — near-dup CLUSTERS: connected components over the q36 pair
    * graph (min-label propagation, O(diameter) rounds). Pair output
    * says who matches whom; components say which rows are the same
    * document family — canonical-per-cluster dedup, where greedy
    * pair-loser removal would keep every local-minimum doc of a family.
    * Oracle: the same pair CTEs + a recursive transitive closure, min
    * per reachable set.
    */
  val q58 = Q("q58_neardup_clusters",
    (s, dir) => {
      val pairs = Dedup.minhashLshPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 2, k = 12, rowsPerBand = 2, threshold = 0.2)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE $duckMinhashPairCtes,
      pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.2),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach(id, r) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)
      SELECT id AS doc_id, least(id, min(r)) AS cluster_id
      FROM reach GROUP BY id ORDER BY doc_id"""))

  /** q65 — int8 scalar quantization quality: per-vector symmetric
    * quantization (scale = max|v|/127) with reconstruction-error
    * stats — the 4× compression step an embedding store applies before
    * indexing, with the error bound that justifies it. Map-only: every
    * value is a per-row double fold/round (IEEE-deterministic in both
    * engines), no shuffle at any scale.
    */
  val q65 = Q("q65_quantize_int8",
    (s, dir) => {
      val v = col("embedding")
      val scale = Similarity.int8Scale(v)
      val err = Similarity.dequantError(v, Similarity.quantizeInt8(v, scale), scale)
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          round(scale, 6).as("scale"),
          round(array_max(err), 6).as("max_err"),
          round(aggregate(err, lit(0.0), (a, x) => a + x) / size(v), 6).as("mae"))
        .orderBy("vec_id")
    },
    Some("""
      WITH s AS (SELECT vec_id, embedding AS e,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
             FROM embeddings),
      q AS (SELECT vec_id, e, scale,
             list_transform(e, x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INT)) AS qv
             FROM s),
      err AS (SELECT vec_id, scale, len(e) AS n,
             list_transform(range(1, len(e) + 1),
               i -> abs(CAST(e[i] AS DOUBLE) - qv[i] * scale)) AS er
             FROM q)
      SELECT vec_id, round(scale, 6) AS scale,
             round(list_max(er), 6) AS max_err,
             round(list_reduce(er, (x, y) -> x + y) / n, 6) AS mae
      FROM err ORDER BY vec_id"""))

  /** q66 — batch kNN join: top-3 neighbours for EACH of 10 query
    * vectors in one job (the retrieval shape behind embedding-dedup
    * sweeps and eval retrieval). The query set is broadcast (bounded
    * by construction); scoring is map-side; only the skinny
    * (q_id, vec_id, cos) triples — never the vectors — cross the one
    * window shuffle on q_id. At larger Q the refinement is a bounded
    * per-partition top-k merge (heap in mapPartitions) before the
    * shuffle; the rank-filter here defines its exact output.
    */
  val q66 = Q("q66_knn_join",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          Similarity.cosine(col("embedding"), col("qv")).as("cos_sim"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(col("cos_sim").desc, col("vec_id").asc)).cast("long"))
        .filter(col("rk") <= 3)
        .select("q_id", "rk", "vec_id", "cos_sim")
        .orderBy("q_id", "rk")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      scored AS (SELECT q_id, vec_id, ${duckCos("embedding", "qv")} AS cos_sim
                 FROM embeddings CROSS JOIN q WHERE vec_id <> q_id),
      r AS (SELECT q_id, vec_id, cos_sim,
            row_number() OVER (PARTITION BY q_id
              ORDER BY cos_sim DESC, vec_id ASC) AS rk
            FROM scored)
      SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, cos_sim
      FROM r WHERE rk <= 3 ORDER BY q_id, rk"""))

  /** q74 — one k-means (Lloyd) step, fully distributed: the 4 seed
    * centroids (vec_id < 4) broadcast against the corpus; assignment
    * scores stay SKINNY — (vec_id, cid, dist) triples through the
    * argmin window, never the vectors (trap: carrying the embedding
    * through the ×4-fanout scoring would quadruple the array bytes in
    * the shuffle). Winners join the vectors back by id once, and the
    * new centroids use q45's fixed-point (label, dim) accumulation.
    * Distances are per-row double folds (vv − 2·v·c + cc), so
    * assignment is engine-exact; ties break to the lowest centroid id.
    */
  val q74 = Q("q74_kmeans_step",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val cent = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"))
      val scored = emb.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"),
          (Similarity.dotNative(col("embedding"), col("embedding"))
            - lit(2.0) * Similarity.dotNative(col("embedding"), col("cv"))
            + Similarity.dotNative(col("cv"), col("cv"))).as("dist"))
      val best = scored.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
            .orderBy(col("dist").asc, col("cid").asc)))
        .filter(col("rn") === 1)
        .select("vec_id", "cid")
      best.join(emb, Seq("vec_id"))
        .select(col("cid"), posexplode(col("embedding")).as(Seq("_pos", "_v")))
        .groupBy(col("cid"), (col("_pos") + 1).as("dim"))
        .agg(
          (sum(round(col("_v").cast("double") * 1e6).cast("long")).cast("double")
            / count(col("_v")) / 1e6).as("centroid"),
          count(col("_v")).as("n_vecs"))
        .orderBy("cid", "dim")
    },
    Some(s"""
      WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cv
                 FROM embeddings WHERE vec_id < 4),
      scored AS (SELECT vec_id, cid,
                 ${duckDot("embedding", "embedding")}
                   - 2.0 * ${duckDot("embedding", "cv")}
                   + ${duckDot("cv", "cv")} AS dist
                 FROM embeddings CROSS JOIN c),
      best AS (SELECT vec_id, cid FROM (
                 SELECT vec_id, cid, row_number() OVER (
                   PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
                 FROM scored) WHERE rn = 1)
      SELECT cid, d AS dim,
             CAST(sum(CAST(round(CAST(embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
               / count(*) / 1000000.0 AS centroid,
             count(*) AS n_vecs
      FROM embeddings JOIN best USING (vec_id)
      CROSS JOIN (SELECT unnest(range(1, 65)) AS d) ds
      GROUP BY cid, d ORDER BY cid, dim"""))

  /** q114 — canonical selection per near-dup cluster: q58's connected
    * components joined with q34's quality scores; each document family
    * keeps its highest-quality member (doc_id breaks exact ties). This
    * is the survivor policy real curation uses instead of keep-first —
    * a cluster of a clean original plus OCR-mangled mirrors should
    * keep the original, wherever it sits in scan order.
    *
    * Plan shape on top of the cluster step: one linear join of the
    * (doc_id, cluster_id) relation with per-row quality, then a
    * per-cluster window — partitions are cluster-sized (bounded by
    * family size, not corpus size). Quality ties are REAL here (near
    * dups score identically), which is why the window order carries
    * the doc_id tiebreak; both engines round quality to 1e-6 first,
    * so the tie set itself is identical.
    */
  /** q169 — embedding-space eval decontamination: the SEMANTIC twin of
    * the shingle-based q62/q91 contamination checks. Training vectors
    * that collide with any eval vector in the q40-family hyperplane-LSH
    * buckets (6 seeded tables × 3 planes) are exactly cosine-verified;
    * a training doc whose best match clears the threshold is flagged
    * with that argmax eval id. Paraphrased leakage shares no shingles —
    * this is the check that catches it.
    *
    * Scale: eval sets are bounded (a few thousand vectors regardless of
    * corpus size), so the eval bucket table AND the eval verification
    * vectors ride broadcasts; the 100 TB training side is touched once,
    * map-side, and only bucket-collision candidates pay the exact
    * cosine — the same no-cartesian discipline as every ANN query here.
    * Candidate recall is the banded-LSH bound (1−(1−(1−θ/π)³)⁶ per
    * pair); the oracle replays the identical seeded buckets, so the
    * gate is exact over the same candidate set. The argmax ties break
    * on (cos_sim DESC, eval_id ASC) over the 6-dp-rounded cosine —
    * deterministic in both engines.
    */
  val q169 = Q("q169_embed_contamination",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tables = 6; val planes = 3
      val emb = Tables.load(s, dir, "embeddings")
        .withColumn("_norm", sqrt(Similarity.dotNative(col("embedding"), col("embedding"))))
        .localCheckpoint(false) // three consumers: two bucket sides + verify
      def buckets(df: org.apache.spark.sql.DataFrame, idAs: String) =
        df.select(col("vec_id").as(idAs),
          posexplode(array((0 until tables).map(t =>
            Similarity.hyperplaneBucketSeeded(col("embedding"), 64, planes, s"q169t$t")): _*))
            .as(Seq("_t", "_bk")))
      val ev = emb.filter(pmod(col("vec_id"), lit(97)) === 0)
      val tr = emb.filter(pmod(col("vec_id"), lit(97)) =!= 0)
      val cand = buckets(tr, "train_id")
        .join(broadcast(buckets(ev, "eval_id")), Seq("_t", "_bk"))
        .select("train_id", "eval_id").distinct()
      cand
        .join(emb.select(col("vec_id").as("train_id"),
          col("embedding").as("vt"), col("_norm").as("nt")), Seq("train_id"))
        .join(broadcast(ev.select(col("vec_id").as("eval_id"),
          col("embedding").as("ve"), col("_norm").as("ne"))), Seq("eval_id"))
        .select(col("train_id"), col("eval_id"),
          round(Similarity.dotNative(col("vt"), col("ve")) / (col("nt") * col("ne")), 6)
            .as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
        .withColumn("_rn", row_number().over(Window.partitionBy("train_id")
          .orderBy(col("cos_sim").desc, col("eval_id").asc)))
        .filter(col("_rn") === 1)
        .select("train_id", "eval_id", "cos_sim")
        .orderBy("train_id")
    },
    Some {
      val tables = 6; val planes = 3
      def planeLit(seed: String, p: Int) = (1 to 64).map { d =>
        val n = Hashing.hash64Local(s"$seed:p$p:d$d") % 2001 - 1000
        s"(${n}.0/1000.0)"
      }.mkString("[", ",", "]")
      val bucketExprs = (0 until tables).map { t =>
        val bits = (0 until planes).map { p =>
          s"""CASE WHEN list_reduce(list_transform(range(1, 65),
             d -> CAST(embedding[d] AS DOUBLE) * (${planeLit(s"q169t$t", p)}[d])), (a, b) -> a + b) > 0
             THEN ${1 << p} ELSE 0 END"""
        }.mkString(" + ")
        s"CAST($bits AS INTEGER) AS bk$t"
      }.mkString(",\n             ")
      val bkCase = (0 until tables).map(t => s"WHEN $t THEN bk$t").mkString(" ")
      s"""
      WITH n AS (SELECT vec_id, embedding,
                        sqrt(${duckDot("embedding", "embedding")}) AS nrm,
             $bucketExprs
             FROM embeddings),
      bk AS (SELECT vec_id, t, CASE t $bkCase END AS bkt
             FROM n CROSS JOIN (SELECT unnest(range(0, $tables)) AS t) ts),
      cand AS (SELECT DISTINCT tr.vec_id AS train_id, ev.vec_id AS eval_id
               FROM bk tr
               JOIN bk ev ON tr.t = ev.t AND tr.bkt = ev.bkt
               WHERE tr.vec_id % 97 <> 0 AND ev.vec_id % 97 = 0),
      p AS (SELECT train_id, eval_id,
            round(${duckDot("na.embedding", "nb.embedding")} / (na.nrm * nb.nrm), 6) AS cos_sim
            FROM cand JOIN n na ON train_id = na.vec_id JOIN n nb ON eval_id = nb.vec_id)
      SELECT train_id, eval_id, cos_sim FROM p WHERE cos_sim >= 0.3
      QUALIFY row_number() OVER (PARTITION BY train_id
        ORDER BY cos_sim DESC, eval_id ASC) = 1
      ORDER BY train_id"""
    })

  /** q170 — leakage-free train/valid/test split: q94's deterministic
    * 90/5/5 hash split, but keyed on the NEAR-DUP CLUSTER id (q58's
    * MinHash-LSH + connected components; singletons are their own
    * cluster), so near-duplicate documents can never straddle the
    * split — the leak a per-doc hash split structurally cannot rule
    * out, and the reason eval numbers go soft. The output carries the
    * proof: `leaky_clusters` (clusters touching >1 split) is 0 by
    * construction, re-checked by the oracle.
    *
    * Scale: LSH + CC is the q58 path (bucketed candidates, O(rounds)
    * label propagation); the split itself is map-only on cluster_id
    * and the summary is a tiny (3 × sources) aggregate. The leakage
    * audit is one extra groupBy on cluster_id that re-enters as a
    * broadcast single row.
    */
  val q170 = Q("q170_leakage_free_split",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 2, k = 12, rowsPerBand = 2, threshold = 0.2)
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      val withCluster = docs.select("doc_id")
        .join(cc, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val bucket = pmod(Hashing.hash64(concat(lit("csplit|"),
        col("cluster_id").cast("string"))), lit(100L))
      val assigned = withCluster.withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test"))
      val leaky = assigned.groupBy("cluster_id")
        .agg(countDistinct("split").as("_ns"))
        .agg(sum(when(col("_ns") > 1, 1L).otherwise(0L)).as("leaky_clusters"))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("cluster_id").as("n_clusters"))
        .crossJoin(broadcast(leaky))
        .orderBy("split")
    },
    Some(s"""
      WITH RECURSIVE $duckMinhashPairCtes,
      prs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.2),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
                UNION ALL SELECT doc_b, doc_a FROM prs),
      reach(id, r) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
      cc AS (SELECT id AS doc_id, least(id, min(r)) AS cluster_id
             FROM reach GROUP BY id),
      d AS (SELECT documents.doc_id,
                   coalesce(cc.cluster_id, documents.doc_id) AS cluster_id
            FROM documents LEFT JOIN cc USING (doc_id)),
      a AS (SELECT doc_id, cluster_id,
              CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'valid'
                   ELSE 'test' END AS split
            FROM (SELECT *,
                    ${duckHash64("concat('csplit|', CAST(cluster_id AS VARCHAR))")} % 100 AS b
                  FROM d)),
      l AS (SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS leaky_clusters
            FROM (SELECT cluster_id, count(DISTINCT split) AS ns
                  FROM a GROUP BY 1))
      SELECT split, count(*) AS n_docs,
             count(DISTINCT cluster_id) AS n_clusters, leaky_clusters
      FROM a CROSS JOIN l
      GROUP BY split, leaky_clusters ORDER BY split"""))

  /** q172 — stale-embedding detection: text near-dup pairs (q58's
    * MinHash-LSH candidates, exact-Jaccard verified) whose EMBEDDINGS
    * disagree (cosine below threshold). In a maintained embedding
    * store, two near-identical texts must embed near-identically; a
    * pair where the text says "duplicate" but the vectors say
    * "unrelated" is a stale or corrupted cache entry — this is the
    * invalidation audit an embedding-backed dedup/ANN stack runs after
    * model upgrades or partial re-embeds.
    *
    * Scale: the pair relation is LSH-bounded (never all-pairs); each
    * pair fetches two vectors through id equi-joins and pays one
    * 64-dim dot. Jaccard rides raw (exact rational, the q36
    * precedent), cosine at the 6-dp round.
    */
  val q172 = Q("q172_stale_embeddings",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 2, k = 12, rowsPerBand = 2, threshold = 0.2)
      val emb = Tables.load(s, dir, "embeddings")
        .withColumn("_norm", sqrt(Similarity.dotNative(col("embedding"), col("embedding"))))
      pairs
        .join(emb.select(col("vec_id").as("id_a"),
          col("embedding").as("va"), col("_norm").as("na")), Seq("id_a"))
        .join(emb.select(col("vec_id").as("id_b"),
          col("embedding").as("vb"), col("_norm").as("nb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("jaccard"),
          round(Similarity.dotNative(col("va"), col("vb")) / (col("na") * col("nb")), 6)
            .as("cos_sim"))
        .filter(col("cos_sim") < 0.8)
        .orderBy("id_a", "id_b")
    },
    Some(s"""
      WITH $duckMinhashPairCtes,
      prs AS (SELECT doc_a AS id_a, doc_b AS id_b, jaccard FROM j
              WHERE jaccard >= 0.2),
      n AS (SELECT vec_id, embedding,
                   sqrt(${duckDot("embedding", "embedding")}) AS nrm
            FROM embeddings)
      SELECT id_a, id_b, jaccard,
             round(${duckDot("na.embedding", "nb.embedding")} / (na.nrm * nb.nrm), 6)
               AS cos_sim
      FROM prs JOIN n na ON id_a = na.vec_id JOIN n nb ON id_b = nb.vec_id
      WHERE round(${duckDot("na.embedding", "nb.embedding")} / (na.nrm * nb.nrm), 6) < 0.8
      ORDER BY id_a, id_b"""))

  /** Deterministic grayscale test-card per document, for the real-codec
    * queries (q174/q175): content is keyed by doc_id % 50 (so exactly 50
    * distinct images exist at every scale — genuine near-dup clusters),
    * a uniform brightness shift is keyed by doc_id % 40, and dims run
    * 13–28 × 11–23 (never multiples of the 8×8 / 4×4 target grids, so
    * nearest-neighbor resize hits uneven strides).
    * pixel = (k·37 + x·7 + y·13 + ((x·y) mod 31)·5) mod 201 + shift —
    * bounded ≤ 239, so the shift never wraps and stays uniform.
    */
  private def synthCard(docId: Long): (Int, Int, (Int, Int) => Int) = {
    val k = (docId % 50).toInt
    val shift = (docId % 40).toInt
    val w = 13 + k % 16
    val h = 11 + k % 13
    (w, h, (x, y) => (k * 37 + x * 7 + y * 13 + ((x * y) % 31) * 5) % 201 + shift)
  }

  /** (doc_id, payload) with payload = the test-card encoded to REAL PNG
    * bytes through the JDK's ImageIO writer — downstream queries must
    * run an actual PNG decode to get the pixels back.
    */
  private def synthPngPayloads(s: SparkSession, dir: String): DataFrame =
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val (w, h, f) = synthCard(id)
      MultimodalCodec.encodeGrayPng(w, h, f)
    }

  /** q174 — media thumbnailing with a REAL codec: each document's
    * test-card is encoded to actual PNG bytes and decoded back through
    * `javax.imageio` before a pixel-true nearest-neighbor resize to 4×4
    * ([[MultimodalCodec.thumbnail]]). The oracle replays the card
    * formula plus the integer sampling arithmetic directly — so the
    * gate proves encode → real PNG decode → pixel resize equals pure
    * arithmetic, byte-exact rather than merely self-consistent.
    * Map-only, one codec pass per partition; zero shuffles.
    */
  val q174 = Q("q174_media_resize",
    (s, dir) =>
      MultimodalCodec.thumbnail(synthPngPayloads(s, dir), "doc_id", "payload", 4, 4)
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, doc_id % 50 AS k, doc_id % 40 AS s,
                        13 + (doc_id % 50) % 16 AS w, 11 + (doc_id % 50) % 13 AS h
                 FROM documents)
      SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             array_to_string(list_transform(range(16), i ->
               printf('%02x', (k*37 + (((i % 4) * w) // 4) * 7 + (((i // 4) * h) // 4) * 13
                               + (((((i % 4) * w) // 4) * (((i // 4) * h) // 4)) % 31) * 5) % 201 + s)),
               '') AS thumb_hex
      FROM p ORDER BY doc_id"""))

  /** q175 — perceptual near-dup grouping by average hash: payloads run
    * through the real PNG decode, hash to the 8×8 aHash
    * ([[MultimodalCodec.aHash64]]), and group by hash value. The
    * fixture plants TRUE near-dups — same card content (doc_id % 50) at
    * different uniform brightness (doc_id % 40) — and aHash's
    * integer-exact mean compare is provably brightness-invariant, so
    * each bucket collects visually-identical images that byte-level
    * md5/minhash would scatter; `n_brightness > 1` in the output is the
    * carried proof. The oracle replays card + sampling + hash-bit
    * arithmetic, nibble by nibble. Decode is map-only; the only
    * shuffle is the 50-bucket hash groupBy.
    */
  val q175 = Q("q175_image_ahash_dedup",
    (s, dir) =>
      MultimodalCodec.decodeImageFeatures(synthPngPayloads(s, dir), "doc_id", "payload")
        .groupBy("ahash_hex")
        .agg(count(lit(1)).as("n_imgs"),
          min("doc_id").as("canonical_doc"),
          countDistinct(pmod(col("doc_id"), lit(40L))).as("n_brightness"))
        .orderBy("ahash_hex"),
    Some("""
      WITH p AS (SELECT doc_id, doc_id % 50 AS k, doc_id % 40 AS s,
                        13 + (doc_id % 50) % 16 AS w, 11 + (doc_id % 50) % 13 AS h
                 FROM documents),
      g AS (SELECT doc_id, s,
              list_transform(range(64), i ->
                (k*37 + (((i % 8) * w) // 8) * 7 + (((i // 8) * h) // 8) * 13
                 + (((((i % 8) * w) // 8) * (((i // 8) * h) // 8)) % 31) * 5) % 201 + s) AS px
            FROM p),
      b AS (SELECT doc_id, s,
              list_transform(px, v -> CASE WHEN v * 64 > list_sum(px) THEN 1 ELSE 0 END) AS bits
            FROM g),
      hx AS (SELECT doc_id, s,
              array_to_string(list_transform(range(16), j ->
                substr('0123456789abcdef',
                  CAST(bits[4*j+1]*8 + bits[4*j+2]*4 + bits[4*j+3]*2 + bits[4*j+4] + 1 AS INT), 1)),
                '') AS ahash_hex
             FROM b)
      SELECT ahash_hex, CAST(count(*) AS BIGINT) AS n_imgs,
             CAST(min(doc_id) AS BIGINT) AS canonical_doc,
             CAST(count(DISTINCT s) AS BIGINT) AS n_brightness
      FROM hx GROUP BY ahash_hex ORDER BY ahash_hex"""))

  /** q173 — the FULL curation composition with the decontamination
    * stage wired in: quality → language → exact dedup → near-dup
    * removal → eval decontamination (drop survivors whose
    * trigram-shingle overlap with the held-out eval set reaches 5%).
    * This is q49 extended to what a production pipeline actually ships
    * — curated AND clean of benchmark leakage — exercising
    * `CurationPipeline.curate(evalDocs = …)` end-to-end against one
    * oracle. Eval docs ride raw (a benchmark is given as-is, never
    * curated); the overlap join follows Dedup.shingleOverlapVsEval's
    * size-guarded broadcast.
    */
  val q173 = Q("q173_curation_decontam",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.curation.CurationPipeline.curate(
          docs.filter(pmod(col("doc_id"), lit(97)) =!= 0), "doc_id", "text",
          graft.curation.CurationPipeline.Config(minQuality = 0.5,
            allowedLangs = Seq("en"), nearDupJaccard = 0.5, maxEvalOverlap = 0.05),
          evalDocs = Some(docs.filter(pmod(col("doc_id"), lit(97)) === 0)))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },
    Some {
      val sigExprs = Dedup.minhashCoeffs(12).map { case (a, b) =>
        s"list_min(list_transform(hl, h -> (${a} * h + ${b}) % ${Dedup.MinhashP}))"
      }.mkString("[", ",\n                ", "]")
      s"""
      WITH t AS (SELECT doc_id, text, n_chars, $duckTokens AS w FROM documents
                 WHERE doc_id % 97 <> 0),
      sc AS (SELECT doc_id, text, n_chars, w,
             round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
                   / length(text), 6) AS pr,
             round(len(list_filter(w, x -> list_contains(['the','a','of','and'], x)))::DOUBLE
                   / len(w), 6) AS sr,
             len(list_filter(w, x -> list_contains(['the','a'], x))) AS s_en,
             len(list_filter(w, x -> list_contains(['der','und','das'], x))) AS s_de,
             len(list_filter(w, x -> list_contains(['el','los','que'], x))) AS s_es,
             len(list_filter(w, x -> list_contains(['le','la','et'], x))) AS s_fr,
             len(list_filter(w, x -> list_contains(['zh1','zh2'], x))) AS s_zh
             FROM t),
      f AS (SELECT doc_id, text, n_chars, w FROM sc
            WHERE round(0.4 * least(1.0, len(w)::DOUBLE / 100.0)
                        + 0.3 * (1.0 - pr) + 0.3 * sr, 6) >= 0.5
              AND CASE WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
                       WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
                       WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
                       WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
                       ELSE 'zh' END = 'en'),
      e AS (SELECT doc_id, text, n_chars, w FROM (
              SELECT *, row_number() OVER (
                PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                ORDER BY doc_id) AS rn
              FROM f) WHERE rn = 1),
      sh AS (SELECT doc_id,
             CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
                  ELSE list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) END AS g
             FROM e),
      hh AS (SELECT doc_id,
             list_distinct(list_transform(list_distinct(g), s2 -> ${duckHash64("s2")} & ${Dedup.MinhashP})) AS hl
             FROM sh),
      sig AS (SELECT doc_id, hl, $sigExprs AS sg FROM hh),
      bands AS (SELECT doc_id, b,
                ${duckHash64("'band' || b || '|' || sg[2*b+1] || '|' || sg[2*b+2]")} AS h
                FROM sig CROSS JOIN (SELECT unnest(range(0, 6)) AS b) bs),
      ok AS (SELECT b, h FROM bands GROUP BY b, h
             HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bands a JOIN ok ON a.b = ok.b AND a.h = ok.h
               JOIN bands b ON a.b = b.b AND a.h = b.h AND a.doc_id < b.doc_id),
      j AS (SELECT doc_a, doc_b,
            round(len(list_intersect(ga.hl, gb.hl))::DOUBLE /
                  (len(ga.hl) + len(gb.hl) - len(list_intersect(ga.hl, gb.hl))), 6) AS jac
            FROM cand JOIN hh ga ON doc_a = ga.doc_id JOIN hh gb ON doc_b = gb.doc_id),
      losers AS (SELECT DISTINCT doc_b FROM j WHERE jac >= 0.5),
      surv AS (SELECT doc_id, n_chars, w FROM e
               WHERE doc_id NOT IN (SELECT doc_b FROM losers)),
      evt AS (SELECT doc_id, $duckTokens AS w FROM documents WHERE doc_id % 97 = 0),
      evs AS (SELECT doc_id,
              CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                   ELSE list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS g
              FROM evt),
      evg AS (SELECT DISTINCT unnest(list_distinct(list_transform(list_distinct(g),
                s2 -> ${duckHash64("s2")} & ${Dedup.MinhashP}))) AS h
              FROM evs),
      tsh AS (SELECT doc_id,
              CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                   ELSE list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS g
              FROM surv),
      thh AS (SELECT doc_id,
              list_distinct(list_transform(list_distinct(g),
                s2 -> ${duckHash64("s2")} & ${Dedup.MinhashP})) AS hs
              FROM tsh),
      ovx AS (SELECT doc_id, len(hs) AS n_grams, unnest(hs) AS h FROM thh),
      ov AS (SELECT ovx.doc_id, any_value(ovx.n_grams) AS n_grams,
                    count(evg.h) AS n_overlap
             FROM ovx LEFT JOIN evg USING (h) GROUP BY ovx.doc_id),
      dirty AS (SELECT doc_id FROM ov
                WHERE round(n_overlap::DOUBLE / n_grams, 6) >= 0.05)
      SELECT doc_id, n_chars FROM surv
      WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
      ORDER BY doc_id"""
    })

  /** q176 — incremental curation, oracle-gated per-doc: one new batch
    * (doc_id ≡ 0 mod 5, eval docs excluded) curated against the
    * already-ingested fingerprint store (the other non-eval docs) with
    * the eval corpus (doc_id ≡ 0 mod 97) as decontamination guard —
    * `CurationPipeline.curateIncrementalTagged` end-to-end. The output
    * is every batch doc with its outcome tag, so the oracle re-derives
    * the FULL decision tree (quality score, language id, store
    * fingerprint membership, within-batch keeper, trigram eval
    * overlap) — a wrong outcome anywhere in the cascade flips a row.
    * This is q81's CDC shape promoted to the whole pipeline: the batch
    * shuffles once on the fingerprint (store join + keeper window share
    * the key); the 100 TB corpus itself is never re-read beyond the
    * store's join side.
    */
  val q176 = Q("q176_incremental_curation",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val isEval = pmod(col("doc_id"), lit(97)) === 0
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0 && !isEval)
      val store = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0 && !isEval)
        .select(TA.contentFingerprint(col("text")).as("_fp"))
      graft.curation.CurationPipeline.curateIncrementalTagged(
          batch, store, "doc_id", "text",
          graft.curation.CurationPipeline.Config(maxEvalOverlap = 0.05),
          evalDocs = Some(docs.filter(isEval)))
        .select(col("doc_id"), col("outcome"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, text, $duckTokens AS w,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
                 FROM documents WHERE doc_id % 5 = 0 AND doc_id % 97 <> 0),
      storefp AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
                  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 97 <> 0),
      sc AS (SELECT doc_id, w, fp,
             round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
                   / length(text), 6) AS pr,
             round(len(list_filter(w, x -> list_contains(['the','a','of','and'], x)))::DOUBLE
                   / len(w), 6) AS sr,
             len(list_filter(w, x -> list_contains(['the','a'], x))) AS s_en,
             len(list_filter(w, x -> list_contains(['der','und','das'], x))) AS s_de,
             len(list_filter(w, x -> list_contains(['el','los','que'], x))) AS s_es,
             len(list_filter(w, x -> list_contains(['le','la','et'], x))) AS s_fr,
             len(list_filter(w, x -> list_contains(['zh1','zh2'], x))) AS s_zh
             FROM t),
      d AS (SELECT doc_id, w, fp,
              (round(0.4 * least(1.0, len(w)::DOUBLE / 100.0)
                     + 0.3 * (1.0 - pr) + 0.3 * sr, 6) >= 0.5) AS q_ok,
              (CASE WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
                    WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
                    WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
                    ELSE 'zh' END = 'en') AS l_ok,
              (fp IN (SELECT fp FROM storefp)) AS in_store
            FROM sc),
      k AS (SELECT *, min(CASE WHEN q_ok AND l_ok AND NOT in_store THEN doc_id END)
                OVER (PARTITION BY fp) AS keeper
            FROM d),
      cand AS (SELECT doc_id, w FROM k
               WHERE q_ok AND l_ok AND NOT in_store AND doc_id = keeper),
      evt AS (SELECT doc_id, $duckTokens AS w FROM documents WHERE doc_id % 97 = 0),
      evs AS (SELECT doc_id,
              CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                   ELSE list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS g
              FROM evt),
      evg AS (SELECT DISTINCT unnest(list_distinct(list_transform(list_distinct(g),
                s2 -> ${duckHash64("s2")} & ${Dedup.MinhashP}))) AS h
              FROM evs),
      tsh AS (SELECT doc_id,
              CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                   ELSE list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS g
              FROM cand),
      thh AS (SELECT doc_id,
              list_distinct(list_transform(list_distinct(g),
                s2 -> ${duckHash64("s2")} & ${Dedup.MinhashP})) AS hs
              FROM tsh),
      ovx AS (SELECT doc_id, len(hs) AS n_grams, unnest(hs) AS h FROM thh),
      ov AS (SELECT ovx.doc_id, any_value(ovx.n_grams) AS n_grams,
                    count(evg.h) AS n_overlap
             FROM ovx LEFT JOIN evg USING (h) GROUP BY ovx.doc_id),
      dirty AS (SELECT doc_id FROM ov
                WHERE round(n_overlap::DOUBLE / n_grams, 6) >= 0.05)
      SELECT doc_id,
             CASE WHEN NOT q_ok THEN 'quality_fail'
                  WHEN NOT l_ok THEN 'lang_fail'
                  WHEN in_store THEN 'store_dup'
                  WHEN doc_id <> keeper THEN 'batch_dup'
                  WHEN doc_id IN (SELECT doc_id FROM dirty) THEN 'contaminated'
                  ELSE 'kept' END AS outcome
      FROM k ORDER BY doc_id"""))

  /** Deterministic mono waveform per document, for the real-container
    * audio queries (q177/q178): content is keyed by doc_id % 50 (50
    * distinct waveforms at every scale — genuine near-dup clusters), a
    * uniform integer gain is keyed by doc_id % 7, lengths run 64–120
    * samples (≥ 64 so every envelope bucket is nonempty, never a
    * multiple of 64 so bucketing hits uneven strides), and sample
    * rates cycle 8/16/24 kHz.
    * sample_j = (((k·61 + j·37) mod 401) − 200) · g — bounded ±1400,
    * well inside Int16, and gain factors out of |sample| exactly.
    */
  private def synthWave(docId: Long): (Int, Array[Short]) = {
    val k = (docId % 50).toInt
    val g = 1 + (docId % 7).toInt
    val n = 64 + k % 57
    val sr = 8000 * (1 + k % 3)
    val samples = new Array[Short](n)
    var j = 0
    while (j < n) {
      samples(j) = ((((k * 61 + j * 37) % 401) - 200) * g).toShort
      j += 1
    }
    (sr, samples)
  }

  /** (doc_id, payload) with payload = the waveform encoded to REAL
    * RIFF/WAVE bytes — downstream queries must run an actual container
    * chunk-walk to get the samples back.
    */
  private def synthWavPayloads(s: SparkSession, dir: String): DataFrame =
    // unfanned (r16): the WAV encode+decode is ~100 samples/doc — the
    // fan-out exchange was pure fixed cost on these sub-second queries
    // (q178 flagged perf_weak at 2.1x its frozen baseline in r15)
    Payloads.synth(Tables.docIds(s, dir)) { id =>
      val (sr, samples) = synthWave(id)
      AudioCodec.encodePcmWav(sr, 1, samples)
    }

  /** q177 — audio decode with a REAL container parse: each document's
    * waveform is encoded to actual RIFF/WAVE bytes and decoded back
    * through [[AudioCodec.decodePcmWav]]'s chunk-walk before
    * integer-exact magnitude/sign stats. The oracle replays the
    * waveform formula arithmetically — so the gate proves encode →
    * real WAV decode → sample math equals pure arithmetic, byte-exact
    * (possible precisely because PCM is lossless; MP3/AAC could only
    * ever be self-consistent). Map-only, one parser pass per
    * partition; zero shuffles.
    */
  val q177 = Q("q177_audio_decode",
    (s, dir) =>
      AudioCodec.decodeAudioFeatures(synthWavPayloads(s, dir), "doc_id", "payload")
        .select("doc_id", "sample_rate", "n_samples", "sum_abs", "peak_abs",
          "zero_crossings")
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, doc_id % 50 AS k, 1 + doc_id % 7 AS g FROM documents),
      d AS (SELECT doc_id, k, g, 64 + (k % 57) AS n, 8000 * (1 + k % 3) AS sr FROM p),
      s AS (SELECT doc_id, k, g, n, sr, unnest(range(n)) AS j FROM d),
      v AS (SELECT doc_id, n, sr, j, (((k*61 + j*37) % 401) - 200) * g AS val FROM s),
      w AS (SELECT doc_id, n, sr, val,
              lag(val) OVER (PARTITION BY doc_id ORDER BY j) AS pv FROM v)
      SELECT doc_id, CAST(any_value(sr) AS INT) AS sample_rate,
             CAST(any_value(n) AS BIGINT) AS n_samples,
             CAST(sum(abs(val)) AS BIGINT) AS sum_abs,
             CAST(max(abs(val)) AS BIGINT) AS peak_abs,
             CAST(count(CASE WHEN val * pv < 0 THEN 1 END) AS BIGINT) AS zero_crossings
      FROM w GROUP BY doc_id ORDER BY doc_id"""))

  /** q178 — audio near-dup grouping by energy envelope: payloads run
    * through the real WAV decode, hash to the 64-bucket envelope
    * fingerprint ([[AudioCodec.envelopeHash64]]), and group by hash.
    * The fixture plants TRUE near-dups — the same waveform (doc_id %
    * 50) at seven integer gains (doc_id % 7) — and the hash's
    * integer-exact mean compare is provably gain-invariant, so each
    * bucket collects same-sounding clips that byte-level md5 would
    * scatter; `n_gains > 1` in the output is the carried proof (the
    * 1-D twin of q175's brightness-invariant aHash). The oracle
    * replays bucket-sum + hash-bit arithmetic, nibble by nibble.
    * Decode is map-only; the only shuffle is the ≤50-bucket groupBy.
    */
  val q178 = Q("q178_audio_envelope_dedup",
    (s, dir) =>
      AudioCodec.decodeAudioFeatures(synthWavPayloads(s, dir), "doc_id", "payload")
        .groupBy("envelope_hex")
        .agg(count(lit(1)).as("n_clips"),
          min("doc_id").as("canonical_doc"),
          countDistinct(pmod(col("doc_id"), lit(7L))).as("n_gains"))
        .orderBy("envelope_hex"),
    Some("""
      WITH p AS (SELECT doc_id, doc_id % 50 AS k, 1 + doc_id % 7 AS g FROM documents),
      d AS (SELECT doc_id, k, g, 64 + (k % 57) AS n FROM p),
      s AS (SELECT doc_id, k, g, n, unnest(range(n)) AS j FROM d),
      v AS (SELECT doc_id, n, j, abs((((k*61 + j*37) % 401) - 200) * g) AS a FROM s),
      be AS (SELECT doc_id, (j*64)//n AS b, sum(a) AS eb FROM v GROUP BY doc_id, (j*64)//n),
      tot AS (SELECT doc_id, sum(eb) AS te FROM be GROUP BY doc_id),
      bt AS (SELECT be.doc_id, b, CASE WHEN eb*64 > te THEN 1 ELSE 0 END AS bit
             FROM be JOIN tot ON be.doc_id = tot.doc_id),
      bl AS (SELECT doc_id, list(bit ORDER BY b) AS bits FROM bt GROUP BY doc_id),
      hx AS (SELECT doc_id,
               array_to_string(list_transform(range(16), q ->
                 substr('0123456789abcdef',
                   CAST(bits[4*q+1]*8 + bits[4*q+2]*4 + bits[4*q+3]*2 + bits[4*q+4] + 1 AS INT), 1)),
                 '') AS envelope_hex
             FROM bl)
      SELECT envelope_hex, CAST(count(*) AS BIGINT) AS n_clips,
             CAST(min(doc_id) AS BIGINT) AS canonical_doc,
             CAST(count(DISTINCT doc_id % 7) AS BIGINT) AS n_gains
      FROM hx GROUP BY envelope_hex ORDER BY envelope_hex"""))

  /** Deterministic clip per document, for the real-container video
    * query (q179): content keyed by doc_id % 50, widths 12–20 (mostly
    * NOT multiples of 4, so DIB's 4-byte row stride is exercised on
    * every decode), heights 10–16, 3–6 frames, and a per-frame drift
    * term so motion energy is nonzero and frame-order-sensitive.
    * pixel(x,y,t) = (k·37 + x·7 + y·13 + t·29) mod 211 — 8-bit safe.
    */
  private def synthAviPayloads(s: SparkSession, dir: String): DataFrame =
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      val w = 12 + k % 9
      val h = 10 + k % 7
      val f = 3 + k % 4
      val frames = (0 until f).map(t =>
        Array.tabulate(w * h)(i =>
          (k * 37 + (i % w) * 7 + (i / w) * 13 + t * 29) % 211))
      VideoCodec.encodeDibAvi(w, h, 10, frames)
    }

  /** q179 — video decode with a REAL container parse: each document's
    * clip is encoded to actual RIFF/AVI bytes (uncompressed 8-bit DIB
    * frames — a true 1992-vintage video format, lossless by
    * construction) and decoded back through
    * [[VideoCodec.decodeDibAvi]]'s nested-LIST chunk-walk, undoing
    * DIB's bottom-up row order and stride padding, before integer
    * temporal features. `motion_abs` — the exact Σ|frame_t −
    * frame_{t−1}| — is the scene-change/static-clip signal a media
    * curation pipeline filters on; the oracle replays the pixel
    * formula at t and t−1 arithmetically, so a parser that flipped
    * row order, mis-strode a row, or dropped/reordered a frame fails
    * the gate. Map-only, one parser pass per partition; zero shuffles.
    */
  val q179 = Q("q179_video_motion",
    (s, dir) =>
      VideoCodec.decodeVideoFeatures(synthAviPayloads(s, dir), "doc_id", "payload")
        .select("doc_id", "n_frames", "width", "height", "sum_first", "motion_abs")
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      d AS (SELECT doc_id, k, 12 + k % 9 AS w, 10 + k % 7 AS h, 3 + k % 4 AS f FROM p),
      s AS (SELECT doc_id, k, w, h, f, unnest(range(f)) AS t FROM d),
      px AS (SELECT doc_id, k, w, h, f, t, unnest(range(w*h)) AS i FROM s),
      v AS (SELECT doc_id, w, h, f, t,
              (k*37 + (i % w)*7 + (i // w)*13 + t*29) % 211 AS cur,
              (k*37 + (i % w)*7 + (i // w)*13 + (t-1)*29) % 211 AS prev
            FROM px)
      SELECT doc_id, CAST(any_value(f) AS BIGINT) AS n_frames,
             CAST(any_value(w) AS INT) AS width,
             CAST(any_value(h) AS INT) AS height,
             CAST(sum(CASE WHEN t = 0 THEN cur ELSE 0 END) AS BIGINT) AS sum_first,
             CAST(sum(CASE WHEN t > 0 THEN abs(cur - prev) ELSE 0 END) AS BIGINT) AS motion_abs
      FROM v GROUP BY doc_id ORDER BY doc_id"""))

  /** Deterministic IMA ADPCM bitstream per document for q181: the
    * 4-bit nibble stream itself is the formula (k-keyed, like every
    * media fixture), wrapped in a real tag-0x11 WAV container. Because
    * the GROUND TRUTH is the bitstream — not pre-compression samples —
    * the lossy codec's decode has an exact arithmetic oracle: the
    * oracle replays the published step-table expansion sample by
    * sample in SQL and must land on identical integers.
    */
  private def synthAdpcmPayloads(s: SparkSession, dir: String): DataFrame =
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      val nn = 48 + k % 57
      val sr = 8000 * (1 + k % 3)
      val pred0 = (k * 127) % 1024 - 512
      val idx0 = (k * 13) % 89
      val nibbles = Array.tabulate(nn)(j => (k * 7 + j * 5) % 16)
      AudioCodec.encodeImaAdpcmWav(sr, Seq((pred0, idx0, nibbles)))
    }

  /** q181 — REAL lossy-codec decode, oracle-gated: IMA ADPCM (WAV tag
    * 0x11) payloads run through [[AudioCodec.decodeImaAdpcmWav]]'s
    * chunk-walk + 89-step-table expansion into the same integer
    * feature family as q177. ADPCM is lossy, but its DECODE is pure
    * deterministic integer arithmetic — so unlike MP3/AAC the oracle
    * can replay it independently: a recursive CTE steps the
    * (predictor, index) state machine over the same nibble formula
    * with the step/index tables as SQL literals. Any divergence in
    * clamping, nibble order (low-first), sign bit, or table content
    * fails the hash compare. Decode is map-only per partition; the
    * 64-deep recursion is over documents × samples — trivially
    * parallel at any corpus size.
    */
  val q181 = Q("q181_adpcm_decode",
    (s, dir) =>
      AudioCodec.decodeAudioFeatures(synthAdpcmPayloads(s, dir), "doc_id", "payload")
        .select("doc_id", "sample_rate", "n_samples", "sum_abs", "peak_abs",
          "zero_crossings")
        .orderBy("doc_id"),
    Some("""
      WITH RECURSIVE
      p AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      d AS (SELECT doc_id, k, 48 + (k % 57) AS nn, 8000 * (1 + (k % 3)) AS sr,
              ((k * 127) % 1024) - 512 AS pred0, (k * 13) % 89 AS idx0 FROM p),
      st AS (SELECT [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,
                     34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,
                     157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,
                     724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,
                     2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,
                     9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,
                     27086,29794,32767] AS s),
      it AS (SELECT [-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8] AS t),
      dec(doc_id, j, pred, idx) AS (
        SELECT doc_id, 0, pred0, idx0 FROM d
        UNION ALL
        SELECT dec.doc_id, j + 1,
          GREATEST(-32768, LEAST(32767, pred
            + CASE WHEN ((k*7 + j*5) % 16) >= 8 THEN -1 ELSE 1 END
            * (s[idx+1] // 8
               + CASE WHEN ((k*7 + j*5) % 16) % 2 = 1 THEN s[idx+1] // 4 ELSE 0 END
               + CASE WHEN (((k*7 + j*5) % 16) // 2) % 2 = 1 THEN s[idx+1] // 2 ELSE 0 END
               + CASE WHEN ((k*7 + j*5) % 16) % 8 >= 4 THEN s[idx+1] ELSE 0 END))),
          GREATEST(0, LEAST(88, idx + t[((k*7 + j*5) % 16) + 1]))
        FROM dec JOIN d USING (doc_id), st, it WHERE j < nn),
      w AS (SELECT doc_id, j, pred,
              lag(pred) OVER (PARTITION BY doc_id ORDER BY j) AS pv FROM dec)
      SELECT d.doc_id, CAST(any_value(sr) AS INT) AS sample_rate,
             CAST(any_value(nn) + 1 AS BIGINT) AS n_samples,
             CAST(sum(abs(pred)) AS BIGINT) AS sum_abs,
             CAST(max(abs(pred)) AS BIGINT) AS peak_abs,
             CAST(count(CASE WHEN pred * pv < 0 THEN 1 END) AS BIGINT) AS zero_crossings
      FROM w JOIN d ON w.doc_id = d.doc_id
      GROUP BY d.doc_id ORDER BY d.doc_id"""))

  /** Deterministic Motion-JPEG clip per document for q182: flat frames
    * at luma 220 ("bright") or 30 ("dark"), alternating per frame
    * except every fifth content key, which is all-bright (a static
    * clip). Flat frames are the right fixture for a LOSSY codec with
    * an exact oracle: JPEG reproduces a constant block to within a
    * couple of gray levels, so thresholds at mean>128 and the
    * static-motion test sit two orders of magnitude clear of the
    * compression error.
    */
  private def synthMjpegPayloads(s: SparkSession, dir: String): DataFrame =
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      val w = 16 + k % 9
      val h = 12 + k % 7
      val f = 3 + k % 4
      val frames = (0 until f).map { t =>
        val bright = k % 5 == 0 || (k + t) % 2 == 0
        Array.fill(w * h)(if (bright) 220 else 30)
      }
      VideoCodec.encodeMjpegAvi(w, h, 10, frames)
    }

  /** q182 — REAL compressed-video decode, oracle-gated on structure:
    * Motion-JPEG AVI payloads (every frame an actual ImageIO JPEG —
    * DCT, quantization, Huffman) run through
    * [[VideoCodec.decodeMjpegAvi]]'s container walk + JPEG decode.
    * Lossy codecs can't be replayed arithmetically in SQL, so the
    * oracle pins what survives compression exactly: frame count and
    * dimensions (container parse), per-frame brightness classification
    * and the static-clip test (decoded luma with two-orders-of-
    * magnitude margins). A decoder that drops/reorders frames,
    * mis-sizes, or garbles JPEG luma fails; JPEG's ±2 gray levels on
    * flat frames cannot. Map-only, one parser pass per partition.
    */
  val q182 = Q("q182_mjpeg_structure",
    (s, dir) =>
      VideoCodec.decodeVideoLumaStats(synthMjpegPayloads(s, dir), "doc_id", "payload")
        .select(col("doc_id"), col("n_frames"), col("width"), col("height"),
          col("bright_frames"),
          (col("motion_abs") < col("width").cast("long") * col("height") * 95L)
            .as("is_static"))
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      d AS (SELECT doc_id, k, 16 + k % 9 AS w, 12 + k % 7 AS h, 3 + k % 4 AS f FROM p),
      t AS (SELECT doc_id, k, f, unnest(range(f)) AS t FROM d),
      b AS (SELECT doc_id,
              CASE WHEN k % 5 = 0 OR (k + t) % 2 = 0 THEN 1 ELSE 0 END AS br
            FROM t)
      SELECT d.doc_id, CAST(any_value(f) AS BIGINT) AS n_frames,
             CAST(any_value(w) AS INT) AS width,
             CAST(any_value(h) AS INT) AS height,
             CAST(sum(br) AS BIGINT) AS bright_frames,
             any_value(k % 5 = 0) AS is_static
      FROM b JOIN d USING (doc_id) GROUP BY d.doc_id ORDER BY d.doc_id"""))

  /** Deterministic RLE8 clip per document for q188: frame 0 is the
    * q179 base formula; every later frame rewrites EXACTLY ONE row
    * ((t*3 + k) mod h, k-staggered so docs differ) with a t-keyed
    * formula and carries every other pixel forward. Most of each
    * delta frame is therefore prior-frame content the encoder never
    * emits — the fixture that forces the decoder's persistent canvas
    * (skipped pixel ⇒ wrong value ⇒ hash mismatch), i.e. real
    * inter-frame decode under an exact oracle.
    */
  private def synthRle8Payloads(s: SparkSession, dir: String): DataFrame =
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      val w = 12 + k % 9
      val h = 10 + k % 7
      val f = 3 + k % 4
      val frames = new Array[Array[Int]](f)
      frames(0) = Array.tabulate(w * h)(i =>
        (k * 37 + (i % w) * 7 + (i / w) * 13) % 211)
      var t = 1
      while (t < f) {
        frames(t) = frames(t - 1).clone()
        val y = (t * 3 + k) % h
        var x = 0
        while (x < w) { frames(t)(y * w + x) = (k * 53 + x * 11 + t * 17) % 199; x += 1 }
        t += 1
      }
      VideoCodec.encodeRle8Avi(w, h, 10, frames.toSeq)
    }

  /** q188 — REAL inter-frame video decode, exactly oracle-gated:
    * Microsoft RLE8 AVI payloads (fourcc 'mrle', biCompression =
    * BI_RLE8 — the delta codec Video for Windows shipped) run through
    * [[VideoCodec.decodeRle8Avi]]. Delta frames encode only changed
    * pixels; everything else is a positional skip the decoder must
    * satisfy from the PREVIOUS frame's canvas — the same
    * reference-frame dependency H.264's P-frames scale up, but
    * lossless, so unlike perceptual codecs the oracle replays the
    * pixel values arithmetically: for each frame the value of a row
    * is determined by its LAST WRITER (the most recent frame that
    * rewrote it, else the base frame), reconstructed in SQL with a
    * self-join over the write schedule. A decoder that dropped a
    * skip, cleared the canvas between frames, or mis-walked an
    * escape diverges on `motion_abs`/`sum_first` and fails the hash
    * compare. Map-only, one parser pass per partition; zero shuffles.
    */
  val q188 = Q("q188_rle8_interframe",
    (s, dir) =>
      VideoCodec.decodeVideoFeatures(synthRle8Payloads(s, dir), "doc_id", "payload")
        .select("doc_id", "n_frames", "width", "height", "sum_first", "motion_abs")
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      d AS (SELECT doc_id, k, 12 + k % 9 AS w, 10 + k % 7 AS h, 3 + k % 4 AS f FROM p),
      b AS (SELECT doc_id, k, w, h, unnest(range(w*h)) AS i FROM d),
      s0 AS (SELECT doc_id, sum((k*37 + (i % w)*7 + (i // w)*13) % 211) AS sum_first
             FROM b GROUP BY doc_id),
      wy AS (SELECT doc_id, k, w, h, t, (t*3 + k) % h AS y
             FROM (SELECT doc_id, k, w, h, unnest(range(1, f)) AS t FROM d)),
      pv AS (SELECT a.doc_id, a.k, a.w, a.t, a.y, max(b2.t) AS pt
             FROM wy a LEFT JOIN wy b2
               ON a.doc_id = b2.doc_id AND b2.y = a.y AND b2.t < a.t
             GROUP BY a.doc_id, a.k, a.w, a.t, a.y),
      xx AS (SELECT doc_id, k, t, y, pt, unnest(range(w)) AS x FROM pv),
      mo AS (SELECT doc_id,
               sum(abs( (k*53 + x*11 + t*17) % 199
                 - CASE WHEN pt IS NULL THEN (k*37 + x*7 + y*13) % 211
                        ELSE (k*53 + x*11 + pt*17) % 199 END )) AS motion_abs
             FROM xx GROUP BY doc_id)
      SELECT d.doc_id, CAST(d.f AS BIGINT) AS n_frames, CAST(d.w AS INT) AS width,
             CAST(d.h AS INT) AS height, CAST(s0.sum_first AS BIGINT) AS sum_first,
             CAST(COALESCE(mo.motion_abs, 0) AS BIGINT) AS motion_abs
      FROM d JOIN s0 USING (doc_id) LEFT JOIN mo USING (doc_id)
      ORDER BY doc_id"""))

  /** Deterministic µ-law bitstream per document for q189 — like the
    * ADPCM fixture, the ground truth is the COMPRESSED byte stream
    * (b(j) = (k·11 + j·7) mod 256), wrapped in a real tag-7 WAV, so
    * the lossy codec's decode gates exactly.
    */
  private def synthMulawPayloads(s: SparkSession, dir: String): DataFrame =
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      val n = 48 + k % 57
      val sr = 8000 * (1 + k % 3)
      val ulaw = Array.tabulate(n)(j => (k * 11 + j * 7) % 256)
      AudioCodec.encodeMulawWav(sr, ulaw)
    }

  /** q189 — G.711 µ-law decode, exactly oracle-gated: tag-7 WAV
    * payloads (PCMU — the telephone network's companding codec) run
    * through [[AudioCodec.decodeMulawWav]]'s chunk-walk + per-byte
    * expansion into the q177/q181 feature family. µ-law is lossy, but
    * where ADPCM's decode needed a recursive-CTE state machine, µ-law
    * expands each byte INDEPENDENTLY by one closed-form integer
    * expression — the oracle inlines sign/exponent/mantissa extraction
    * and ±(((mant·8 + 132) << exp) − 132) as plain SQL arithmetic. Any
    * divergence in bit complement, bias, or segment shift hash-fails.
    * Map-only, one parser pass per partition; zero shuffles.
    */
  val q189 = Q("q189_mulaw_decode",
    (s, dir) =>
      AudioCodec.decodeAudioFeatures(synthMulawPayloads(s, dir), "doc_id", "payload")
        .select("doc_id", "sample_rate", "n_samples", "sum_abs", "peak_abs",
          "zero_crossings")
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      d AS (SELECT doc_id, k, 48 + k % 57 AS n, 8000 * (1 + k % 3) AS sr FROM p),
      s AS (SELECT doc_id, k, n, sr, unnest(range(n)) AS j FROM d),
      u AS (SELECT doc_id, n, sr, j, 255 - ((k*11 + j*7) % 256) AS u FROM s),
      v AS (SELECT doc_id, n, sr, j,
              CASE WHEN u >= 128 THEN -(((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132)
                   ELSE ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132 END AS smp
            FROM u),
      w AS (SELECT doc_id, n, sr, smp,
              lag(smp) OVER (PARTITION BY doc_id ORDER BY j) AS pv FROM v)
      SELECT doc_id, CAST(any_value(sr) AS INT) AS sample_rate,
             CAST(any_value(n) AS BIGINT) AS n_samples,
             CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
             CAST(max(abs(smp)) AS BIGINT) AS peak_abs,
             CAST(count(CASE WHEN smp * pv < 0 THEN 1 END) AS BIGINT) AS zero_crossings
      FROM w GROUP BY doc_id ORDER BY doc_id"""))

  /** q193 — per-label simplified silhouette (centroid-based): for each
    * vector, a = distance to its OWN label centroid, b = distance to
    * the nearest OTHER centroid, s = (b−a)/max(a,b); reported as the
    * per-label mean — the standard clustering-quality readout
    * (silhouette > 0 ⇔ the label is geometrically coherent) for an
    * embedding corpus with cluster/label structure, in the LINEAR
    * centroid form (the exact silhouette is all-pairs quadratic — a
    * non-starter at corpus scale; the centroid form is what sklearn
    * users fall back to for the same reason).
    *
    * Plan: one (label, dim) shuffle builds the ≤|labels| centroid
    * arrays, broadcast; every vector computes its |labels| distances
    * map-side (per-dim squared differences quantized to 1e-12
    * fixed-point longs, summed in one codegen'd `aggregate` — exact,
    * order-independent); one (vec) rollup takes a²/min b², one (label)
    * rollup means the quantized scores. Nothing pairwise, nothing
    * driver-side.
    */
  val q193 = Q("q193_silhouette",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val cent = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("_pos", "_v")))
        .groupBy(col("label"), col("_pos"))
        .agg((sum(round(col("_v").cast("double") * 1e6).cast("long")).cast("double")
          / count(col("_v")) / 1e6).as("c"))
        .groupBy(col("label").as("clabel"))
        .agg(expr("transform(array_sort(collect_list(struct(_pos, c))), x -> x.c)")
          .as("cvec"))
      emb.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("label"), col("clabel"),
          expr("""aggregate(transform(sequence(0, size(embedding) - 1),
              d -> CAST(round((CAST(element_at(embedding, d + 1) AS DOUBLE)
                               - element_at(cvec, d + 1))
                            * (CAST(element_at(embedding, d + 1) AS DOUBLE)
                               - element_at(cvec, d + 1)) * 1e12) AS BIGINT)),
            CAST(0 AS BIGINT), (acc, t) -> acc + t)""").as("d2q"))
        .groupBy("vec_id", "label")
        .agg(max(when(col("clabel") === col("label"), col("d2q"))).as("a2"),
          min(when(col("clabel") =!= col("label"), col("d2q"))).as("b2"))
        .select(col("label"),
          ((sqrt(col("b2").cast("double") / 1e12) - sqrt(col("a2").cast("double") / 1e12))
            / greatest(sqrt(col("a2").cast("double") / 1e12),
              sqrt(col("b2").cast("double") / 1e12))).as("s"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(round(col("s") * 1e9).cast("long")).cast("double")
            / count(lit(1)) / 1e9, 6).as("mean_silhouette"))
        .orderBy("label")
    },
    Some("""
      WITH cd AS (SELECT label, d,
              CAST(sum(CAST(round(CAST(embedding[d] AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE)
                / count(*) / 1e6 AS c
            FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS d) ds
            GROUP BY label, d),
      cv AS (SELECT label AS clabel, list(c ORDER BY d) AS cvec FROM cd GROUP BY label),
      dd AS (SELECT e.vec_id, e.label, cv.clabel,
               list_sum(list_transform(range(1, 65),
                 d -> CAST(round((CAST(e.embedding[d] AS DOUBLE) - cv.cvec[d])
                               * (CAST(e.embedding[d] AS DOUBLE) - cv.cvec[d])
                               * 1e12) AS BIGINT))) AS d2q
             FROM embeddings e CROSS JOIN cv),
      ab AS (SELECT vec_id, label,
               max(CASE WHEN clabel = label THEN d2q END) AS a2,
               min(CASE WHEN clabel <> label THEN d2q END) AS b2
             FROM dd GROUP BY vec_id, label),
      sc AS (SELECT label,
               (sqrt(CAST(b2 AS DOUBLE) / 1e12) - sqrt(CAST(a2 AS DOUBLE) / 1e12))
                 / greatest(sqrt(CAST(a2 AS DOUBLE) / 1e12),
                            sqrt(CAST(b2 AS DOUBLE) / 1e12)) AS s
             FROM ab)
      SELECT label, count(*) AS n_vecs,
             round(CAST(sum(CAST(round(s * 1e9) AS BIGINT)) AS DOUBLE)
               / count(*) / 1e9, 6) AS mean_silhouette
      FROM sc GROUP BY label ORDER BY label"""))

  /** q195 — G.711 A-law decode, the second companding law (WAV tag 6,
    * the European/international twin of q189's µ-law — together they
    * close the whole G.711 family): even bits arrive inverted
    * (XOR 0x55), sign bit 1 means POSITIVE, segment 0 is linear and
    * higher segments double. Same bitstream-as-ground-truth fixture
    * and closed-form SQL oracle as q189; the two laws' different bit
    * conventions mean a decoder that confused them fails both gates.
    */
  val q195 = Q("q195_alaw_decode",
    (s, dir) => {
      val gz = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val n = 48 + k % 57
        val alaw = Array.tabulate(n)(j => (k * 13 + j * 11) % 256)
        AudioCodec.encodeAlawWav(8000, alaw)
      }
      AudioCodec.decodeAudioFeatures(gz, "doc_id", "payload")
        .select("doc_id", "sample_rate", "n_samples", "sum_abs", "peak_abs",
          "zero_crossings")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
      d AS (SELECT doc_id, k, 48 + k % 57 AS n FROM p),
      s AS (SELECT doc_id, k, n, unnest(range(n)) AS j FROM d),
      u AS (SELECT doc_id, n, j, xor((k*13 + j*11) % 256, 85) AS a FROM s),
      m AS (SELECT doc_id, n, j, a,
              CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
                   ELSE ((a % 16) * 16 + 264) * (1 << ((a // 16) % 8 - 1)) END AS mag
            FROM u),
      v AS (SELECT doc_id, n, j,
              CASE WHEN a >= 128 THEN mag ELSE -mag END AS smp FROM m),
      w AS (SELECT doc_id, n, smp,
              lag(smp) OVER (PARTITION BY doc_id ORDER BY j) AS pv FROM v)
      SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
             CAST(any_value(n) AS BIGINT) AS n_samples,
             CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
             CAST(max(abs(smp)) AS BIGINT) AS peak_abs,
             CAST(count(CASE WHEN smp * pv < 0 THEN 1 END) AS BIGINT) AS zero_crossings
      FROM w GROUP BY doc_id ORDER BY doc_id"""))

  /** q194 — gzip-compressed corpus scan: each document's text is
    * stored as REAL gzip bytes (RFC 1952 / DEFLATE — LZ77 + canonical
    * Huffman, the framing of every web-crawl and log archive) and
    * decoded through [[TextCodec.decodeTextPayloads]]'s capped
    * inflater before the standard text features run UNCHANGED on the
    * decompressed column. Because DEFLATE is lossless, the oracle
    * needs no codec at all: it computes the same features directly on
    * the plain `documents` table — any inflater fault, charset slip,
    * or silent truncation (the bomb cap rejects, never trims)
    * hash-fails against text that must match byte-for-byte. Map-only
    * decode, zero shuffles.
    */
  val q194 = Q("q194_gzip_corpus",
    (s, dir) => {
      import s.implicits._
      val gz = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions(it => it.map { case (id, t) => (id, TextCodec.gzipUtf8(t)) })
        .toDF("doc_id", "payload")
      TextCodec.decodeTextPayloads(gz, "doc_id", "payload")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          size(TA.tokens(col("text"))).cast("long").as("n_ws_tokens"),
          TA.rollingFingerprint(col("text")).as("roll_fp"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, text,
             list_transform($duckTokens, x -> ${duckHash64("x")} & ${Dedup.MinhashP}) AS hs
             FROM documents)
      SELECT doc_id,
             length(text) AS n_chars,
             CAST(len($duckTokens) AS BIGINT) AS n_ws_tokens,
             CASE WHEN len(hs) = 0 THEN 0
                  ELSE list_reduce(hs, (acc, h) -> (acc * 131 + h) % ${Dedup.MinhashP})
             END AS roll_fp
      FROM t ORDER BY doc_id"""))

  val q114 = Q("q114_cluster_canonical",
    (s, dir) => {
      // r16: fan once for BOTH consumers — minhashLshPairs fans its
      // own input anyway, and the quality-score pass otherwise fuses
      // into a one-task scan (424 ms single-task stage measured)
      val docs = graft.operators.ScaleOps.fanIfNarrow(
        Tables.load(s, dir, "documents"), col("doc_id"))
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 2, k = 12, rowsPerBand = 2, threshold = 0.2)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      val quality = docs.select(col("doc_id"),
        TA.qualityScore(col("text"), stopwords).as("q"))
      // r15 opt: count + deterministic argmax in ONE hash aggregate
      // (graft_max_any) instead of an exchange + sort + two windows;
      // (q desc, doc_id asc) argmax ≡ max of struct(q, −doc_id)
      clusters.join(quality, Seq("doc_id"))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"),
          call_function("graft_max_any",
            struct(col("q"), (-col("doc_id")).as("_nd"))).as("_m"))
        .select(col("cluster_id"), col("n_docs"),
          (-col("_m._nd")).as("canonical_doc"),
          col("_m.q").as("canonical_quality"))
        .orderBy("cluster_id")
    },
    Some(s"""
      WITH RECURSIVE $duckMinhashPairCtes,
      pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.2),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach(id, r) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
      cl AS (SELECT id AS doc_id, least(id, min(r)) AS cluster_id
             FROM reach GROUP BY id),
      tq AS (SELECT doc_id, $duckTokens AS w,
               round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
                     / length(text), 6) AS punct_ratio
             FROM documents),
      qual AS (SELECT doc_id,
                 round(0.4 * least(1.0, len(w)::DOUBLE / 100.0)
                   + 0.3 * (1.0 - punct_ratio)
                   + 0.3 * round(len(list_filter(w, x -> list_contains(${duckList(stopwords)}, x)))::DOUBLE
                                 / len(w), 6), 6) AS q
               FROM tq)
      SELECT cluster_id,
             count(*) OVER (PARTITION BY cluster_id) AS n_docs,
             doc_id AS canonical_doc, q AS canonical_quality
      FROM cl JOIN qual USING (doc_id)
      QUALIFY row_number() OVER (
        PARTITION BY cluster_id ORDER BY q DESC, doc_id ASC) = 1
      ORDER BY cluster_id"""))

  /** q197 — Unicode NFC normalization (TR-15 canonical composition)
    * via the codegen'd `graft_nfc` expression. Web corpora mix
    * composed (U+00E9 'é') and decomposed (U+0065 U+0301) encodings of
    * the same visible text; every hash-keyed operator (exact-dup
    * fingerprints, MinHash shingles, token counts) sees them as
    * different bytes, so curation normalizes first. The corpus is
    * ASCII, so the query derives decomposed text deterministically
    * in-plan (e → e+COMBINING ACUTE, a → a+COMBINING RING ABOVE) and
    * normalizes it back; the oracle replays the same derivation and
    * gates with DuckDB's independent `nfc_normalize` (utf8proc — a
    * different implementation of the same standard, which is the
    * point). Map-only, no shuffle besides the output sort; the
    * kernel's quick-check fast path returns already-normal text
    * without allocating, so the production no-op case costs one scan.
    */
  val q197 = Q("q197_nfc_normalize",
    (s, dir) => {
      Tables.load(s, dir, "documents")
        .withColumn("_dec",
          replace(replace(col("text"), lit("e"), lit("é")),
            lit("a"), lit("å")))
        .withColumn("_norm", call_function("graft_nfc", col("_dec")))
        .select(col("doc_id"),
          length(col("_dec")).cast("long").as("n_decomposed"),
          length(col("_norm")).cast("long").as("n_composed"),
          (col("_norm") =!= col("_dec")).as("recomposed"),
          md5(col("_norm").cast("binary")).as("norm_md5"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id,
             replace(replace(text, 'e', 'e' || chr(769)), 'a', 'a' || chr(778)) AS dec
           FROM documents),
      n AS (SELECT doc_id, dec, nfc_normalize(dec) AS norm FROM d)
      SELECT doc_id,
             CAST(length(dec) AS BIGINT) AS n_decomposed,
             CAST(length(norm) AS BIGINT) AS n_composed,
             norm <> dec AS recomposed,
             md5(norm) AS norm_md5
      FROM n ORDER BY doc_id"""))

  /** q204 — HYBRID lexical+fingerprint retrieval fusion (RRF, k=60)
    * against query doc 0: ranker A is word-trigram shingle overlap
    * (`graft_intersect_count` on the compiled shingle-hash sets, the
    * BM25-family lexical signal), ranker B is 16-bit SimHash hamming
    * distance (the fingerprint/embedding-family signal). q146 fuses
    * two DENSE-vector rankings (exact vs int8-dequantized); this is
    * the other production pair — sparse lexical against a bitwise
    * fingerprint, where score calibration is impossible and RRF's
    * rank-only combination is the standard answer. Σ round(1e6/(60+rank)) per ranking keeps
    * the fused score an exact integer.
    *
    * Scale: each ranking pre-truncates to its top-200 candidates via
    * orderBy+limit (TakeOrderedAndProject — per-partition heaps, no
    * global sort); the global row_number then ranks 200 rows, a
    * bounded whitelisted window. The query side broadcasts as a
    * 1-row dimension; the corpus side never self-joins.
    */
  val q204 = Q("q204_hybrid_fusion",
    (s, dir) => {
      val sh = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          call_function("graft_shingle_hashes", col("text"), lit(3)).as("hs"),
          Dedup.simhash(col("text"), 16).as("sh"))
      val q0 = sh.filter(col("doc_id") === 0)
        .select(col("hs").as("q_hs"), col("sh").as("q_sh"))
      val scored = sh.filter(col("doc_id") =!= 0)
        .crossJoin(broadcast(q0))
        .select(col("doc_id"),
          call_function("graft_intersect_count", col("hs"), col("q_hs"))
            .cast("long").as("overlap"),
          expr("CAST(bit_count(sh ^ q_sh) AS BIGINT)").as("hamming"))
        .localCheckpoint(false) // feeds both rankings
      val rankA = scored.orderBy(desc("overlap"), col("doc_id")).limit(200)
        .withColumn("rank_lex",
          row_number().over(Window.orderBy(desc("overlap"), col("doc_id"))))
        .select("doc_id", "rank_lex")
      val rankB = scored.orderBy(col("hamming"), col("doc_id")).limit(200)
        .withColumn("rank_fp",
          row_number().over(Window.orderBy(col("hamming"), col("doc_id"))))
        .select("doc_id", "rank_fp")
      rankA.join(rankB, Seq("doc_id"), "full_outer")
        .withColumn("rrf_micro",
          expr("coalesce(CAST(round(1000000 / (60 + rank_lex)) AS BIGINT), 0) + " +
            "coalesce(CAST(round(1000000 / (60 + rank_fp)) AS BIGINT), 0)"))
        .orderBy(desc("rrf_micro"), col("doc_id"))
        .limit(50)
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $duckTokens AS w FROM documents),
      sgrams AS (SELECT doc_id,
             CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                  ELSE list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS g
             FROM t),
      hh AS (SELECT doc_id,
             list_distinct(list_transform(list_distinct(g),
               s -> ${duckHash64("s")} & ${Dedup.MinhashP})) AS hs
             FROM sgrams),
      sim AS (SELECT t.doc_id,
             CAST(list_sum(list_transform(range(0, 16), b ->
               CASE WHEN list_sum(list_transform(
                      list_transform(list_distinct(w), x -> ${duckHash64("x")}),
                      v -> ((v >> b) & 1) * 2 - 1)) > 0
                    THEN 1 << b ELSE 0 END)) AS BIGINT) AS sh
             FROM t),
      scored AS (
        SELECT h.doc_id,
               CAST(len(list_intersect(h.hs, q.hs)) AS BIGINT) AS overlap,
               CAST(bit_count(xor(s.sh, qs.sh))       AS BIGINT) AS hamming
        FROM hh h JOIN sim s ON h.doc_id = s.doc_id,
             (SELECT hs FROM hh WHERE doc_id = 0) q,
             (SELECT sh FROM sim WHERE doc_id = 0) qs
        WHERE h.doc_id <> 0),
      ra AS (SELECT doc_id, row_number() OVER (ORDER BY overlap DESC, doc_id) AS rank_lex
             FROM scored ORDER BY overlap DESC, doc_id LIMIT 200),
      rb AS (SELECT doc_id, row_number() OVER (ORDER BY hamming ASC, doc_id) AS rank_fp
             FROM scored ORDER BY hamming ASC, doc_id LIMIT 200)
      SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
             CAST(ra.rank_lex AS INT) AS rank_lex,
             CAST(rb.rank_fp AS INT) AS rank_fp,
             coalesce(CAST(round(1000000 / (60 + ra.rank_lex)) AS BIGINT), 0) +
             coalesce(CAST(round(1000000 / (60 + rb.rank_fp)) AS BIGINT), 0) AS rrf_micro
      FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
      ORDER BY rrf_micro DESC, doc_id LIMIT 50"""))

  // --------------------------------------------------------------- q230

  /** q230 — reliability diagram + Brier decomposition inputs for a
    * nearest-centroid classifier on the embeddings table: train a
    * one-vs-rest "label 0" centroid on the even-id half, score the
    * odd-id half by cosine, and report the calibration curve (per
    * decile bin: predicted vs observed positive rate) with per-bin
    * Brier mass — the model-eval primitive that says WHERE a score is
    * over/under-confident, feeding q210's isotonic recalibration.
    *
    * Determinism: the centroid's per-dim mean goes through
    * DECIMAL(28,6) sums (dsum's recipe — order-independent), is cast
    * to float32 (both engines round the same binary value), and every
    * cosine rounds 6dp via the proven graft_dot ↔ list_reduce fold;
    * downstream everything is integer: the Brier term is
    * (pm − 1e6·y)² on the micro-probability (a chained double multiply
    * here diverged in the last ulp between engines — FMA contraction),
    * and bin stats are exact integer divisions.
    *
    * Scale: one posexplode + 64-row groupBy for the centroid (map-side
    * partials), the centroid re-enters broadcast, scoring is map-only,
    * and the final rollup is 10 bins.
    */
  val q230 = Q("q230_reliability_brier",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          when(col("label") === 0, 1L).otherwise(0L).as("y"))
      val cent = emb.filter(pmod(col("vec_id"), lit(2)) === 0 && col("y") === 1)
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("dim")
        // per-value integer micro quantization BEFORE summing: Spark's
        // float→DECIMAL cast rounds the float's shortest string repr
        // while DuckDB rounds the exact binary value — they disagree on
        // string-tie values. round() on the (exact) float→double value
        // is the same operation in both engines, and integer sums are
        // order-independent. micro/1e6 at the end is one IEEE division
        // both engines agree on.
        .agg(sum(expr("CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT)")).as("_sm"),
          count(lit(1)).as("_c"))
        .withColumn("_cm", expr(
          "CASE WHEN _sm < 0 THEN -((-_sm) div _c) ELSE _sm div _c END"))
        .select(col("dim"), expr("CAST(_cm AS DOUBLE) / 1e6").as("cv"))
        .agg(sort_array(collect_list(struct(col("dim"), col("cv")))).as("_a"))
        .select(expr("transform(_a, p -> CAST(p.cv AS FLOAT))").as("cvec"))
      emb.filter(pmod(col("vec_id"), lit(2)) === 1)
        .crossJoin(broadcast(cent))
        .withColumn("_s", graft.operators.Similarity.cosine(col("embedding"), col("cvec")))
        // p = (s+1)/2 lands on a 7th-decimal tie for half the 6dp
        // scores, and Spark's round() rounds the double's SHORTEST
        // STRING while DuckDB rounds the binary value — so p is
        // derived in integer HALF-MICRO units instead (no rounding
        // after the one proven round(s·1e6))
        .withColumn("_pmh", expr("CAST(round(_s * 1e6) AS BIGINT) + 1000000"))
        .select(col("y"),
          expr("least(CAST(_pmh div 200000 AS INT), 9)").as("bin"),
          expr("_pmh div 2").as("_pm"))
        // Brier term from the INTEGER micro-probability — (pm−1e6·y)²
        // is exact int64; a chained double multiply here diverged in
        // the last ulp between engines (FMA contraction)
        .withColumn("_br", expr("(_pm - 1000000 * y) * (_pm - 1000000 * y)"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
          expr("sum(_pm) div count(*)").as("mean_p_micro"),
          expr("(1000000 * sum(y)) div count(*)").as("obs_rate_micro"),
          sum("_br").as("brier_micro2_sum"))
        .orderBy("bin")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, embedding,
                        CASE WHEN label = 0 THEN CAST(1 AS BIGINT)
                             ELSE CAST(0 AS BIGINT) END AS y
                 FROM embeddings),
      tr AS (SELECT embedding FROM e WHERE vec_id % 2 = 0 AND y = 1),
      cd0 AS (SELECT i.i AS dim,
                     CAST(sum(CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1e6)
                       AS BIGINT)) AS BIGINT) AS sm,
                     CAST(count(*) AS BIGINT) AS c
              FROM tr, unnest(range(1, len(embedding) + 1)) AS i(i)
              GROUP BY 1),
      cd AS (SELECT dim,
                    CAST(CASE WHEN sm < 0 THEN -((-sm) // c)
                         ELSE sm // c END AS DOUBLE) / 1e6 AS cv
             FROM cd0),
      cent AS (SELECT list(CAST(cv AS FLOAT) ORDER BY dim) AS cvec FROM cd),
      sc AS (SELECT e.y,
                    round(${duckDot("e.embedding", "cent.cvec")}
                      / (sqrt(${duckDot("e.embedding", "e.embedding")})
                         * sqrt(${duckDot("cent.cvec", "cent.cvec")})), 6) AS s
             FROM e CROSS JOIN cent WHERE e.vec_id % 2 = 1),
      p AS (SELECT y, CAST(round(s * 1e6) AS BIGINT) + 1000000 AS pmh FROM sc),
      b AS (SELECT least(CAST(pmh // 200000 AS INT), 9) AS bin, y,
                   pmh // 2 AS pm
            FROM p),
      b2 AS (SELECT bin, y, pm,
                    (pm - 1000000 * y) * (pm - 1000000 * y) AS br
             FROM b)
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(pm) AS BIGINT) // count(*) AS mean_p_micro,
             (1000000 * CAST(sum(y) AS BIGINT)) // count(*) AS obs_rate_micro,
             CAST(sum(br) AS BIGINT) AS brier_micro2_sum
      FROM b2 GROUP BY bin ORDER BY bin"""))

  // --------------------------------------------------------------- q296

  /** q296 — maximal marginal relevance (MMR) re-ranking: take the
    * top-30 cosine shortlist for a query vector, then greedily pick
    * 10 results maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-picked (λ=0.7) — the diversity re-rank every RAG
    * retrieval stack runs so the context window isn't 10 copies of
    * the same passage (Carbonell & Goldstein '98).
    *
    * Scale split: relevance scoring + top-30 is the distributed part
    * (brute-force scan, TakeOrdered — q39's shape; swap in the LSH
    * shortlist at corpus scale); the greedy re-rank is O(k·n²) on the
    * BOUNDED shortlist, so it runs as one task-local fold over the
    * collected (rels, sim-matrix) arrays — never a driver loop, never
    * a per-round job. All similarities are micro-quantized longs, so
    * the argmax (ties → better-relevance position) is exact; the
    * oracle replays the identical fold via list_reduce.
    */
  val q296 = Q("q296_mmr_rerank",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
        .withColumn("_norm", sqrt(Similarity.dotNative(col("embedding"), col("embedding"))))
        .localCheckpoint(false) // query pick + relevance scan + pair sims
      val qv = emb.orderBy("vec_id").limit(1)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("_norm").as("qn"))
      val short = emb.crossJoin(broadcast(qv)).filter(col("vec_id") =!= col("qid"))
        .select(col("vec_id"), col("embedding"), col("_norm"),
          (round(Similarity.dotNative(col("embedding"), col("qv"))
            / (col("_norm") * col("qn")) * 1e6)).cast("long").as("rel_u"))
        .orderBy(desc("rel_u"), col("vec_id")).limit(30)
        .withColumn("pos", row_number().over(
          Window.orderBy(desc("rel_u"), col("vec_id"))))
        .localCheckpoint(false) // pair matrix + id lookup + fold input
      val pairs = short.select(col("pos").as("i"), col("embedding").as("va"),
          col("_norm").as("na"))
        .crossJoin(broadcast(short.select(col("pos").as("j"),
          col("embedding").as("vb"), col("_norm").as("nb"))))
        .select(col("i"), col("j"),
          (round(Similarity.dotNative(col("va"), col("vb"))
            / (col("na") * col("nb")) * 1e6)).cast("long").as("sim_u"))
      val simRow = pairs.groupBy().agg(
        expr("transform(sort_array(collect_list(struct(i, j, sim_u))), e -> e.sim_u)")
          .as("sim"))
      val relRow = short.groupBy().agg(
        expr("transform(sort_array(collect_list(struct(pos, rel_u))), e -> e.rel_u)")
          .as("rels"))
      val sel = relRow.crossJoin(broadcast(simRow)).select(expr("""
        aggregate(
          sequence(1, 10),
          CAST(array() AS ARRAY<INT>),
          (sel, r) -> concat(sel, array(
            aggregate(
              filter(sequence(1, size(rels)), i -> NOT array_contains(sel, i)),
              named_struct('sc', CAST(-9000000000000000 AS BIGINT), 'id', 0),
              (best, i) -> CASE WHEN
                  7 * element_at(rels, i) - 3 * (CASE WHEN size(sel) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE array_max(transform(sel,
                      s -> element_at(sim, (i - 1) * size(rels) + s))) END)
                  > best.sc
                THEN named_struct('sc',
                  7 * element_at(rels, i) - 3 * (CASE WHEN size(sel) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE array_max(transform(sel,
                      s -> element_at(sim, (i - 1) * size(rels) + s))) END),
                  'id', i)
                ELSE best END).id)))""").as("sel"))
      sel.select(posexplode(col("sel")).as(Seq("rk0", "pos")))
        .select((col("rk0") + 1).as("rank"), col("pos"))
        .join(broadcast(short.select(col("pos"), col("vec_id"), col("rel_u"))), Seq("pos"))
        .select(col("rank"), col("vec_id"),
          round(col("rel_u").cast("double") / 1e6, 6).as("relevance"))
        .orderBy("rank")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS qid, embedding AS qv,
                        sqrt(${duckDot("embedding", "embedding")}) AS qn
                 FROM embeddings ORDER BY vec_id LIMIT 1),
      scored AS (SELECT vec_id, embedding,
                        sqrt(${duckDot("embedding", "embedding")}) AS nn,
                        CAST(round(${duckDot("embedding", "qv")}
                          / (sqrt(${duckDot("embedding", "embedding")}) * qn) * 1e6)
                          AS BIGINT) AS rel_u
                 FROM embeddings CROSS JOIN q WHERE vec_id <> qid),
      short AS (SELECT vec_id, embedding, nn, rel_u,
                       row_number() OVER (ORDER BY rel_u DESC, vec_id) AS pos
                FROM scored ORDER BY rel_u DESC, vec_id LIMIT 30),
      pairs AS (SELECT a.pos AS i, b.pos AS j,
                       CAST(round(${duckDot("a.embedding", "b.embedding")}
                         / (a.nn * b.nn) * 1e6) AS BIGINT) AS sim_u
                FROM short a CROSS JOIN short b),
      arrs AS (SELECT (SELECT list(sim_u ORDER BY i, j) FROM pairs) AS sim,
                      (SELECT list(rel_u ORDER BY pos) FROM short) AS rels),
      sel AS (SELECT list_reduce(
                list_prepend([]::BIGINT[], list_transform(range(1, 11), r -> [r])),
                (sel, rr) -> list_append(sel,
                  list_reduce(
                    list_prepend([-9000000000000000::BIGINT, 0::BIGINT],
                      list_transform(
                        list_filter(range(1, len(rels) + 1),
                          i -> NOT list_contains(sel, i)),
                        i -> [i::BIGINT])),
                    (best, xx) -> CASE WHEN
                        7 * rels[xx[1]] - 3 * (CASE WHEN len(sel) = 0
                          THEN 0::BIGINT
                          ELSE list_max(list_transform(sel,
                            s -> sim[(xx[1] - 1) * len(rels) + s])) END)
                        > best[1]
                      THEN [7 * rels[xx[1]] - 3 * (CASE WHEN len(sel) = 0
                          THEN 0::BIGINT
                          ELSE list_max(list_transform(sel,
                            s -> sim[(xx[1] - 1) * len(rels) + s])) END), xx[1]]
                      ELSE best END)[2])) AS picks
              FROM arrs),
      ranked AS (SELECT unnest(list_transform(range(1, len(picks) + 1),
                   r -> {'rank': r, 'pos': picks[r]})) AS u
                 FROM sel)
      SELECT u.rank, short.vec_id,
             round(CAST(short.rel_u AS DOUBLE) / 1e6, 6) AS relevance
      FROM ranked JOIN short ON short.pos = u.pos
      ORDER BY u.rank"""))

  /** Deterministic MPEG-1 Layer III stream per document for q314: an
    * ID3v2 tag of k%200 body bytes, then 5+k%9 frames whose
    * (bitrate-index, padding) plan is a closed function of (k, j) —
    * the ground truth is the header ARITHMETIC, so the walker's
    * bit-field parse and frame-length hops gate exactly (the filler
    * payload bytes are irrelevant by construction: the walker hops by
    * computed length and never scans them).
    */
  private def synthMp3Payloads(s: SparkSession, dir: String): DataFrame =
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      val frames = (0 until 5 + k % 9)
        .map(j => (1 + (k + j) % 14, (k + j) % 2))
      graft.operators.MpegAudio.encodeSynthetic(k % 200, k % 3, frames)
    }

  /** q314 — MP3 frame-header walk, exactly oracle-gated: triage
    * metadata (duration, bitrate plan, CBR/VBR, tag overhead) for the
    * dominant lossy audio format WITHOUT entropy decode — the honest
    * next notch past [[graft.operators.MultimodalStub]]'s boundary
    * (Huffman/MDCT stay out of scope; headers are closed-form bit
    * fields). [[graft.operators.MpegAudio.parse]] skips the ID3v2
    * syncsafe prefix and hops complete frames by
    * `144·bitrate/samplerate + padding`, reading 4 bytes per ~400 —
    * map-only, zero shuffles, the access pattern that makes metadata
    * triage affordable on a 100 TB audio corpus. The oracle replays
    * the frame plan (a closed function of doc_id) in SQL arithmetic;
    * any divergence in sync/index validation, syncsafe decoding, or
    * the length formula hash-fails. Adversarial inputs (truncation,
    * free bitrate, reserved indices, mid-stream rate change) are
    * spec-pinned in MpegAudioSpec.
    */
  val q314 = Q("q314_mp3_headers",
    (s, dir) =>
      graft.operators.MpegAudio.mp3Features(synthMp3Payloads(s, dir), "doc_id", "payload")
        .select(col("doc_id"),
          col("id3_bytes").cast("long").as("id3_bytes"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_frames"), col("sum_bitrate_kbps"),
          col("n_distinct_bitrates").cast("long").as("n_distinct_bitrates"),
          col("n_padded"), col("duration_us"), col("trailing_bytes"))
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      d AS (SELECT doc_id, k, 10 + k % 200 AS id3,
                   [44100, 48000, 32000][CAST(1 + k % 3 AS INT)] AS sr,
                   5 + k % 9 AS nf
            FROM p),
      f AS (SELECT doc_id, k, id3, sr, nf, unnest(range(nf)) AS j FROM d),
      b AS (SELECT doc_id, id3, sr, nf, j,
                   1 + (k + j) % 14 AS br_idx,
                   [0,32,40,48,56,64,80,96,112,128,160,192,224,256,320]
                     [CAST(2 + (k + j) % 14 AS INT)] AS kbps,
                   (k + j) % 2 AS pad
            FROM f)
      SELECT doc_id,
             CAST(any_value(id3) AS BIGINT) AS id3_bytes,
             CAST(any_value(sr) AS BIGINT) AS sample_rate,
             CAST(any_value(nf) AS BIGINT) AS n_frames,
             CAST(sum(kbps) AS BIGINT) AS sum_bitrate_kbps,
             CAST(count(DISTINCT br_idx) AS BIGINT) AS n_distinct_bitrates,
             CAST(sum(pad) AS BIGINT) AS n_padded,
             CAST(any_value(nf) * 1152 * 1000000 // any_value(sr) AS BIGINT) AS duration_us,
             CAST(0 AS BIGINT) AS trailing_bytes
      FROM b GROUP BY doc_id ORDER BY doc_id"""))

  /** Deterministic ADTS/AAC stream per document for q315 — same
    * contract as q314's fixture: real headers, closed-form
    * (payload-length, CRC, raw-block) plan, filler payload the walker
    * never reads.
    */
  private def synthAdtsPayloads(s: SparkSession, dir: String): DataFrame =
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      val frames = (0 until 4 + k % 7).map { j =>
        (30 + (k * 3 + j * 7) % 200, (k + j) % 3 == 0, (k + j) % 3)
      }
      graft.operators.MpegAudio.encodeSyntheticAdts(
        k % 13, k % 4, 1 + k % 6, frames)
    }

  /** q315 — ADTS/AAC header walk, exactly oracle-gated: the lossy-audio
    * triage pair is complete (q314 MP3 + this). ADTS is even cheaper
    * than MP3 — the 13-bit frame length is EXPLICIT in the header, so
    * the walker hops without a bitrate table; per raw data block an
    * AAC frame carries 1024 samples, giving duration from headers
    * alone. Same stop-don't-guess contract (sync/layer/reserved-index
    * validation, truncation, mid-stream rate change ⇒ stop + report
    * trailing). Map-only, zero shuffles; the oracle replays the
    * closed-form frame plan.
    */
  val q315 = Q("q315_adts_headers",
    (s, dir) =>
      graft.operators.MpegAudio.adtsFeatures(synthAdtsPayloads(s, dir), "doc_id", "payload")
        .select(col("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("profile").cast("long").as("profile"),
          col("channel_config").cast("long").as("channel_config"),
          col("n_frames"), col("n_raw_blocks"), col("sum_frame_bytes"),
          col("n_crc_frames"), col("duration_us"), col("trailing_bytes"))
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      d AS (SELECT doc_id, k,
                   [96000,88200,64000,48000,44100,32000,24000,22050,16000,12000,11025,8000,7350]
                     [CAST(1 + k % 13 AS INT)] AS sr,
                   k % 4 AS prof, 1 + k % 6 AS chan, 4 + k % 7 AS nf
            FROM p),
      f AS (SELECT doc_id, k, sr, prof, chan, nf, unnest(range(nf)) AS j FROM d),
      b AS (SELECT doc_id, sr, prof, chan, nf, j,
                   30 + (k * 3 + j * 7) % 200 AS payload_len,
                   CASE WHEN (k + j) % 3 = 0 THEN 1 ELSE 0 END AS crc,
                   (k + j) % 3 AS raw_m1
            FROM f)
      SELECT doc_id,
             CAST(any_value(sr) AS BIGINT) AS sample_rate,
             CAST(any_value(prof) AS BIGINT) AS profile,
             CAST(any_value(chan) AS BIGINT) AS channel_config,
             CAST(any_value(nf) AS BIGINT) AS n_frames,
             CAST(sum(raw_m1 + 1) AS BIGINT) AS n_raw_blocks,
             CAST(sum(payload_len + CASE WHEN crc = 1 THEN 9 ELSE 7 END) AS BIGINT)
               AS sum_frame_bytes,
             CAST(sum(crc) AS BIGINT) AS n_crc_frames,
             CAST(sum(raw_m1 + 1) * 1024 * 1000000 // any_value(sr) AS BIGINT)
               AS duration_us,
             CAST(0 AS BIGINT) AS trailing_bytes
      FROM b GROUP BY doc_id ORDER BY doc_id"""))

  /** Deterministic Annex-B stream per document for q318: SPS + PPS,
    * then 2+k%3 GOPs of [optional SEI] + IDR + 1+(k+g)%4 slices;
    * payload lengths are closed functions of (k, type, g, s) so the
    * oracle replays the plan with two nested range-unnests. Long
    * (4-byte) start codes front SPS/PPS/IDR, short elsewhere — the
    * realistic access-unit convention.
    */
  private def synthNalPayloads(s: SparkSession, dir: String): DataFrame =
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      def len(t: Int, g: Int, sl: Int) = 20 + (k * 5 + g * 13 + sl * 11 + t) % 90
      val plan = Seq((7, len(7, 0, 0), true), (8, len(8, 0, 0), true)) ++
        (0 until 2 + k % 3).flatMap { g =>
          (if ((k + g) % 2 == 0) Seq((6, len(6, g, 0), false)) else Nil) ++
            Seq((5, len(5, g, 0), true)) ++
            (1 to 1 + (k + g) % 4).map(sl => (1, len(1, g, sl), false))
        }
      graft.operators.NalCensus.encodeSynthetic(plan)
    }

  /** q318 — H.264 Annex-B NAL census, exactly oracle-gated: the video
    * member of the header-walk triage family (q314 MP3, q315 ADTS).
    * [[graft.operators.NalCensus.parse]] walks start codes and
    * classifies the 5-bit nal_unit_type — parameter sets, IDR
    * random-access points, slice/SEI mix, NAL size mass — without
    * touching CABAC/CAVLC bits (the honest MultimodalStub boundary
    * for entropy-coded video). Map-only, zero shuffles; the oracle
    * replays the GOP plan with nested range-unnests. Adversarial
    * inputs (leading garbage, forbidden bit, truncation) are
    * spec-pinned in NalCensusSpec.
    */
  val q318 = Q("q318_nal_census",
    (s, dir) =>
      graft.operators.NalCensus.nalFeatures(synthNalPayloads(s, dir), "doc_id", "payload")
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      g AS (SELECT doc_id, k, unnest(range(2 + k % 3)) AS gi FROM p),
      sl AS (SELECT doc_id, k, gi, unnest(range(1, 2 + (k + gi) % 4)) AS si FROM g),
      -- one row per NAL: type, payload len, long-start flag
      nals AS (
        SELECT doc_id, 7 AS t, 20 + (k * 5 + 7) % 90 AS len, 1 AS l4 FROM p
        UNION ALL
        SELECT doc_id, 8, 20 + (k * 5 + 8) % 90, 1 FROM p
        UNION ALL
        SELECT doc_id, 6, 20 + (k * 5 + gi * 13 + 6) % 90, 0 FROM g WHERE (k + gi) % 2 = 0
        UNION ALL
        SELECT doc_id, 5, 20 + (k * 5 + gi * 13 + 5) % 90, 1 FROM g
        UNION ALL
        SELECT doc_id, 1, 20 + (k * 5 + gi * 13 + si * 11 + 1) % 90, 0 FROM sl)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_nals,
             CAST(sum(CASE WHEN t = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_idr,
             CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_slice,
             CAST(sum(CASE WHEN t = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_sps,
             CAST(sum(CASE WHEN t = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_pps,
             CAST(sum(CASE WHEN t = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_sei,
             CAST(0 AS BIGINT) AS n_other,
             CAST(sum(l4) AS BIGINT) AS n_4byte_starts,
             CAST(sum(len + 1) AS BIGINT) AS sum_nal_bytes,
             CAST(0 AS BIGINT) AS trailing_bytes
      FROM nals GROUP BY doc_id ORDER BY doc_id"""))

  /** Deterministic ISO-BMFF skeleton per document for q319 —
    * ftyp + moov[mvhd + trak[tkhd]·n] + mdat, all parameters closed
    * functions of doc_id.
    */
  private def synthBmffPayloads(s: SparkSession, dir: String): DataFrame = {
    val brands = Array("isom", "mp42", "avc1", "M4A ")
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      graft.operators.IsoBmff.encodeSynthetic(
        brands(k % 4), 600 * (1 + k % 5), 1000 + k * 37, 1 + k % 3,
        100 + (k * 29) % 400)
    }
  }

  /** q319 — ISO-BMFF (MP4) box-tree walk, exactly oracle-gated: the
    * container member of the header-walk triage family. Brand, movie
    * timescale/duration, track count, metadata-vs-sample mass and
    * tree depth come from box headers + the fixed-layout `mvhd`
    * alone — [[graft.operators.IsoBmff.parse]] recurses the known
    * container set and stops (reporting trailing bytes) on any
    * malformed size, so a corrupt 100 TB corpus triages safely at
    * scan speed. Map-only, zero shuffles; oracle replays the skeleton
    * plan arithmetic (box sizes are closed sums of the plan).
    */
  val q319 = Q("q319_mp4_boxes",
    (s, dir) =>
      graft.operators.IsoBmff.bmffFeatures(synthBmffPayloads(s, dir), "doc_id", "payload")
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      d AS (SELECT doc_id,
                   ['isom','mp42','avc1','M4A '][CAST(1 + k % 4 AS INT)] AS brand,
                   600 * (1 + k % 5) AS ts, 1000 + k * 37 AS dur,
                   1 + k % 3 AS nt, 100 + (k * 29) % 400 AS mlen
            FROM p)
      SELECT doc_id, brand,
             CAST(4 + 2 * nt AS BIGINT) AS n_boxes,
             CAST(nt AS BIGINT) AS n_tracks,
             CAST(ts AS BIGINT) AS timescale,
             CAST(dur AS BIGINT) AS duration,
             CAST(dur * 1000 // ts AS BIGINT) AS duration_ms,
             CAST(mlen AS BIGINT) AS mdat_bytes,
             CAST(3 AS BIGINT) AS max_depth,
             CAST(0 AS BIGINT) AS trailing_bytes
      FROM d ORDER BY doc_id"""))

  /** Deterministic WARC archive per document for q323: one warcinfo,
    * then 1+k%4 request/response pairs sharing a target URI, then a
    * metadata record when k%3==0 — all payload lengths closed
    * functions of (k, pair), so the oracle replays the framing
    * arithmetic (header bytes = fixed field widths + value lengths).
    */
  private def synthWarcPayloads(s: SparkSession, dir: String): DataFrame =
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      val plan = Seq(("warcinfo", None: Option[String], 40 + (k * 7) % 50)) ++
        (0 until 1 + k % 4).flatMap { p =>
          val uri = s"http://ex$k.com/p$p"
          Seq(("request", Some(uri), 30 + (k * 11 + p * 13) % 60),
            ("response", Some(uri), 120 + (k * 17 + p * 29) % 400))
        } ++
        (if (k % 3 == 0) Seq(("metadata", None: Option[String], 25 + (k * 5) % 40))
         else Nil)
      graft.operators.WarcOps.encodeSynthetic(plan)
    }

  /** q323 — WARC record census, exactly oracle-gated: the container
    * member of the crawl-curation family (Common Crawl's storage
    * format — the shape a 100 TB web corpus actually arrives in).
    * [[graft.operators.WarcOps.parse]] walks Content-Length framing
    * (never re-syncs on the `WARC/` magic — response payloads can
    * contain it verbatim) and reports record-type mix, payload mass
    * vs header overhead, and undecodable tail. Map-only, zero
    * shuffles; the oracle replays the synthetic plan's framing
    * arithmetic (header bytes = fixed widths + digit/URI lengths).
    * Adversarial inputs (truncation, bad Content-Length, missing
    * blank line, embedded magic) are spec-pinned in WarcOpsSpec.
    */
  val q323 = Q("q323_warc_census",
    (s, dir) =>
      graft.operators.WarcOps.warcFeatures(synthWarcPayloads(s, dir), "doc_id", "payload")
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      pr AS (SELECT doc_id, k, unnest(range(1 + k % 4)) AS pi FROM p),
      recs AS (
        SELECT doc_id, 'warcinfo' AS t, CAST(NULL AS VARCHAR) AS uri,
               40 + (k * 7) % 50 AS clen FROM p
        UNION ALL
        SELECT doc_id, 'request', 'http://ex' || k || '.com/p' || pi,
               30 + (k * 11 + pi * 13) % 60 FROM pr
        UNION ALL
        SELECT doc_id, 'response', 'http://ex' || k || '.com/p' || pi,
               120 + (k * 17 + pi * 29) % 400 FROM pr
        UNION ALL
        SELECT doc_id, 'metadata', NULL, 25 + (k * 5) % 40 FROM p WHERE k % 3 = 0)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_records,
             CAST(sum(CASE WHEN t = 'warcinfo' THEN 1 ELSE 0 END) AS BIGINT) AS n_warcinfo,
             CAST(sum(CASE WHEN t = 'request' THEN 1 ELSE 0 END) AS BIGINT) AS n_request,
             CAST(sum(CASE WHEN t = 'response' THEN 1 ELSE 0 END) AS BIGINT) AS n_response,
             CAST(sum(CASE WHEN t = 'metadata' THEN 1 ELSE 0 END) AS BIGINT) AS n_metadata,
             CAST(0 AS BIGINT) AS n_other,
             CAST(sum(clen) AS BIGINT) AS sum_payload_bytes,
             -- 10 version + 13+|type| WARC-Type + (19+|uri| if present)
             -- + 18+digits Content-Length + 2 blank
             CAST(sum(43 + length(t) + length(CAST(clen AS VARCHAR)) +
                      CASE WHEN uri IS NULL THEN 0 ELSE 19 + length(uri) END)
               AS BIGINT) AS sum_header_bytes,
             CAST(0 AS BIGINT) AS trailing_bytes
      FROM recs GROUP BY doc_id ORDER BY doc_id"""))

  /** Deterministic WebDataset-style tar shard per document for q324:
    * 2+k%3 samples, each a `.jpg` + `.json` pair plus a `.txt` when
    * (k+s)%2==0 — payload lengths closed functions of (k, s), so the
    * oracle replays the 512-byte block arithmetic exactly.
    */
  private def synthTarPayloads(s: SparkSession, dir: String): DataFrame =
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      val files = (0 until 2 + k % 3).flatMap { sm =>
        val base = s"s$k-$sm"
        Seq(s"$base.jpg" -> (400 + (k * 31 + sm * 17) % 800),
          s"$base.json" -> (60 + (k * 7 + sm * 5) % 100)) ++
          (if ((k + sm) % 2 == 0) Seq(s"$base.txt" -> (30 + (k * 3 + sm * 11) % 50))
           else Nil)
      }
      graft.operators.TarOps.encodeSynthetic(files)
    }

  /** q324 — WebDataset tar-shard audit, exactly oracle-gated: the
    * multimodal-shard member of the container family (how image/text
    * training sets actually ship). [[graft.operators.TarOps.parse]]
    * walks ustar headers (checksum-VERIFIED — a flipped size byte
    * desynchronizes every later entry), groups files into samples by
    * basename, and reports entry/sample counts, payload vs
    * padding+header overhead, and samples missing required
    * components (jpg+json+txt here) — the incomplete ones silently
    * drop from training. Map-only, zero shuffles; oracle replays the
    * 512-byte block arithmetic. Adversarial inputs (checksum flip,
    * bad octal, truncation, lone zero block) spec-pinned in
    * TarOpsSpec.
    */
  val q324 = Q("q324_tar_shard_audit",
    (s, dir) =>
      graft.operators.TarOps.tarFeatures(synthTarPayloads(s, dir), "doc_id", "payload",
        Seq("jpg", "json", "txt"))
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      sm AS (SELECT doc_id, k, unnest(range(2 + k % 3)) AS s FROM p),
      files AS (
        SELECT doc_id, k, s, 400 + (k * 31 + s * 17) % 800 AS len FROM sm
        UNION ALL
        SELECT doc_id, k, s, 60 + (k * 7 + s * 5) % 100 FROM sm
        UNION ALL
        SELECT doc_id, k, s, 30 + (k * 3 + s * 11) % 50 FROM sm WHERE (k + s) % 2 = 0),
      f AS (SELECT doc_id, len, (len + 511) // 512 * 512 AS padded FROM files),
      comp AS (SELECT doc_id, count(*) AS nc FROM sm WHERE (k + s) % 2 = 0
               GROUP BY doc_id)
      SELECT f.doc_id,
             CAST(count(*) AS BIGINT) AS n_entries,
             CAST(any_value(2 + p.k % 3) AS BIGINT) AS n_samples,
             CAST(coalesce(any_value(comp.nc), 0) AS BIGINT) AS n_complete_samples,
             CAST(sum(len) AS BIGINT) AS sum_file_bytes,
             CAST(sum(padded - len) AS BIGINT) AS sum_padding_bytes,
             CAST(512 * count(*) + sum(padded) + 1024 AS BIGINT) AS archive_bytes,
             CAST(0 AS BIGINT) AS trailing_bytes
      FROM f JOIN p ON f.doc_id = p.doc_id
      LEFT JOIN comp ON comp.doc_id = f.doc_id
      GROUP BY f.doc_id ORDER BY f.doc_id"""))

  /** q325 — DSIR importance resampling (Xie et al. 2023), exactly
    * oracle-gated: the data-SELECTION pass of a training pipeline —
    * score every raw document by how much it looks like a small
    * high-quality target corpus (here: lang='en' ∧ source='src0'),
    * then keep the top 20%. Features are hashed uni+bigrams in 64
    * buckets (md5 — engine-portable); bucket log-likelihood ratios
    * `ln(p̂_target/q̂_raw)` (add-1 smoothed) are quantized to 1e9
    * longs ONCE PER BUCKET, so each document's score is an exact
    * integer dot product `Σ count_b·λ_b` — order-independent, the
    * module's per-row-quantized determinism policy. Scale shape: two
    * linear token shuffles for the 64-row bucket stats, a broadcast
    * λ join, one per-doc aggregate, and a TakeOrdered top-K — no
    * all-pairs anything; the target corpus being small is the DSIR
    * premise, not a limitation.
    */
  val q325 = Q("q325_dsir_importance",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val toks = d.select(col("doc_id"), col("lang"), col("source"),
        split(trim(col("text")), "\\s+").as("t"))
      val feats = toks.select(col("doc_id"), col("lang"), col("source"),
        concat(col("t"),
          expr("zip_with(slice(t, 1, greatest(size(t)-1, 0)), " +
            "slice(t, 2, greatest(size(t)-1, 0)), (a, b) -> concat(a, ' ', b))"))
          .as("fs"))
      // r16: the tokenize+explode+hash pass fused into the (unsplittable
      // single-file) scan and ran FOUR times — once per consumer (cr,
      // ct, tot, w), each a ~1-task stage: 0.5-1.7 s of CPU serialized
      // per pass (measured). The doc rows are fanned BEFORE the explode
      // (one exchange of per-doc token arrays), then one parallel pass
      // feeds ONE (doc_id, b, tgt) census (tgt is doc-constant, so
      // cnt-per-(doc_id,b) is unchanged by carrying it), checkpointed;
      // all four consumers are exact integer rollups of it. Counting
      // identity — same counts, same lambdas, same lr_nano sums; the
      // oracle replays its own plan and hash-gates.
      val f = graft.operators.ScaleOps.fanIfNarrow(feats, col("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"),
          explode(col("fs")).as("f"))
        .withColumn("b", Hashing.hash64(col("f")) % 64)
      val isTarget = col("lang") === "en" && col("source") === "src0"
      val base = f
        .groupBy(col("doc_id"), col("b"), isTarget.as("tgt"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false)
      val cr = base.groupBy("b").agg(sum("cnt").as("cr"))
      val ct = base.filter(col("tgt")).groupBy("b").agg(sum("cnt").as("ct"))
      val tot = base.agg(sum("cnt").as("R"),
        sum(when(col("tgt"), col("cnt")).otherwise(0L)).as("T"))
      val lam = s.range(64).toDF("b")
        .join(cr, Seq("b"), "left").join(ct, Seq("b"), "left")
        .crossJoin(broadcast(tot))
        .select(col("b"),
          expr("""CAST(round(1e9 * ln(
              (CAST(coalesce(ct, 0) + 1 AS DOUBLE) * CAST(R + 64 AS DOUBLE)) /
              (CAST(coalesce(cr, 0) + 1 AS DOUBLE) * CAST(T + 64 AS DOUBLE))))
            AS BIGINT)""").as("lam"))
      // (doc_id determines tgt, so summing base's cnt per (doc_id, b)
      // is the original per-(doc_id, b) feature count exactly)
      val w = base.groupBy("doc_id", "b").agg(sum("cnt").as("cnt"))
        .join(broadcast(lam), Seq("b"))
        .groupBy("doc_id")
        .agg(sum(col("cnt") * col("lam")).as("lr_nano"))
      val k = math.ceil(d.count() / 5.0).toInt
      w.orderBy(col("lr_nano").desc, col("doc_id")).limit(k)
    },
    Some("""
      WITH d AS (SELECT doc_id, lang, source,
                        string_split_regex(trim(text), '\s+') AS t FROM documents),
      f AS (SELECT doc_id, lang, source, unnest(t) AS f FROM d
            UNION ALL
            SELECT doc_id, lang, source,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
            FROM d),
      fb AS (SELECT doc_id, lang, source,
                    CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT) % 64 AS b
             FROM f),
      cr AS (SELECT b, count(*) AS cr FROM fb GROUP BY b),
      ct AS (SELECT b, count(*) AS ct FROM fb
             WHERE lang = 'en' AND source = 'src0' GROUP BY b),
      tot AS (SELECT count(*) AS R,
                     sum(CASE WHEN lang = 'en' AND source = 'src0' THEN 1 ELSE 0 END) AS T
              FROM fb),
      lam AS (SELECT g.b,
                     CAST(round(1e9 * ln(
                         (CAST(coalesce(ct.ct, 0) + 1 AS DOUBLE) * CAST(tot.R + 64 AS DOUBLE)) /
                         (CAST(coalesce(cr.cr, 0) + 1 AS DOUBLE) * CAST(tot.T + 64 AS DOUBLE))))
                       AS BIGINT) AS lam
              FROM (SELECT unnest(range(64)) AS b) g
              LEFT JOIN cr ON cr.b = g.b
              LEFT JOIN ct ON ct.b = g.b
              CROSS JOIN tot),
      w AS (SELECT doc_id, sum(cnt * lam) AS lr_nano
            FROM (SELECT doc_id, b, count(*) AS cnt FROM fb GROUP BY doc_id, b) c
            JOIN lam ON lam.b = c.b
            GROUP BY doc_id),
      r AS (SELECT doc_id, CAST(lr_nano AS BIGINT) AS lr_nano,
                   row_number() OVER (ORDER BY lr_nano DESC, doc_id) AS rn
            FROM w)
      SELECT doc_id, lr_nano FROM r
      WHERE rn <= (SELECT ceil(count(*) / 5.0) FROM documents)
      ORDER BY lr_nano DESC, doc_id"""))

  /** Deterministic Ogg/Opus-shaped stream per document for q329:
    * BOS (19-byte OpusHead-sized packet) + tags page + 3+k%4 data
    * pages (1+(k+p)%3 segments each, continued flag on interior
    * pages where (k+p)%5==0, EOS on the last, granule 960·(p+1)) —
    * all lengths closed functions of (k, p, s) so the oracle replays
    * the page plan with nested range-unnests.
    */
  private def synthOggPayloads(s: SparkSession, dir: String): DataFrame =
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      val nData = 3 + k % 4
      val plan = Seq((2, 0L, Seq(19)), (0, 0L, Seq(30 + k % 20))) ++
        (0 until nData).map { p =>
          val cont = p > 0 && p < nData - 1 && (k + p) % 5 == 0
          val hType = (if (p == nData - 1) 4 else 0) | (if (cont) 1 else 0)
          val segs = (0 until 1 + (k + p) % 3)
            .map(sg => 50 + (k * 7 + p * 11 + sg * 13) % 150)
          (hType, 960L * (p + 1), segs)
        }
      graft.operators.OggOps.encodeSynthetic(plan)
    }

  /** q329 — Ogg page census, exactly oracle-gated: the open-container
    * member of the audio-triage family (q314 MP3, q315 ADTS — this is
    * the format Opus/Vorbis corpora actually ship in). Pages are
    * CRC-VERIFIED during the walk (Ogg CRC-32, unreflected
    * 0x04C11DB7 over the page with the CRC field zeroed — a corrupt
    * segment table otherwise desynchronizes every later page);
    * duration comes from the final granule position (48 kHz ticks).
    * Map-only, zero shuffles; the oracle replays the page plan with
    * nested range-unnests. Adversarial inputs (CRC flip, truncation,
    * bad version, segment-table overrun) spec-pinned in OggOpsSpec.
    */
  val q329 = Q("q329_ogg_census",
    (s, dir) =>
      graft.operators.OggOps.oggFeatures(synthOggPayloads(s, dir), "doc_id", "payload")
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      pg AS (SELECT doc_id, k, unnest(range(3 + k % 4)) AS p FROM d),
      sg AS (SELECT doc_id, k, p, unnest(range(1 + (k + p) % 3)) AS s FROM pg),
      dataseg AS (SELECT doc_id,
                         sum(50 + (k * 7 + p * 11 + s * 13) % 150) AS dbytes
                  FROM sg GROUP BY doc_id),
      pgagg AS (SELECT doc_id,
                       sum(27 + 1 + (k + p) % 3) AS dheader,
                       sum(CASE WHEN p > 0 AND p < 2 + k % 4 AND (k + p) % 5 = 0
                                THEN 1 ELSE 0 END) AS ncont
                FROM pg GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(5 + k % 4 AS BIGINT) AS n_pages,
             CAST(1 AS BIGINT) AS n_bos,
             CAST(1 AS BIGINT) AS n_eos,
             CAST(pgagg.ncont AS BIGINT) AS n_continued,
             CAST(19 + 30 + k % 20 + dataseg.dbytes AS BIGINT) AS payload_bytes,
             CAST(28 + 28 + pgagg.dheader AS BIGINT) AS header_bytes,
             CAST(960 * (3 + k % 4) AS BIGINT) AS last_granule,
             CAST(20 * (3 + k % 4) AS BIGINT) AS duration_ms,
             CAST(0 AS BIGINT) AS trailing_bytes
      FROM d
      JOIN dataseg ON dataseg.doc_id = d.doc_id
      JOIN pgagg ON pgagg.doc_id = d.doc_id
      ORDER BY d.doc_id"""))

  /** Deterministic ZIP per document for q332: 2+k%4 entries (stored
    * when (k+f)%3==0, deflated otherwise; compressed size a closed
    * ratio of the uncompressed), payload filler deliberately
    * containing `PK` runs — discovery must come from the EOCD
    * backward scan, not signature hunting.
    */
  private def synthZipPayloads(s: SparkSession, dir: String): DataFrame =
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      val entries = (0 until 2 + k % 4).map { f =>
        val usize = 100 + (k * 13 + f * 7) % 300
        val stored = (k + f) % 3 == 0
        val csize = if (stored) usize else usize * (40 + (k + f) % 30) / 100
        (s"e$k-$f.txt", if (stored) 0 else 8, csize, usize)
      }
      graft.operators.ZipOps.encodeSynthetic(entries)
    }

  /** q332 — ZIP archive audit, exactly oracle-gated: the last
    * ubiquitous dataset container (q323 WARC, q324 tar) — public
    * datasets overwhelmingly arrive as .zip.
    * [[graft.operators.ZipOps.parse]] finds the EOCD by BACKWARD
    * scan (the only correct discovery — entry payloads legally
    * contain signature bytes), walks the central directory, and
    * cross-checks every entry's local header at its recorded offset
    * (central↔local disagreement is the zip-smuggling vector —
    * counted, not guessed through). Stored/deflated mix and
    * compressed-vs-uncompressed mass double as quality/dup triage
    * signals. Map-only, zero shuffles; oracle replays the directory
    * arithmetic. Adversarial inputs spec-pinned in ZipOpsSpec.
    */
  val q332 = Q("q332_zip_audit",
    (s, dir) =>
      graft.operators.ZipOps.zipFeatures(synthZipPayloads(s, dir), "doc_id", "payload")
        .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      e AS (SELECT doc_id, k, unnest(range(2 + k % 4)) AS f FROM d),
      x AS (SELECT doc_id, k, f,
                   100 + (k * 13 + f * 7) % 300 AS usize,
                   CASE WHEN (k + f) % 3 = 0 THEN 1 ELSE 0 END AS stored,
                   length('e' || k || '-' || f || '.txt') AS nlen
            FROM e),
      y AS (SELECT doc_id, k, stored, usize, nlen,
                   CASE WHEN stored = 1 THEN usize
                        ELSE usize * (40 + (k + f) % 30) // 100 END AS csize
            FROM x)
      SELECT doc_id,
             CAST(1 AS BIGINT) AS eocd_found,
             CAST(count(*) AS BIGINT) AS n_entries,
             CAST(sum(stored) AS BIGINT) AS n_stored,
             CAST(sum(1 - stored) AS BIGINT) AS n_deflated,
             CAST(0 AS BIGINT) AS n_other_method,
             CAST(sum(csize) AS BIGINT) AS sum_comp_bytes,
             CAST(sum(usize) AS BIGINT) AS sum_uncomp_bytes,
             CAST(sum(46 + nlen) AS BIGINT) AS central_bytes,
             CAST(0 AS BIGINT) AS n_local_mismatch,
             CAST(0 AS BIGINT) AS trailing_bytes
      FROM y GROUP BY doc_id ORDER BY doc_id"""))

  /** q335 — embedding-table quality audit, exactly oracle-gated: the
    * referential + numeric health check a multimodal pipeline runs
    * before any ANN/dedup pass trusts its vectors — dimension
    * mismatches, zero-norm rows (cosine is undefined), NaN
    * components (poison every distance they touch), documents
    * missing vectors, and orphan vectors. Anomalies are injected
    * deterministically on the clean table (truncated dims k%13,
    * zeroed k%17, NaN k%19, dropped k%23, orphan clones k%29 — the
    * q321 discipline). Scale shape: per-vector checks are map-side
    * array folds; the two referential checks are anti-joins on the
    * id (broadcast here, sort-merge at scale); output is ONE row.
    */
  val q335 = Q("q335_embedding_audit",
    (s, dir) => {
      val k = (col("vec_id") % 50).cast("long")
      val base = Tables.load(s, dir, "embeddings")
      val mutated = base.filter(k % 23 =!= 0)
        .select(col("vec_id"),
          when(k % 13 === 0, expr("slice(embedding, 1, 32)"))
            .when(k % 17 === 0, expr("transform(embedding, x -> CAST(0.0 AS FLOAT))"))
            .when(k % 19 === 0,
              expr("concat(array(CAST('NaN' AS FLOAT)), slice(embedding, 2, size(embedding) - 1))"))
            .otherwise(col("embedding")).as("embedding"))
      val audited = mutated.union(
        base.filter(k % 29 === 0)
          .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding")))
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      val perVec = audited.select(
        (size(col("embedding")) =!= 64).cast("long").as("dim_bad"),
        (expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))") === 0.0)
          .cast("long").as("zero_norm"),
        expr("exists(embedding, x -> isnan(x))").cast("long").as("has_nan"))
      val missing = docs.join(audited, col("doc_id") === col("vec_id"), "left_anti").count()
      val orphans = audited.join(docs, col("vec_id") === col("doc_id"), "left_anti").count()
      perVec.agg(
        count(lit(1)).as("n_vecs"),
        sum("dim_bad").as("n_dim_mismatch"),
        sum("zero_norm").as("n_zero_norm"),
        sum("has_nan").as("n_with_nan"))
        .withColumn("n_docs_missing_vec", lit(missing))
        .withColumn("n_orphan_vecs", lit(orphans))
    },
    Some("""
      WITH e AS (SELECT vec_id, embedding, CAST(vec_id % 50 AS BIGINT) AS k
                 FROM embeddings),
      m AS (SELECT vec_id,
                   CASE WHEN k % 13 = 0 THEN embedding[1:32]
                        WHEN k % 17 = 0 THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
                        WHEN k % 19 = 0 THEN list_prepend(CAST('NaN' AS FLOAT), embedding[2:])
                        ELSE embedding END AS embedding
            FROM e WHERE k % 23 <> 0
            UNION ALL
            SELECT vec_id + 1000000000, embedding FROM e WHERE k % 29 = 0),
      pv AS (SELECT
               CASE WHEN len(embedding) <> 64 THEN 1 ELSE 0 END AS dim_bad,
               CASE WHEN list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0 THEN 1 ELSE 0 END AS zero_norm,
               CASE WHEN len(list_filter(embedding, x -> isnan(x))) > 0 THEN 1 ELSE 0 END AS has_nan
             FROM m)
      SELECT CAST((SELECT count(*) FROM m) AS BIGINT) AS n_vecs,
             CAST(sum(dim_bad) AS BIGINT) AS n_dim_mismatch,
             CAST(sum(zero_norm) AS BIGINT) AS n_zero_norm,
             CAST(sum(has_nan) AS BIGINT) AS n_with_nan,
             CAST((SELECT count(*) FROM documents d
                   WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.vec_id = d.doc_id))
               AS BIGINT) AS n_docs_missing_vec,
             CAST((SELECT count(*) FROM m
                   WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = m.vec_id))
               AS BIGINT) AS n_orphan_vecs
      FROM pv"""))

  /** q337 — FLAC metadata census, exactly oracle-gated: the lossless
    * member of the audio-triage family (q314 MP3, q315 ADTS, q329
    * Ogg). Everything triage needs — sample rate, channels, bit
    * depth, EXACT duration — lives in STREAMINFO's packed 64-bit
    * field, read with zero entropy-coded frames touched (the honest
    * MultimodalStub boundary). [[graft.operators.FlacOps.parse]]
    * walks the metadata-block chain (STREAMINFO must lead, per
    * spec), classifies PADDING/VORBIS_COMMENT overhead, and reports
    * the frame-region mass. Map-only, zero shuffles; oracle replays
    * the closed-form synth plan. Adversarial inputs spec-pinned in
    * FlacOpsSpec.
    */
  val q337 = Q("q337_flac_info",
    (s, dir) => {
      val rates = Array(8000, 16000, 22050, 24000, 32000, 44100, 48000)
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val extras =
          (if (k % 2 == 0) Seq((1, 10 + k % 50)) else Nil) ++
            (if (k % 3 == 0) Seq((4, 20 + k % 30)) else Nil)
        graft.operators.FlacOps.encodeSynthetic(
          rates(k % 7), 1 + k % 2, 16, 480L * (k + 1) * (1 + k % 3),
          extras, 100 + (k * 13) % 200)
      }
      graft.operators.FlacOps.flacFeatures(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      p AS (SELECT doc_id, k,
                   [8000,16000,22050,24000,32000,44100,48000][CAST(1 + k % 7 AS INT)] AS rate,
                   480 * (k + 1) * (1 + k % 3) AS total,
                   CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END AS haspad,
                   CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END AS hasvc
            FROM d)
      SELECT doc_id,
             CAST(1 AS BIGINT) AS valid,
             CAST(rate AS BIGINT) AS sample_rate,
             CAST(1 + k % 2 AS BIGINT) AS channels,
             CAST(16 AS BIGINT) AS bits_per_sample,
             CAST(total AS BIGINT) AS total_samples,
             CAST(total * 1000 // rate AS BIGINT) AS duration_ms,
             CAST(1 + haspad + hasvc AS BIGINT) AS n_meta_blocks,
             CAST(38 + haspad * (4 + 10 + k % 50) + hasvc * (4 + 20 + k % 30)
               AS BIGINT) AS meta_bytes,
             CAST(haspad AS BIGINT) AS n_padding,
             CAST(hasvc AS BIGINT) AS n_vorbis_comment,
             CAST(100 + (k * 13) % 200 AS BIGINT) AS audio_bytes,
             CAST(0 AS BIGINT) AS trailing_bytes
      FROM p ORDER BY doc_id"""))

  /** q339 — EXIF/TIFF IFD census, exactly oracle-gated: the image
    * side's provenance-and-PII triage (the pair of the audio family's
    * q314/q315/q329/q337). [[graft.operators.ExifOps.parse]] walks
    * SOI → APP1 "Exif\u0000\u0000" → TIFF header (BOTH byte
    * orders — II and MM each cover half the fixtures) → IFD0,
    * surfacing orientation, capture-time/make presence, and the
    * curation-critical `has_gps` flag (tag 0x8825 = location PII →
    * redaction escalation, same path as q328's verified card
    * numbers). ~50 bytes touched per file, zero pixels decoded;
    * map-only, zero shuffles. The oracle recomputes every field —
    * including the APP1 byte mass — from the synth plan's closed-form
    * layout arithmetic, so the gate proves the encode→walk round trip
    * byte-exact. Adversarial inputs (truncation, wrong magic, lying
    * APP1 length, IFD overrun) are spec-pinned in ExifOpsSpec.
    */
  val q339 = Q("q339_exif_census",
    (s, dir) => {
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 60).toInt
        graft.operators.ExifOps.encodeSynthetic(
          littleEndian = k % 2 == 0,
          orientation = 1 + k % 8,
          withGps = k % 3 == 0,
          withExifIfd = k % 4 == 0,
          withDateTime = k % 5 == 0,
          withMake = k % 7 < 3,
          imageLen = 50 + (k * 11) % 150)
      }
      graft.operators.ExifOps.exifFeatures(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 60 AS BIGINT) AS k FROM documents),
      f AS (SELECT doc_id, k,
                   CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END AS le,
                   CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END AS gp,
                   CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END AS ex,
                   CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END AS dt,
                   CASE WHEN k % 7 < 3 THEN 1 ELSE 0 END AS mk
            FROM d)
      SELECT doc_id,
             CAST(1 AS BIGINT) AS valid,
             CAST(le AS BIGINT) AS little_endian,
             CAST(1 + mk + dt + ex + gp AS BIGINT) AS n_ifd0_entries,
             CAST(1 + k % 8 AS BIGINT) AS orientation,
             CAST(gp AS BIGINT) AS has_gps,
             CAST(ex AS BIGINT) AS has_exif_ifd,
             CAST(dt AS BIGINT) AS has_datetime,
             CAST(mk AS BIGINT) AS has_make,
             CAST(24 + 12 * (1 + mk + dt + ex + gp)
                  + 6 * (mk + ex + gp) + 20 * dt AS BIGINT) AS app1_bytes,
             CAST(50 + (k * 11) % 150 AS BIGINT) AS image_bytes,
             CAST(0 AS BIGINT) AS trailing_bytes
      FROM f ORDER BY doc_id"""))

  // --------------------------------------------------------------- q346

  /** q346 — int8 quantization audit for the embedding store: before a
    * vector index ships its vectors as int8 (4× smaller, SIMD
    * distance kernels), the pipeline must measure what the rounding
    * costs. Two standard absmax schemes are audited side by side:
    * PER-VECTOR (scale = absmax(row)/127 — the llama.cpp/row-wise
    * scheme, adapts to row norms) and PER-DIMENSION (scale_d =
    * absmax(column d)/127 — the FAISS-SQ8 shape, adapts to feature
    * ranges). For each, elements quantize `q = clamp(floor(x/s + ½),
    * ±127)` and the reconstruction error `(x − q·s)²` is quantized
    * per ELEMENT to pico units before any sum — both engines add
    * integers, so group totals are order-independent and the exact
    * hash gate holds. Scale shape: the per-dim pass is ONE bounded
    * 64-row reduction broadcast back as a literal array (no per-row
    * join); everything else is map-side list folds + one
    * map-side-combined groupBy(label).
    */
  val q346 = Q("q346_int8_quant",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val dimScales = emb
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("pos").agg(max(abs(col("x").cast("double"))).as("am"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, am))), p -> p.am / 127.0)").as("ds"))
      emb.crossJoin(broadcast(dimScales))
        .withColumn("sv", expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE)))) / 127.0"))
        .select(col("label").cast("long").as("label"),
          expr("""CASE WHEN sv = 0.0 THEN CAST(0 AS BIGINT) ELSE
                aggregate(transform(embedding,
                  x -> CAST(x AS DOUBLE) - CAST(greatest(CAST(-127 AS BIGINT),
                    least(CAST(127 AS BIGINT), floor(CAST(x AS DOUBLE) / sv + 0.5d))) AS DOUBLE) * sv),
                  CAST(0 AS BIGINT),
                  (a, e) -> a + CAST(floor(1e12 * e * e + 0.5d) AS BIGINT)) END""").as("pv_pico"),
          expr("""aggregate(zip_with(embedding, ds,
                  (x, sd) -> CASE WHEN sd = 0.0 THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(x AS DOUBLE) - CAST(greatest(CAST(-127 AS BIGINT),
                      least(CAST(127 AS BIGINT), floor(CAST(x AS DOUBLE) / sd + 0.5d))) AS DOUBLE) * sd END),
                  CAST(0 AS BIGINT),
                  (a, e) -> a + CAST(floor(1e12 * e * e + 0.5d) AS BIGINT))""").as("pd_pico"),
          expr("CAST(floor(1e9 * sv + 0.5d) AS BIGINT)").as("sv_nano"),
          size(col("embedding")).cast("long").as("nelem"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(expr("CAST(pv_pico AS DECIMAL(38,0))")).as("pvs"),
          sum(expr("CAST(pd_pico AS DECIMAL(38,0))")).as("pds"),
          sum(expr("CAST(sv_nano AS DECIMAL(38,0))")).as("svs"),
          sum("nelem").as("ne"))
        .select(col("label"), col("n_vecs"),
          expr("CAST(pvs AS BIGINT)").as("pv_err_pico"),
          expr("CAST(pds AS BIGINT)").as("pd_err_pico"),
          expr("CAST(pvs div ne AS BIGINT)").as("pv_err_per_elem_pico"),
          expr("CAST(pds div ne AS BIGINT)").as("pd_err_per_elem_pico"),
          expr("CAST(svs div n_vecs AS BIGINT)").as("avg_scale_nano"))
        .orderBy("label")
    },
    Some("""
      WITH e AS (SELECT CAST(label AS BIGINT) AS label, embedding,
                        list_max(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sv
                 FROM embeddings),
      dims AS (SELECT pos, max(abs(CAST(x AS DOUBLE))) / 127.0 AS sd
               FROM (SELECT generate_subscripts(embedding, 1) AS pos,
                            unnest(embedding) AS x FROM embeddings)
               GROUP BY pos),
      dl AS (SELECT list(sd ORDER BY pos) AS ds FROM dims),
      per AS (SELECT label,
        CASE WHEN sv = 0.0 THEN CAST(0 AS BIGINT) ELSE
          CAST(list_sum(list_transform(embedding, x ->
            CAST(floor(1e12
              * (CAST(x AS DOUBLE) - greatest(-127.0, least(127.0,
                   floor(CAST(x AS DOUBLE) / sv + 0.5))) * sv)
              * (CAST(x AS DOUBLE) - greatest(-127.0, least(127.0,
                   floor(CAST(x AS DOUBLE) / sv + 0.5))) * sv)
              + 0.5) AS BIGINT))) AS BIGINT) END AS pv_pico,
        CAST(list_sum(list_transform(range(1, len(embedding) + 1), i ->
          CAST(floor(1e12
            * (CASE WHEN ds[i] = 0.0 THEN 0.0
                 ELSE CAST(embedding[i] AS DOUBLE) - greatest(-127.0, least(127.0,
                   floor(CAST(embedding[i] AS DOUBLE) / ds[i] + 0.5))) * ds[i] END)
            * (CASE WHEN ds[i] = 0.0 THEN 0.0
                 ELSE CAST(embedding[i] AS DOUBLE) - greatest(-127.0, least(127.0,
                   floor(CAST(embedding[i] AS DOUBLE) / ds[i] + 0.5))) * ds[i] END)
            + 0.5) AS BIGINT))) AS BIGINT) AS pd_pico,
        CAST(floor(1e9 * sv + 0.5) AS BIGINT) AS sv_nano,
        CAST(len(embedding) AS BIGINT) AS nelem
        FROM e CROSS JOIN dl)
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(CAST(pv_pico AS HUGEINT)) AS BIGINT) AS pv_err_pico,
             CAST(sum(CAST(pd_pico AS HUGEINT)) AS BIGINT) AS pd_err_pico,
             CAST(sum(CAST(pv_pico AS HUGEINT)) // sum(nelem) AS BIGINT) AS pv_err_per_elem_pico,
             CAST(sum(CAST(pd_pico AS HUGEINT)) // sum(nelem) AS BIGINT) AS pd_err_per_elem_pico,
             CAST(sum(CAST(sv_nano AS HUGEINT)) // count(*) AS BIGINT) AS avg_scale_nano
      FROM per GROUP BY label ORDER BY label"""))

  // --------------------------------------------------------------- q353

  /** Deterministic TFRecord shard per document for q353: 1 + k%5
    * records with closed-function payload lengths; every 17th doc
    * gets one payload byte of its LAST record flipped (payload-CRC
    * failure), every 19th (that isn't a 17th) loses its final 4
    * bytes (truncated trailing CRC) — so the stop-don't-guess walk
    * has all three exits to prove.
    */
  private def synthTfRecordPayloads(s: SparkSession, dir: String): DataFrame =
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      val nRec = 1 + k % 5
      val lens = (0 until nRec).map(r => 50 + (k * 13 + r * 7) % 200)
      val blob = graft.operators.TfRecordOps.encodeSynthetic(lens)
      if (k % 17 == 0) {
        val flipped = blob.clone()
        val off = blob.length - 4 - lens.last // last payload byte 0
        flipped(off) = (flipped(off) ^ 0xFF).toByte
        flipped
      } else if (k % 19 == 0) blob.dropRight(4)
      else blob
    }

  /** q353 — TFRecord shard census, exactly oracle-gated: the
    * training-shard member of the container family — the format TF
    * datasets actually ship in, length-framed with TWO masked CRC32C
    * checksums per record, both verified by
    * [[graft.operators.TfRecordOps.parse]] (a flipped length byte
    * would desynchronize every later record; the walk trusts nothing
    * it can't check). Corruption branches injected deterministically:
    * payload-CRC flip and truncated trailing CRC both stop the walk
    * at that record's start (different `trailing_bytes` arithmetic —
    * the oracle replays both exactly); `clean_eof` separates shards
    * that end on a record boundary. Map-only, zero shuffles.
    * Adversarial inputs (length-byte flip, length-CRC flip, header
    * truncation, zero-length record, record-header bytes inside a
    * payload) spec-pinned in TfRecordOpsSpec.
    */
  val q353 = Q("q353_tfrecord_census",
    (s, dir) =>
      graft.operators.TfRecordOps
        .tfrecordFeatures(synthTfRecordPayloads(s, dir), "doc_id", "payload")
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      base AS (SELECT doc_id, k, 1 + k % 5 AS r FROM p),
      lens AS (SELECT doc_id, k, r,
                      CAST(50 + (k * 13 + (r - 1) * 7) % 200 AS BIGINT) AS last_len,
                      (SELECT CAST(sum(50 + (k * 13 + u.ri * 7) % 200) AS BIGINT)
                       FROM (SELECT unnest(range(r)) AS ri) u) AS tot_len
               FROM base),
      m AS (SELECT doc_id,
                   CASE WHEN k % 17 = 0 OR k % 19 = 0 THEN r - 1 ELSE r END AS n_records,
                   CASE WHEN k % 17 = 0 OR k % 19 = 0 THEN tot_len - last_len
                        ELSE tot_len END AS sum_payload_bytes,
                   CASE WHEN k % 17 = 0 THEN 16 + last_len
                        WHEN k % 19 = 0 THEN 12 + last_len
                        ELSE 0 END AS trailing_bytes,
                   CASE WHEN k % 17 = 0 OR k % 19 = 0 THEN 0 ELSE 1 END AS clean_eof
            FROM lens)
      SELECT doc_id, CAST(n_records AS BIGINT) AS n_records,
             CAST(sum_payload_bytes AS BIGINT) AS sum_payload_bytes,
             CAST(16 * n_records AS BIGINT) AS overhead_bytes,
             CAST(trailing_bytes AS BIGINT) AS trailing_bytes,
             CAST(clean_eof AS BIGINT) AS clean_eof
      FROM m ORDER BY doc_id"""))

  // --------------------------------------------------------------- q355

  /** Deterministic safetensors file per document for q355: 1 + k%4
    * tensors with cycling dtypes and closed-function shapes; every
    * 17th doc declares its LAST tensor one byte short (span ≠
    * Π(shape)·sizeof — the header lies about the math), every 19th
    * (not 17th) ships 3 fewer data bytes than the header promises
    * (truncated download).
    */
  private def synthSafeTensorsPayloads(s: SparkSession, dir: String): DataFrame = {
    val dtypes = Array("F32", "F16", "I8")
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      val plan = (0 until 1 + k % 4).map { r =>
        (s"t$r", dtypes((k + r) % 3), Seq(8 + k % 5, 4 + r % 3))
      }
      graft.operators.SafeTensorsOps.encodeSynthetic(plan,
        spanDelta = if (k % 17 == 0) 1L else 0L,
        dropData = if (k % 17 != 0 && k % 19 == 0) 3 else 0)
    }
  }

  /** q355 — SafeTensors header audit, exactly oracle-gated: the
    * weights-container member of the container family — what a fleet
    * must verify before mmap-ing a checkpoint. The walker
    * ([[graft.operators.SafeTensorsOps.parse]]) reads the 8-byte LE
    * header length, parses the header with a REAL JSON parser, and
    * checks per tensor that the declared byte span equals
    * `Π(shape)·sizeof(dtype)`, that spans tile the data section
    * contiguously from 0, and that the file holds the bytes the
    * header promises. The oracle rebuilds the exact header STRING in
    * SQL (same concatenation, character for character) so even
    * `header_bytes` is cross-engine-exact. Map-only, zero shuffles;
    * malformed-prefix/garbage-JSON exits spec-pinned in
    * SafeTensorsOpsSpec.
    */
  val q355 = Q("q355_safetensors_audit",
    (s, dir) =>
      graft.operators.SafeTensorsOps
        .safetensorsFeatures(synthSafeTensorsPayloads(s, dir), "doc_id", "payload")
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      t AS (SELECT doc_id, k, unnest(range(1 + k % 4)) AS r FROM p),
      e AS (SELECT doc_id, k, r,
                   CAST(8 + k % 5 AS BIGINT) AS a,
                   CAST(4 + r % 3 AS BIGINT) AS b,
                   CASE (k + r) % 3 WHEN 0 THEN 'F32' WHEN 1 THEN 'F16'
                        ELSE 'I8' END AS dt,
                   CASE (k + r) % 3 WHEN 0 THEN 4 WHEN 1 THEN 2 ELSE 1 END AS sz
            FROM t),
      o AS (SELECT *, a * b AS params, a * b * sz AS bytes,
                   COALESCE(sum(a * b * sz) OVER (PARTITION BY doc_id ORDER BY r
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st,
                   max(r) OVER (PARTITION BY doc_id) AS rmax
            FROM e),
      o2 AS (SELECT *, st + bytes
                       - CASE WHEN k % 17 = 0 AND r = rmax THEN 1 ELSE 0 END AS en
             FROM o),
      m AS (SELECT doc_id, k,
                   CAST(count(*) AS BIGINT) AS n_tensors,
                   CAST(sum(params) AS BIGINT) AS param_count,
                   CAST(length('{' || string_agg(
                     '"t' || r || '":{"dtype":"' || dt || '","shape":[' || a ||
                     ',' || b || '],"data_offsets":[' || st || ',' || en || ']}',
                     ',' ORDER BY r) || '}') AS BIGINT) AS header_bytes,
                   CAST(max(en) AS BIGINT) AS data_bytes
            FROM o2 GROUP BY doc_id, k)
      SELECT doc_id, CAST(1 AS BIGINT) AS valid_json, n_tensors, param_count,
             header_bytes, data_bytes,
             CAST(CASE WHEN k % 17 = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS n_size_mismatch,
             CAST(1 AS BIGINT) AS contiguous,
             CAST(CASE WHEN k % 17 <> 0 AND k % 19 = 0 THEN 1 ELSE 0 END
               AS BIGINT) AS truncated,
             CAST(CASE WHEN k % 17 = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS trailing_bytes
      FROM m ORDER BY doc_id"""))

  // --------------------------------------------------------------- q358

  /** Deterministic GGUF header per document for q358: two string KVs
    * (architecture, model name), 1 + k%3 scalar KVs with cycling
    * types, an array KV on even k, and 1 + k%4 tensor infos; every
    * 17th doc carries an unknown value-type id on its SECOND KV
    * (typed-walk desync trap), every 19th (not 17th) loses its last
    * 5 bytes (truncation inside the final tensor info).
    */
  private def synthGgufPayloads(s: SparkSession, dir: String): DataFrame = {
    val archs = Array("llama", "gpt2", "phi3")
    Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
      val k = (id % 50).toInt
      graft.operators.GgufOps.encodeSynthetic(
        kvStrings = Seq("general.architecture" -> archs(k % 3),
          "general.name" -> s"m$k"),
        kvScalars = (0 until 1 + k % 3).map(j => s"s$j" -> Array(4, 6, 10)((k + j) % 3)),
        kvArrays = if (k % 2 == 0) Seq("arr" -> (3 + k % 4)) else Seq.empty,
        tensors = (0 until 1 + k % 4).map(r =>
          (s"blk.$r.w", Seq((8 + k % 5).toLong, (4 + r % 3).toLong), (k + r) % 3)),
        dropTail = if (k % 17 != 0 && k % 19 == 0) 5 else 0,
        badTypeAt = if (k % 17 == 0) 1 else -1)
    }
  }

  /** q358 — GGUF header census, exactly oracle-gated: the quantized-
    * weights sibling of q355 (the llama.cpp mmap format). The
    * metadata walk is TYPED — one wrong value-type id would
    * desynchronize every later byte, so
    * [[graft.operators.GgufOps.parse]] validates each id against the
    * v3 width table and stops (valid=0, remainder as trailing) at the
    * first unknown one; tensor-info truncation likewise stops at that
    * entry's start. The oracle replays the entire byte layout
    * closed-form — every KV entry size, the desync stop position, and
    * the truncation trailing arithmetic. Map-only, zero shuffles;
    * adversarial inputs spec-pinned in GgufOpsSpec.
    */
  val q358 = Q("q358_gguf_census",
    (s, dir) =>
      graft.operators.GgufOps
        .ggufFeatures(synthGgufPayloads(s, dir), "doc_id", "payload")
        .orderBy("doc_id"),
    Some("""
      WITH p AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      sc AS (SELECT doc_id, CAST(sum(14 + CASE (k + u.j) % 3 WHEN 2 THEN 8
                                          ELSE 4 END) AS BIGINT) AS scal_bytes,
                    CAST(count(*) AS BIGINT) AS n_scal
             FROM p, (SELECT unnest(range(3)) AS j) u
             WHERE u.j < 1 + k % 3 GROUP BY doc_id),
      tp AS (SELECT doc_id,
                    CAST(sum((8 + k % 5) * (4 + u.r % 3)) AS BIGINT) AS params_all,
                    CAST(sum(CASE WHEN u.r < k % 4 THEN (8 + k % 5) * (4 + u.r % 3)
                                  ELSE 0 END) AS BIGINT) AS params_butlast
             FROM p, (SELECT unnest(range(4)) AS r) u
             WHERE u.r < 1 + k % 4 GROUP BY doc_id),
      sz AS (SELECT p.doc_id, p.k, sc.n_scal, tp.params_all, tp.params_butlast,
                    CAST(40 + CASE WHEN p.k % 3 = 0 THEN 5 ELSE 4 END AS BIGINT) AS kv0,
                    CAST(33 + length(CAST(p.k AS VARCHAR)) AS BIGINT) AS kv1,
                    sc.scal_bytes,
                    CAST(CASE WHEN p.k % 2 = 0 THEN 27 + 4 * (3 + p.k % 4)
                         ELSE 0 END AS BIGINT) AS arr_bytes,
                    CAST(1 + p.k % 4 AS BIGINT) AS nt
             FROM p JOIN sc ON sc.doc_id = p.doc_id
                    JOIN tp ON tp.doc_id = p.doc_id),
      m AS (SELECT doc_id, k, n_scal, nt, params_all, params_butlast,
                   kv0, kv1, scal_bytes, arr_bytes,
                   kv0 + kv1 + scal_bytes + arr_bytes AS kv_all,
                   24 + kv0 + kv1 + scal_bytes + arr_bytes + 47 * nt AS total
            FROM sz)
      SELECT doc_id,
             CAST(CASE WHEN k % 17 = 0 OR k % 19 = 0 THEN 0 ELSE 1 END AS BIGINT)
               AS valid,
             CAST(3 AS BIGINT) AS version,
             CAST(CASE WHEN k % 17 = 0 THEN 1
                  ELSE 2 + n_scal + CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END END
               AS BIGINT) AS n_kv,
             CAST(CASE WHEN k % 17 = 0 THEN 1 ELSE 2 END AS BIGINT) AS n_kv_string,
             CAST(CASE WHEN k % 17 = 0 THEN 0 ELSE n_scal END AS BIGINT)
               AS n_kv_scalar,
             CAST(CASE WHEN k % 17 = 0 THEN 0
                  WHEN k % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_kv_array,
             CAST(CASE WHEN k % 17 = 0 THEN kv0 ELSE kv_all END AS BIGINT)
               AS kv_bytes,
             CAST(CASE WHEN k % 17 = 0 THEN 0
                  WHEN k % 19 = 0 THEN nt - 1 ELSE nt END AS BIGINT) AS n_tensors,
             CAST(CASE WHEN k % 17 = 0 THEN 0
                  WHEN k % 19 = 0 THEN params_butlast
                  ELSE params_all END AS BIGINT) AS param_count,
             CAST(CASE WHEN k % 17 = 0 THEN 24 + kv0
                  WHEN k % 19 = 0 THEN total - 47
                  ELSE total END AS BIGINT) AS header_bytes,
             CAST(CASE WHEN k % 17 = 0 THEN total - 24 - kv0
                  WHEN k % 19 = 0 THEN 42 ELSE 0 END AS BIGINT) AS trailing_bytes
      FROM m ORDER BY doc_id"""))

  // --------------------------------------------------------------- q356

  /** q356 — Matryoshka (MRL) truncation recall curve: the OTHER
    * embedding-compression knob next to q351's int8 — serving stacks
    * trained with Matryoshka representation learning keep only the
    * first d dimensions to cut index size, and this audit measures
    * what that costs in neighbor fidelity: exact top-1 cosine over
    * the full 64 dims vs the first 16 and first 32 (`slice` — a
    * map-side transform), agreement per (label, dims) in exact micro
    * units plus the nano-quantized cosine mass of the truncated run.
    * DEFAULT is the sampled audit: all three top-1 passes run over
    * the deterministic `spark.graft.nnSampleSize` (200) probe sample
    * against the FULL index ([[graft.operators.Similarity
    * .auditProbes]] — id-hashed, so every truncation level samples
    * the SAME ids) — O(S·n); the full all-pairs audit is conf-gated
    * behind `spark.graft.exactNN=true`. Each pass is q268's
    * block-nested-loop `top1ExactFor` (bounded chunks, chunk-ID-only
    * broadcast, map-side-combined argmax); ties break toward the
    * smaller id in both engines.
    */
  val q356 = Q("q356_mrl_recall",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val t1f = graft.operators.Similarity.top1ExactFor(
          graft.operators.Similarity.auditProbes(emb, "vec_id"),
          emb, "vec_id", "embedding")
        .select(col("vec_id"), col("nb").as("nb_f"))
      val labels = emb.select(col("vec_id"), col("label").cast("long").as("label"))
      val byDims = Seq(16, 32).map { d =>
        val sliced = emb.select(col("vec_id"),
          expr(s"slice(embedding, 1, $d)").as("embedding"))
        graft.operators.Similarity.top1ExactFor(
            graft.operators.Similarity.auditProbes(sliced, "vec_id"),
            sliced, "vec_id", "embedding")
          .select(col("vec_id").as("vid_t"), col("nb").as("nb_t"),
            col("cos").as("cos_t"), lit(d.toLong).as("dims"))
      }.reduce(_ unionAll _)
      labels.join(t1f, "vec_id")
        .join(byDims, col("vec_id") === col("vid_t"))
        .select(col("label"), col("dims"),
          (col("nb_f") === col("nb_t")).cast("long").as("same"),
          expr("CAST(round(1e9 * cos_t) AS BIGINT)").as("ct"))
        .groupBy("label", "dims")
        .agg(count(lit(1)).as("n_vecs"), sum("same").as("n_top1_same"),
          sum("ct").as("cos_trunc_nano"))
        .withColumn("recall_micro", expr(
          "CAST((CAST(n_top1_same AS DECIMAL(38,0)) * 1000000) div n_vecs AS BIGINT)"))
        .orderBy("label", "dims")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding
                 FROM embeddings),
      samp AS (SELECT vec_id FROM embeddings
               ORDER BY ${duckHash64("'nnsample:' || CAST(vec_id AS VARCHAR)")},
                        vec_id
               LIMIT 200),
      simf AS (SELECT a.vec_id, b.vec_id AS nb,
                      ${duckDot("a.embedding", "b.embedding")}
                        / (sqrt(${duckDot("a.embedding", "a.embedding")})
                           * sqrt(${duckDot("b.embedding", "b.embedding")})) AS cos
               FROM e a JOIN e b ON a.vec_id <> b.vec_id
               WHERE a.vec_id IN (SELECT vec_id FROM samp)),
      t1f AS (SELECT vec_id, nb FROM (
                SELECT *, row_number() OVER
                  (PARTITION BY vec_id ORDER BY cos DESC, nb ASC) AS r
                FROM simf) WHERE r = 1),
      d AS (SELECT vec_id, label, CAST(dd.dims AS BIGINT) AS dims,
                   embedding[1:dd.dims] AS te
            FROM e CROSS JOIN (VALUES (16), (32)) AS dd(dims)),
      simt AS (SELECT a.vec_id, a.dims, b.vec_id AS nb,
                      ${duckDot("a.te", "b.te")}
                        / (sqrt(${duckDot("a.te", "a.te")})
                           * sqrt(${duckDot("b.te", "b.te")})) AS cos
               FROM d a JOIN d b ON a.vec_id <> b.vec_id AND a.dims = b.dims
               WHERE a.vec_id IN (SELECT vec_id FROM samp)),
      t1t AS (SELECT vec_id, dims, nb, cos FROM (
                SELECT *, row_number() OVER
                  (PARTITION BY vec_id, dims ORDER BY cos DESC, nb ASC) AS r
                FROM simt) WHERE r = 1),
      j AS (SELECT e.label, t.dims,
                   CASE WHEN f.nb = t.nb THEN 1 ELSE 0 END AS same,
                   CAST(round(1e9 * t.cos) AS BIGINT) AS ct
            FROM e JOIN t1f f ON f.vec_id = e.vec_id
                   JOIN t1t t ON t.vec_id = e.vec_id)
      SELECT label, dims, CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(same) AS BIGINT) AS n_top1_same,
             CAST(sum(ct) AS BIGINT) AS cos_trunc_nano,
             CAST((CAST(sum(same) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
               AS recall_micro
      FROM j GROUP BY label, dims ORDER BY label, dims"""))

  // --------------------------------------------------------------- q351

  /** q351 — int8 quantization RECALL audit: q346 prices the numeric
    * error of shipping vectors as int8; this query answers the
    * question the search team actually asks — does quantization
    * change who the nearest neighbor IS? Per label: exact top-1
    * cosine neighbors computed twice (original floats vs per-vector
    * absmax int8 dequantized back to float) and compared;
    * `recall_micro` = agreement rate in exact micro units, plus the
    * nano-quantized cosine mass of both runs (how much similarity
    * score the store gives up). DEFAULT is the sampled audit: both
    * top-1 passes run over the deterministic
    * `spark.graft.nnSampleSize` (200) probe sample against the FULL
    * index ([[graft.operators.Similarity.auditProbes]] — the same ids
    * under both representations, since the sample hashes ids, not
    * content) — O(S·n), linear in the corpus; the full all-pairs
    * audit is conf-gated behind `spark.graft.exactNN=true`. Each pass
    * is the block-nested-loop shape of q268 ([[graft.operators
    * .Similarity.top1ExactFor]]: bounded chunk rows, broadcast of
    * chunk IDS only, in-row local argmax, map-side-combined
    * `max(struct)` global argmax — no window over n² rows, no
    * full-table broadcast); the
    * quantize/dequantize step is a map-side `transform`. Ties break
    * toward the smaller neighbor id in both engines, and per-row
    * cosines are nano-quantized before the group sum.
    */
  val q351 = Q("q351_quant_recall",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val dequant = emb
        .withColumn("sv", expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE)))) / 127.0"))
        .select(col("vec_id"), expr(
          """transform(embedding, x -> CAST(CAST(greatest(CAST(-127 AS BIGINT),
            |  least(CAST(127 AS BIGINT), floor(CAST(x AS DOUBLE) / sv + 0.5d))) AS DOUBLE)
            |  * sv AS FLOAT))""".stripMargin).as("embedding"))
      val t1f = graft.operators.Similarity.top1ExactFor(
          graft.operators.Similarity.auditProbes(emb, "vec_id"),
          emb, "vec_id", "embedding")
        .select(col("vec_id"), col("nb").as("nb_f"), col("cos").as("cos_f"))
      val t1q = graft.operators.Similarity.top1ExactFor(
          graft.operators.Similarity.auditProbes(dequant, "vec_id"),
          dequant, "vec_id", "embedding")
        .select(col("vec_id").as("vid_q"), col("nb").as("nb_q"), col("cos").as("cos_q"))
      emb.select(col("vec_id"), col("label").cast("long").as("label"))
        .join(t1f, "vec_id")
        .join(t1q, col("vec_id") === col("vid_q"))
        .select(col("label"),
          (col("nb_f") === col("nb_q")).cast("long").as("same"),
          expr("CAST(round(1e9 * cos_f) AS BIGINT)").as("cf"),
          expr("CAST(round(1e9 * cos_q) AS BIGINT)").as("cq"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), sum("same").as("n_top1_same"),
          sum("cf").as("cos_float_nano"), sum("cq").as("cos_int8_nano"))
        .withColumn("recall_micro", expr(
          "CAST((CAST(n_top1_same AS DECIMAL(38,0)) * 1000000) div n_vecs AS BIGINT)"))
        .orderBy("label")
    },
    Some(s"""
      WITH sv AS (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
                         list_max(list_transform(embedding,
                           x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sv
                  FROM embeddings),
      dq AS (SELECT vec_id, label, embedding,
                    list_transform(embedding, x -> CAST(greatest(-127.0,
                      least(127.0, floor(CAST(x AS DOUBLE) / sv + 0.5))) * sv
                      AS REAL)) AS qe
             FROM sv),
      samp AS (SELECT vec_id FROM embeddings
               ORDER BY ${duckHash64("'nnsample:' || CAST(vec_id AS VARCHAR)")},
                        vec_id
               LIMIT 200),
      simf AS (SELECT a.vec_id, b.vec_id AS nb,
                      ${duckDot("a.embedding", "b.embedding")}
                        / (sqrt(${duckDot("a.embedding", "a.embedding")})
                           * sqrt(${duckDot("b.embedding", "b.embedding")})) AS cos
               FROM dq a JOIN dq b ON a.vec_id <> b.vec_id
               WHERE a.vec_id IN (SELECT vec_id FROM samp)),
      simq AS (SELECT a.vec_id, b.vec_id AS nb,
                      ${duckDot("a.qe", "b.qe")}
                        / (sqrt(${duckDot("a.qe", "a.qe")})
                           * sqrt(${duckDot("b.qe", "b.qe")})) AS cos
               FROM dq a JOIN dq b ON a.vec_id <> b.vec_id
               WHERE a.vec_id IN (SELECT vec_id FROM samp)),
      t1f AS (SELECT vec_id, nb, cos FROM (
                SELECT *, row_number() OVER
                  (PARTITION BY vec_id ORDER BY cos DESC, nb ASC) AS r
                FROM simf) WHERE r = 1),
      t1q AS (SELECT vec_id, nb, cos FROM (
                SELECT *, row_number() OVER
                  (PARTITION BY vec_id ORDER BY cos DESC, nb ASC) AS r
                FROM simq) WHERE r = 1),
      j AS (SELECT s.label,
                   CASE WHEN f.nb = q.nb THEN 1 ELSE 0 END AS same,
                   CAST(round(1e9 * f.cos) AS BIGINT) AS cf,
                   CAST(round(1e9 * q.cos) AS BIGINT) AS cq
            FROM sv s JOIN t1f f ON f.vec_id = s.vec_id
                      JOIN t1q q ON q.vec_id = s.vec_id)
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(same) AS BIGINT) AS n_top1_same,
             CAST(sum(cf) AS BIGINT) AS cos_float_nano,
             CAST(sum(cq) AS BIGINT) AS cos_int8_nano,
             CAST((CAST(sum(same) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
               AS recall_micro
      FROM j GROUP BY label ORDER BY label"""))

  // --------------------------------------------------------------- q362

  /** q362 — embedding anisotropy audit per label: the average pairwise
    * cosine among UNIT vectors — the "embedding collapse" diagnostic
    * (Ethayarajh 2019): contextual/embedding spaces drift toward a
    * narrow cone, average pairwise cosine ≫ 0, and similarity scores
    * lose contrast, which silently degrades every cosine-threshold
    * dedup/decontam pass downstream. The naive audit is O(n²·d) pairs;
    * this uses the MOMENT identity — for unit vectors v̂,
    * Σ_{i≠j} cos(v_i, v_j) = ‖Σv̂‖² − n — so ONE linear pass
    * (normalize map-side, per-(label, dim) exact sums = |labels|·d
    * cells, bounded rollup) answers exactly what all-pairs would.
    *
    * Exactness: unit components quantize to 1e-9 longs (floor(x+0.5)
    * round-half-up — engine-identical for negatives too) BEFORE the
    * sum; per-dim squares quantize to 1e-12 and sum in DECIMAL(38,0)/
    * HUGEINT (n² · 1e12 exceeds int64 at corpus scale). The norm mean
    * rides along in exact micro units.
    */
  val q362 = Q("q362_anisotropy",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val unit = emb.select(col("label").cast("long").as("label"), col("embedding"),
          expr("sqrt(graft_dot(embedding, embedding))").as("nrm"))
        .select(col("label"), col("nrm"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE) / nrm)").as("u"))
      val cells = unit
        .select(col("label"), posexplode(col("u")).as(Seq("i", "x")))
        .select(col("label"), col("i"),
          expr("CAST(floor(x * 1e9 + 0.5) AS BIGINT)").as("q"))
        .groupBy("label", "i").agg(sum("q").as("sq"))
      val t = cells
        .select(col("label"), expr(
          """CAST(floor((CAST(sq AS DOUBLE) / 1e9) * (CAST(sq AS DOUBLE) / 1e9)
            | * 1e12 + 0.5) AS DECIMAL(38,0))""".stripMargin).as("tq"))
        .groupBy("label").agg(sum("tq").as("t"))
      val nn = unit.groupBy("label").agg(count(lit(1)).as("n_vecs"),
        sum(expr("CAST(floor(nrm * 1e6 + 0.5) AS BIGINT)")).as("qn"))
      nn.join(t, "label")
        .select(col("label"), col("n_vecs"),
          expr("CAST(CAST(qn AS DECIMAL(38,0)) div n_vecs AS BIGINT)").as("norm_mean_micro"),
          // a single-vector label has no pairs: NULL, not a 0/0 NaN
          expr("""CASE WHEN n_vecs < 2 THEN NULL ELSE
                 | round((CAST(t AS DOUBLE) / 1e12 - n_vecs)
                 | / (CAST(n_vecs AS DOUBLE) * (n_vecs - 1)), 6) END""".stripMargin)
            .as("mean_pair_cos"))
        .orderBy("label")
    },
    Some(s"""
      WITH u AS (SELECT CAST(label AS BIGINT) AS label,
                        sqrt(${duckDot("embedding", "embedding")}) AS nrm,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)
                          / sqrt(${duckDot("embedding", "embedding")})) AS u
                 FROM embeddings),
      cells AS (SELECT label, i, sum(CAST(floor(u[i] * 1e9 + 0.5) AS BIGINT)) AS sq
                FROM u CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
                GROUP BY label, i),
      t AS (SELECT label,
                   sum(CAST(floor((CAST(sq AS DOUBLE) / 1e9) * (CAST(sq AS DOUBLE) / 1e9)
                     * 1e12 + 0.5) AS HUGEINT)) AS t
            FROM cells GROUP BY label),
      nn AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
                    sum(CAST(floor(nrm * 1e6 + 0.5) AS BIGINT)) AS qn
             FROM u GROUP BY label)
      SELECT nn.label, n_vecs,
             CAST(CAST(qn AS HUGEINT) // n_vecs AS BIGINT) AS norm_mean_micro,
             CASE WHEN n_vecs < 2 THEN NULL ELSE
               round((CAST(t AS DOUBLE) / 1e12 - n_vecs)
                 / (CAST(n_vecs AS DOUBLE) * (n_vecs - 1)), 6) END AS mean_pair_cos
      FROM nn JOIN t ON nn.label = t.label
      ORDER BY nn.label"""))

  // --------------------------------------------------------------- q363

  /** q363 — sorted-neighborhood near-dup candidates: the THIRD classic
    * blocking strategy next to hash-bucket LSH (q36/q38) and prefix
    * filtering (q128) — sort the corpus by a locality-sensitive key
    * (48-bit simhash) and compare only ADJACENT rows. No bucket can
    * explode: candidate count is exactly n−1 regardless of data skew,
    * the property that makes sorted-neighborhood the safest first pass
    * on adversarial corpora (a 10k-identical-doc flood adds 10k
    * candidates, not C(10k,2)). The global order is assigned by
    * `zipWithIndexOrdered` (sort + per-partition zipWithIndex — NO
    * single-partition window), adjacency is one equi-join on rank.
    *
    * Planted clones (every 50th doc re-enters at doc_id+1e9) verify
    * detection: clone pairs surface at Hamming 0. Output: the 20
    * closest adjacent pairs by (hamming, id_a) — a TakeOrdered
    * shortlist, deterministic because (simhash, doc_id) is a total
    * order and ties break on ids.
    */
  val q363 = Q("q363_sorted_neighborhood",
    (s, dir) => {
      val base = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = base.unionByName(
        base.filter(pmod(col("doc_id"), lit(50)) === 0)
          .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
      // materialize (doc_id, simhash) BEFORE the RDD rank pass:
      // zipWithIndex makes two passes over its input and the adjacency
      // join reads both sides, so an unmaterialized 48-bit simhash
      // (48 aggregate folds over every token hash) would re-evaluate
      // up to 6× — measured 17 s vs ~2 s at sf0.1
      val keyed = docs.select(col("doc_id"),
          Dedup.simhash(col("text"), 48).as("sh"))
        .localCheckpoint(false)
      val ranked = graft.operators.Relational.zipWithIndexOrdered(
          keyed, "rk", col("sh"), col("doc_id"))
        .localCheckpoint(false)
      val a = ranked.select(col("rk"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = ranked.select((col("rk") - 1).as("rk"),
        col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, "rk")
        .select(col("id_a"), col("id_b"),
          expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)").as("hamming"))
        .orderBy(col("hamming"), col("id_a"))
        .limit(20)
        .orderBy(col("hamming"), col("id_a"))
    },
    Some(s"""
      WITH docs AS (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT doc_id + 1000000000, text FROM documents
                    WHERE doc_id % 50 = 0),
      t AS (SELECT doc_id, list_distinct($duckTokens) AS w
            FROM docs),
      h AS (SELECT doc_id, list_transform(w, x -> ${duckHash64("x")}) AS hs FROM t),
      k AS (SELECT doc_id,
              CAST(list_sum(list_transform(range(0, 48), b ->
                CASE WHEN list_sum(list_transform(hs, v -> ((v >> b) & 1) * 2 - 1)) > 0
                     THEN CAST(1 AS BIGINT) << b ELSE 0 END)) AS BIGINT) AS sh
            FROM h),
      r AS (SELECT doc_id, sh,
                   row_number() OVER (ORDER BY sh, doc_id) AS rk
            FROM k),
      adj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
              FROM r a JOIN r b ON b.rk = a.rk + 1)
      SELECT id_a, id_b, hamming FROM adj
      ORDER BY hamming, id_a LIMIT 20"""))

  // --------------------------------------------------------------- q364

  /** q364 — cross-source n-gram containment matrix: for every ordered
    * source pair (s1, s2), the share of s1's distinct 3-gram shingles
    * that also occur in s2 — the corpus-overlap audit behind mixture
    * design (is one crawl a subset of another? which sources share
    * boilerplate mass?) and the source-level companion of the per-doc
    * decontamination checks (q62/q196). Grams travel as the corpus-
    * standard 31-bit shingle hashes (the q62/q128 domain — never gram
    * strings); at ≫10M distinct grams per source the birthday bound
    * inflates shared counts (~|g1|·|g2|/2³¹ expected collisions), so a
    * deployment at that scale widens the kernel mask — the plan shape
    * is unchanged. The join key is the gram hash, and a gram present
    * in k sources fans out to k² ≤ |sources|² pairs — bounded by the
    * source-count square, NOT by document count, so the shape survives
    * any corpus size (one gram shuffle + one |sources|²-cell rollup).
    */
  val q364 = Q("q364_source_containment",
    (s, dir) => {
      // conf-widened hash space (Dedup.ShingleBitsKey — the scaladoc
      // there carries the birthday-bound arithmetic this query's own
      // NOTE used to state); the oracle replays the 31-bit default,
      // ShingleWidthSpec pins 31-vs-48-bit behavior
      val grams = Tables.load(s, dir, "documents")
        .select(col("source"),
          explode(graft.operators.Dedup.shingleHashesWide(s, col("text"), 3)).as("h"))
        .distinct()
      val tot = grams.groupBy("source").agg(count(lit(1)).as("n_grams"))
      val shared = grams.join(grams.select(col("source").as("source_b"), col("h")), "h")
        .filter(col("source") =!= col("source_b"))
        .groupBy(col("source"), col("source_b")).agg(count(lit(1)).as("n_shared"))
      shared.join(broadcast(tot), "source")
        .select(col("source").as("source_a"), col("source_b"),
          col("n_shared"), col("n_grams").as("n_grams_a"),
          expr("CAST((CAST(n_shared AS DECIMAL(38,0)) * 1000000) div n_grams AS BIGINT)")
            .as("containment_micro"))
        .orderBy("source_a", "source_b")
    },
    Some(s"""
      WITH t AS (SELECT source, $duckTokens AS w FROM documents),
      sh AS (SELECT source,
               CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                    ELSE list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
               END AS g
             FROM t),
      e AS (SELECT DISTINCT source, ${duckHash64("gg")} & ${Dedup.DefaultShingleMask} AS h
            FROM (SELECT source, unnest(g) AS gg FROM sh)),
      tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM e GROUP BY source),
      shared AS (SELECT a.source AS source_a, b.source AS source_b,
                        CAST(count(*) AS BIGINT) AS n_shared
                 FROM e a JOIN e b ON a.h = b.h AND a.source <> b.source
                 GROUP BY 1, 2)
      SELECT source_a, source_b, n_shared, n_grams AS n_grams_a,
             CAST((CAST(n_shared AS HUGEINT) * 1000000) // n_grams AS BIGINT)
               AS containment_micro
      FROM shared JOIN tot ON shared.source_a = tot.source
      ORDER BY source_a, source_b"""))

  // --------------------------------------------------------------- q366

  /** q366 — zstd frame census: structural triage of the codec modern
    * corpora actually ship in (Common Crawl WET.zst, HF dataset
    * shards), completing the compression-container family next to
    * q194's gzip DECODE. [[graft.operators.ZstdOps.parse]] walks
    * frames, skippable frames, and the 3-byte block headers — raw and
    * RLE blocks fully decode (no entropy coding needed), content size
    * and the real XXH64-low32 checksum are VERIFIED, and any
    * malformed structure rolls the frame back whole (fail-closed,
    * overflow-proof bounds, RLE-bomb cap — all spec-pinned in
    * ZstdOpsSpec). Per-doc synthetic frames derive every parameter
    * from doc_id, so the oracle recomputes the full census
    * closed-form from octet_length — a round-trip proof, not
    * self-consistency. Map-only, zero shuffles.
    */
  val q366 = Q("q366_zstd_census",
    (s, dir) => {
      import s.implicits._
      val synth = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val payload = text.getBytes("UTF-8")
            val b = graft.operators.ZstdOps.encodeSynthetic(payload,
              200 + (id % 4).toInt * 100, withChecksum = id % 3 == 0,
              skippableLen = if (id % 7 == 0) 16 else 0,
              rleLen = if (id % 5 == 0) 9 else 0)
            val out =
              if (id % 17 == 0) b.take(6)
              else if (id % 19 == 0) { val c = b.clone(); c(0) = (c(0) ^ 0xFF).toByte; c }
              else b
            (id, out)
          }
        }.toDF("doc_id", "payload")
      graft.operators.ZstdOps.zstdFeatures(synth, "doc_id", "payload")
        .select(col("doc_id"), col("valid"), col("n_frames"), col("n_skippable"),
          col("n_raw"), col("n_rle"), col("content_bytes"),
          col("checksum_present"), col("checksum_ok"), col("checksum_bad"),
          // raw/RLE-only frames must show ZERO literals sections — the
          // peek never invents literals from non-type-2 blocks
          col("lit_raw"), col("lit_rle"), col("lit_compressed"),
          col("lit_regen_bytes"), col("lit_malformed"),
          col("trailing_bytes"))
        .orderBy("doc_id")
    },
    Some("""
      WITH m AS (SELECT doc_id, octet_length(encode(text)) AS len,
                        200 + (doc_id % 4) * 100 AS bs,
                        CASE WHEN doc_id % 5 = 0 THEN 9 ELSE 0 END AS rle,
                        CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS cs,
                        CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS sk
                 FROM documents),
      c AS (SELECT *,
              CASE WHEN len = 0 THEN CASE WHEN rle > 0 THEN 0 ELSE 1 END
                   ELSE (len + bs - 1) // bs END AS nraw
            FROM m),
      f AS (SELECT *,
              13 + nraw * 3 + len
                + CASE WHEN rle > 0 THEN 4 ELSE 0 END + cs * 4 + sk * 24 AS total,
              (doc_id % 17 = 0 OR doc_id % 19 = 0) AS corrupt
            FROM c)
      SELECT doc_id,
             CAST(CASE WHEN corrupt THEN 0 ELSE 1 END AS BIGINT) AS valid,
             CAST(CASE WHEN corrupt THEN 0 ELSE 1 END AS BIGINT) AS n_frames,
             CAST(CASE WHEN corrupt THEN 0 ELSE sk END AS BIGINT) AS n_skippable,
             CAST(CASE WHEN corrupt THEN 0 ELSE nraw END AS BIGINT) AS n_raw,
             CAST(CASE WHEN corrupt THEN 0
                  WHEN rle > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_rle,
             CAST(CASE WHEN corrupt THEN 0 ELSE len + rle END AS BIGINT)
               AS content_bytes,
             CAST(CASE WHEN corrupt THEN 0 ELSE cs END AS BIGINT)
               AS checksum_present,
             CAST(CASE WHEN corrupt THEN 0 ELSE cs END AS BIGINT) AS checksum_ok,
             CAST(0 AS BIGINT) AS checksum_bad,
             CAST(0 AS BIGINT) AS lit_raw,
             CAST(0 AS BIGINT) AS lit_rle,
             CAST(0 AS BIGINT) AS lit_compressed,
             CAST(0 AS BIGINT) AS lit_regen_bytes,
             CAST(0 AS BIGINT) AS lit_malformed,
             CAST(CASE WHEN doc_id % 17 = 0 THEN 6
                  WHEN doc_id % 19 = 0 THEN total ELSE 0 END AS BIGINT)
               AS trailing_bytes
      FROM f ORDER BY doc_id"""))

  // --------------------------------------------------------------- q367

  /** q367 — Ogg codec census: per-logical-stream codec identification
    * from the first packet of each BOS page (RFC 7845 §5.1 OpusHead /
    * Vorbis I §4.2.2 id header — fixed-offset closed-form fields, no
    * entropy decode), the layer q329's page walk stops short of.
    * Channel count, sample rate, and Opus pre-skip come straight from
    * the id header, and the duration applies RFC 7845 §4's pre-skip
    * correction to the granule clock — the ms a bare page walk
    * overstates. Pages stay CRC-verified ([[graft.operators.OggOps
    * .codecMeta]] shares [[graft.operators.OggOps.parse]]'s walk).
    * Per-doc streams alternate Opus/Vorbis with id-derived parameters,
    * so the oracle recomputes the census closed-form — a round-trip
    * proof. Malformed classes (truncated id header, wrong version
    * nibble, CRC flip) spec-pinned in OggOpsSpec. Map-only, zero
    * shuffles.
    */
  val q367 = Q("q367_ogg_codec_census",
    (s, dir) => {
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val ch = 1 + k % 2
        val idPacket =
          if (k % 3 < 2) graft.operators.OggOps.opusHeadPacket(ch, 100 + k, 48000L)
          else graft.operators.OggOps.vorbisIdPacket(ch, 44100L)
        val data = Array.tabulate(40 + k)(i => ((i * 7 + k) % 251).toByte)
        graft.operators.OggOps.encodeSyntheticPackets(Seq(
          (2, 0L, idPacket),
          (4, 960L * (1 + k % 4), data)))
      }
      graft.operators.OggOps.oggCodecFeatures(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents)
      SELECT doc_id,
             CAST(1 AS BIGINT) AS n_streams,
             CAST(CASE WHEN k % 3 < 2 THEN 1 ELSE 0 END AS BIGINT) AS n_opus,
             CAST(CASE WHEN k % 3 = 2 THEN 1 ELSE 0 END AS BIGINT) AS n_vorbis,
             CAST(0 AS BIGINT) AS n_flac,
             CAST(0 AS BIGINT) AS n_other_codec,
             CAST(CASE WHEN k % 3 < 2 THEN 1 ELSE 2 END AS BIGINT) AS codec_id,
             CAST(1 + k % 2 AS BIGINT) AS channels,
             CAST(CASE WHEN k % 3 < 2 THEN 48000 ELSE 44100 END AS BIGINT) AS sample_rate,
             CAST(CASE WHEN k % 3 < 2 THEN 100 + k ELSE 0 END AS BIGINT) AS pre_skip,
             CAST(CASE WHEN k % 3 < 2
                  THEN (960 * (1 + k % 4) - (100 + k)) // 48
                  ELSE 0 END AS BIGINT) AS opus_duration_ms,
             CAST(0 AS BIGINT) AS trailing_bytes
      FROM d ORDER BY doc_id"""))

  // --------------------------------------------------------------- q370

  /** q370 — UTF-8 well-formedness census: byte-level structural
    * validation (RFC 3629) of raw payloads BEFORE any decode — the
    * structural twin of q350's mojibake heuristic (which sees only
    * already-decoded text; `new String(bytes, UTF_8)` silently
    * replaces malformed sequences, destroying exactly this signal).
    * Classifies every byte in one pass with WHATWG-style resync:
    * sequence-length mix, overlong forms, directly-encoded surrogates
    * (CESU-8/WTF-8 tells), beyond-U+10FFFF leads, and structural
    * breakage — the counts a 100 TB ingest routes on (reject, repair,
    * transcode) without materializing a String. Per-doc payloads
    * plant every class closed-form from doc_id; the oracle is pure
    * arithmetic. Map-only, zero shuffles.
    */
  val q370 = Q("q370_utf8_census",
    (s, dir) => {
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val bos = new java.io.ByteArrayOutputStream()
        (0 until 30 + k).foreach(i => bos.write('a' + i % 26))
        if (k % 5 == 0) bos.write(0x80) // stray continuation
        (0 until k % 4).foreach { _ => bos.write(0xC3); bos.write(0xA9) } // é
        if (k % 6 == 0) { bos.write(0xC0); bos.write(0x80) } // overlong NUL
        (0 until k % 3).foreach { _ =>
          bos.write(0xE2); bos.write(0x82); bos.write(0xAC) } // €
        if (k % 7 == 0) { bos.write(0xED); bos.write(0xA0); bos.write(0x80) } // U+D800
        (0 until k % 2).foreach { _ =>
          bos.write(0xF0); bos.write(0x9F); bos.write(0x98); bos.write(0x80) } // 😀
        if (k % 8 == 0) {
          bos.write(0xF4); bos.write(0x90); bos.write(0x80); bos.write(0x80) } // U+110000
        if (k % 9 == 0) { bos.write(0xE2); bos.write(0x82) } // truncated tail
        bos.toByteArray
      }
      graft.operators.TextCodec.utf8Features(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      f AS (SELECT doc_id, k,
                   30 + k AS na, k % 4 AS n2, k % 3 AS n3, k % 2 AS n4,
                   CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END AS stray,
                   CASE WHEN k % 6 = 0 THEN 1 ELSE 0 END AS over,
                   CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END AS surr,
                   CASE WHEN k % 8 = 0 THEN 1 ELSE 0 END AS beyond,
                   CASE WHEN k % 9 = 0 THEN 1 ELSE 0 END AS trunc
            FROM d)
      SELECT doc_id,
             CAST(na + n2 + n3 + n4 AS BIGINT) AS n_codepoints,
             CAST(na AS BIGINT) AS n_ascii,
             CAST(n2 AS BIGINT) AS n_2byte,
             CAST(n3 AS BIGINT) AS n_3byte,
             CAST(n4 AS BIGINT) AS n_4byte,
             CAST(over AS BIGINT) AS n_overlong,
             CAST(surr AS BIGINT) AS n_surrogate,
             CAST(beyond AS BIGINT) AS n_beyond_max,
             CAST(stray + trunc AS BIGINT) AS n_invalid,
             CAST(na + 2 * n2 + 3 * n3 + 4 * n4 + stray + 2 * over
                  + 3 * surr + 4 * beyond + 2 * trunc AS BIGINT) AS n_bytes
      FROM f ORDER BY doc_id"""))

  // --------------------------------------------------------------- q369

  /** q369 — Opus packet TOC census: the per-PACKET layer under q367's
    * id headers, completing the Ogg triage stack (q329 pages → q367
    * streams → q369 packets). Packets are assembled from the lacing
    * tables alone (pure arithmetic — a lacing value < 255 ends a
    * packet, a trailing 255 run continues it onto the next page), and
    * each audio packet's first byte is the RFC 6716 §3.1 TOC:
    * config(5) | stereo(1) | frame-count code(2) — mode mix
    * (SILK/hybrid/CELT), stereo rate, and the EXACT duration from the
    * per-config frame-size table, all with zero codec decode. The
    * walk stays CRC-verified (same walkPages). Per-doc packet plans
    * are closed functions of doc_id; the oracle replays them with a
    * range-unnest and the §3.1 duration table. Malformed classes
    * (zero-length packets, code-3 counts outside [1,48], dropped
    * continuations, split count bytes) spec-pinned in OggOpsSpec.
    * Map-only, zero shuffles.
    */
  val q369 = Q("q369_opus_toc_census",
    (s, dir) => {
      import graft.operators.OggOps
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val nData = 3 + k % 4
        val dataPages = (0 until nData).map { p =>
          val config = (k + 7 * p) % 32
          val stereo = (k + p) % 2
          val code3 = (k + p) % 5 == 0
          val toc = ((config << 3) | (stereo << 2) | (if (code3) 3 else 0)).toByte
          val body =
            if (code3) Array((2 + p % 3).toByte) ++ Array.fill(10)((p + 1).toByte)
            else Array.fill(5 + p)((p + 2).toByte)
          val hType = if (p == nData - 1) 4 else 0
          (hType, 960L * (p + 1), toc +: body)
        }
        val pages = Seq(
          (2, 0L, OggOps.opusHeadPacket(1 + k % 2, 312, 48000L)),
          (0, 0L, "OpusTags".getBytes("US-ASCII") ++ Array.fill(8)(1.toByte))) ++
          dataPages
        OggOps.encodeSyntheticPackets(pages)
      }
      graft.operators.OggOps.opusTocFeatures(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k FROM documents),
      pk AS (SELECT doc_id, k, unnest(range(3 + k % 4)) AS p FROM d),
      t AS (SELECT doc_id, k, p,
                   (k + 7 * p) % 32 AS config,
                   (k + p) % 2 AS stereo,
                   CASE WHEN (k + p) % 5 = 0 THEN 1 ELSE 0 END AS code3,
                   CASE WHEN (k + p) % 5 = 0 THEN 2 + p % 3 ELSE 1 END AS nf
            FROM pk),
      t2 AS (SELECT *,
               CASE WHEN config < 12 THEN
                      CASE config % 4 WHEN 0 THEN 10000 WHEN 1 THEN 20000
                                      WHEN 2 THEN 40000 ELSE 60000 END
                    WHEN config < 16 THEN
                      CASE config % 2 WHEN 0 THEN 10000 ELSE 20000 END
                    ELSE
                      CASE config % 4 WHEN 0 THEN 2500 WHEN 1 THEN 5000
                                      WHEN 2 THEN 10000 ELSE 20000 END
               END AS dur_us
             FROM t)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_audio_packets,
             CAST(sum(CASE WHEN config < 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_silk,
             CAST(sum(CASE WHEN config >= 12 AND config < 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_hybrid,
             CAST(sum(CASE WHEN config >= 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_celt,
             CAST(sum(stereo) AS BIGINT) AS n_stereo,
             CAST(sum(code3) AS BIGINT) AS n_code3,
             CAST(sum(nf) AS BIGINT) AS total_frames,
             CAST(sum(nf * dur_us) AS BIGINT) AS duration_us,
             CAST(0 AS BIGINT) AS n_malformed,
             CAST(0 AS BIGINT) AS trailing_bytes
      FROM t2 GROUP BY doc_id ORDER BY doc_id"""))

  // --------------------------------------------------------------- q368

  /** q368 — zstd literals-section census: the entropy boundary moved
    * one notch inward from q366. Type-2 (compressed) block payloads
    * start with a literals-section header (RFC 8878 §3.1.1.3.1.1)
    * whose type and declared sizes are plain bit fields — readable
    * with zero FSE/Huffman work, so a 100 TB triage pass knows the
    * literal mix (raw/RLE/Huffman/treeless) and the declared
    * regenerated mass of shards it never decodes. Malformed headers
    * (sizes violating the block's own bounds) mark the BLOCK
    * (`lit_malformed`), never the frame — the 3-byte block header's
    * length framing stays authoritative, so the walk continues (the
    * WARC opaque-payload discipline). Per-doc frames carry a planted
    * literal mix keyed on doc_id, with every 13th doc carrying an
    * overrunning raw-literals declaration; the oracle recomputes the
    * census closed-form. Map-only, zero shuffles.
    */
  val q368 = Q("q368_zstd_literals",
    (s, dir) => {
      import graft.operators.ZstdOps
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val k = (id % 50).toInt
        val mal = id % 13 == 0
        val rawBlock = (0, Array.tabulate(20 + k)(i => ((i * 7 + k) % 251).toByte))
        val litRaw =
          if (mal) (2, ZstdOps.literalsHeader(0, 2000) ++ Array.fill(10)(1.toByte))
          else (2, ZstdOps.literalsHeader(0, 10 + k) ++
            Array.fill(10 + k)(2.toByte) ++ Array.fill(5)(3.toByte))
        val blocks = Seq(rawBlock, litRaw) ++
          (if (k % 3 >= 1)
            Seq((2, ZstdOps.literalsHeader(1, 100 + k) ++
              Array[Byte](9) ++ Array.fill(3)(4.toByte)))
          else Nil) ++
          (if (k % 3 == 2)
            Seq((2, ZstdOps.literalsHeader(2, 200 + k, 30 + k) ++
              Array.fill(30 + k)(5.toByte)))
          else Nil)
        ZstdOps.encodeFrameWithBlocks(blocks)
      }
      graft.operators.ZstdOps.zstdFeatures(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS k,
                        (doc_id % 13 = 0) AS mal
                 FROM documents)
      SELECT doc_id,
             CAST(1 AS BIGINT) AS valid,
             CAST(1 AS BIGINT) AS n_frames,
             CAST(0 AS BIGINT) AS n_skippable,
             CAST(1 AS BIGINT) AS n_raw,
             CAST(0 AS BIGINT) AS n_rle,
             CAST(1 + k % 3 AS BIGINT) AS n_compressed,
             CAST(20 + k AS BIGINT) AS content_bytes,
             CAST((CASE WHEN mal THEN 12 ELSE 17 + k END)
                  + CASE WHEN k % 3 >= 1 THEN 6 ELSE 0 END
                  + CASE WHEN k % 3 = 2 THEN 33 + k ELSE 0 END AS BIGINT)
               AS compressed_bytes,
             CAST(0 AS BIGINT) AS checksum_present,
             CAST(0 AS BIGINT) AS checksum_ok,
             CAST(0 AS BIGINT) AS checksum_bad,
             CAST(CASE WHEN mal THEN 0 ELSE 1 END AS BIGINT) AS lit_raw,
             CAST(CASE WHEN k % 3 >= 1 THEN 1 ELSE 0 END AS BIGINT) AS lit_rle,
             CAST(CASE WHEN k % 3 = 2 THEN 1 ELSE 0 END AS BIGINT) AS lit_compressed,
             CAST(0 AS BIGINT) AS lit_treeless,
             CAST((CASE WHEN mal THEN 0 ELSE 10 + k END)
                  + CASE WHEN k % 3 >= 1 THEN 100 + k ELSE 0 END
                  + CASE WHEN k % 3 = 2 THEN 200 + k ELSE 0 END AS BIGINT)
               AS lit_regen_bytes,
             CAST(CASE WHEN mal THEN 1 ELSE 0 END AS BIGINT) AS lit_malformed,
             CAST(0 AS BIGINT) AS trailing_bytes
      FROM d ORDER BY doc_id"""))

  // --------------------------------------------------------------- q374

  /** q374 — WebP container census: the dominant modern web-image
    * format, closing the image-triage family next to PNG/JPEG/BMP/GIF
    * decode (q174+) and the RIFF/AVI walk (q179).
    * [[graft.operators.WebpOps.parse]] reads the closed-form layer —
    * RIFF framing, VP8 key-frame tag + 14-bit dims behind the 0x9D012A
    * start code, VP8L packed dims/alpha/version bits, VP8X flags +
    * 24-bit canvas, per-ANMF 16-byte frame headers — with zero
    * arithmetic/LZ77 decoding (the entropy payloads stay counted,
    * never guessed). Stop-don't-guess: the RIFF size field is
    * authoritative, oversize chunk declarations stop the walk at the
    * offending chunk (subtraction-form bounds), truncated containers
    * and broken start codes are `valid = 0`, never dims invented.
    * Per-doc synthetic containers derive every parameter from doc_id,
    * so the oracle recomputes the census closed-form — a round-trip
    * proof. Malformed classes (6-byte cut, RIFF flip, start-code zero)
    * spec-pinned in WebpOpsSpec; fuzz targets in WalkerFuzzSpec.
    * Map-only, zero shuffles.
    */
  val q374 = Q("q374_webp_census",
    (s, dir) => {
      val synth = Payloads.synth(Tables.docIdsFanned(s, dir)) { id =>
        val w = graft.operators.WebpOps
        val base = (id % 3) match {
          case 0 => w.encodeLossy(16 + (id % 50).toInt, 16 + (id % 37).toInt,
            5 + (id % 10), 2 * (id % 5).toInt)
          case 1 => w.encodeLossless(16 + (id % 50).toInt, 16 + (id % 37).toInt,
            id % 7 == 0, 1 + 2 * (id % 4).toInt)
          case _ => w.encodeExtendedAnim(32 + (id % 100).toInt, 32 + (id % 80).toInt,
            alpha = id % 7 == 0, exif = id % 4 == 0, icc = id % 5 == 0,
            xmp = id % 6 == 0,
            frames = Seq.fill(1 + (id % 3).toInt)(
              (40L + (id % 7) * 10, 1 + 2 * (id % 3).toInt)))
        }
        if (id % 17 == 0) base.take(6)
        else if (id % 19 == 0) { val c = base.clone(); c(0) = (c(0) ^ 0xFF).toByte; c }
        else if (id % 23 == 0 && id % 3 == 0) {
          // zero the first VP8 start-code byte (offset 12 RIFF hdr
          // + 8 chunk hdr + 3 frame tag)
          val c = base.clone(); c(23) = 0x00.toByte; c
        } else base
      }
      graft.operators.WebpOps.webpFeatures(synth, "doc_id", "payload")
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id AS k,
               doc_id % 3 AS kind3,
               16 + (doc_id % 50) AS lw, 16 + (doc_id % 37) AS lh,
               5 + (doc_id % 10) AS part,
               32 + (doc_id % 100) AS ew, 32 + (doc_id % 80) AS eh,
               CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS alpha,
               CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS exif,
               CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS icc,
               CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS xmp,
               1 + (doc_id % 3) AS nf,
               40 + (doc_id % 7) * 10 AS dur
        FROM documents),
      t AS (
        SELECT *,
               CASE kind3
                 WHEN 0 THEN 30 + 2 * (k % 5)
                 WHEN 1 THEN 26 + 2 * (k % 4)
                 ELSE 44 + icc * 16 + exif * 16 + xmp * 16
                      + nf * (38 + 2 * (k % 3))
               END AS total,
               (k % 17 = 0) AS cut,
               (k % 17 <> 0 AND k % 19 = 0) AS flip,
               (k % 17 <> 0 AND k % 19 <> 0 AND k % 23 = 0 AND k % 3 = 0) AS badsc
        FROM p)
      SELECT k AS doc_id,
             CAST(CASE WHEN cut OR flip OR badsc THEN 0 ELSE 1 END AS BIGINT) AS valid,
             CASE WHEN cut OR flip THEN 'other'
                  WHEN kind3 = 0 THEN 'lossy'
                  WHEN kind3 = 1 THEN 'lossless'
                  ELSE 'extended' END AS kind,
             CAST(CASE WHEN cut OR flip OR badsc THEN 0
                  WHEN kind3 = 2 THEN ew ELSE lw END AS BIGINT) AS width,
             CAST(CASE WHEN cut OR flip OR badsc THEN 0
                  WHEN kind3 = 2 THEN eh ELSE lh END AS BIGINT) AS height,
             CAST(CASE WHEN cut OR flip OR kind3 = 0 THEN 0
                  ELSE alpha END AS BIGINT) AS has_alpha,
             CAST(CASE WHEN cut OR flip OR kind3 <> 2 THEN 0 ELSE 1 END AS BIGINT)
               AS has_anim,
             CAST(CASE WHEN cut OR flip OR badsc THEN 0
                  WHEN kind3 = 2 THEN nf ELSE 1 END AS BIGINT) AS n_frames,
             CAST(CASE WHEN cut OR flip OR kind3 <> 2 THEN 0
                  ELSE nf * dur END AS BIGINT) AS duration_ms,
             CAST(CASE WHEN cut OR flip OR kind3 <> 2 THEN 0 ELSE exif END AS BIGINT)
               AS has_exif,
             CAST(CASE WHEN cut OR flip OR kind3 <> 2 THEN 0 ELSE icc END AS BIGINT)
               AS has_icc,
             CAST(CASE WHEN cut OR flip OR kind3 <> 2 THEN 0 ELSE xmp END AS BIGINT)
               AS has_xmp,
             CAST(CASE WHEN cut OR flip THEN 0
                  WHEN kind3 <> 2 THEN 1
                  ELSE 2 + icc + exif + xmp + nf END AS BIGINT) AS n_chunks,
             CAST(CASE WHEN cut OR flip OR kind3 <> 0 THEN 0
                  ELSE part END AS BIGINT) AS lossy_part_bytes,
             CAST(CASE WHEN cut THEN 6 WHEN flip THEN total ELSE 0 END AS BIGINT)
               AS trailing_bytes
      FROM t ORDER BY doc_id"""))

  val all: Seq[Q] = Seq(q32, q33, q34, q35, q36, q37, q38, q39, q40, q41, q42,
    q43, q44, q45, q46, q47, q48, q49, q58, q65, q66, q74, q114, q169, q170,
    q172, q173, q174, q175, q176, q177, q178, q179, q181, q182, q188, q189, q193,
    q194, q195, q197, q204, q230, q296, q314, q315, q318, q319, q323, q324, q325,
    q329, q332, q335, q337, q339, q346, q351, q353, q355, q356, q358, q362, q363,
    q364, q366, q367, q368, q369, q370, q374, FormatQueries.q377, FormatQueries.q378, FormatQueries.q379, FormatQueries.q380, FormatQueries.q381, FormatQueries.q382,
    FormatQueries.q385, FormatQueries.q387, FormatQueries.q388, FormatQueries.q390, LakeQueries.q392, LakeQueries.q393, FormatQueries.q395, FormatQueries.q396, LakeQueries.q397, LakeQueries.q398, LakeQueries.q399, LakeQueries.q400,
    LakeQueries.q401, LakeQueries.q402, FormatQueries.q403, LakeQueries.q404, LakeQueries.q405, LakeQueries.q406, LakeQueries.q407, LakeQueries.q408, LakeQueries.q409, LakeQueries.q410, LakeQueries.q411, LakeQueries.q412,
    FormatQueries.q413, FormatQueries.q414, FormatQueries.q415,
    LakeQueries.q416, LakeQueries.q417, LakeQueries.q418, FormatQueries.q419,
    FormatQueries.q420, FormatQueries.q421, FormatQueries.q422)
}
