package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Hashing

class DedupSimilaritySpec extends SparkSpec {

  import spark.implicits._

  // The declarative min-hash pipeline: Spark column functions that
  // the compiled kernels (graft_shingle_hashes, graft_minhash_bands)
  // must match bit for bit.

  /** Word n-gram shingles. Documents shorter than n tokens contribute a
    * single whole-text shingle so they still participate (and dedup with
    * identical short docs).
    */
  private def shingles(text: Column, n: Int): Column = {
    val t = TextAnalysis.tokens(text)
    val grams = transform(
      sequence(lit(1), size(t) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(t, i + k)): _*))
    when(size(t) < n, array(concat_ws(" ", t))).otherwise(grams)
  }

  /** 31-bit base hashes of the distinct shingles (one md5 each). The
    * outer distinct also collapses 31-bit collisions, so the result is
    * guaranteed duplicate-free — jaccardDistinct relies on that.
    */
  private def shingleHashes(shingleCol: Column): Column =
    array_distinct(
      transform(array_distinct(shingleCol), s => Hashing.hash64(s).bitwiseAND(lit(Dedup.MinhashP))))

  /** LSH band hashes: the signature is cut into bands of `rowsPerBand`
    * values; each band is hashed to one long. Two docs become candidates
    * iff they agree on at least one band — P(candidate) ≈ 1-(1-j^r)^b
    * for Jaccard j.
    *
    * NOTE: `element_at(sig, i)` on a signature *expression* would inline
    * the whole k-min computation once per band slot (k× the work —
    * higher-order functions are interpreted, so no common-subexpression
    * reuse). Use [[minhashBandHashes]] to go straight from shingle
    * hashes to band hashes with each min computed exactly once.
    */
  private def lshBandHashes(sig: Column, rowsPerBand: Int, numBands: Int): Column =
    array((0 until numBands).map { b =>
      val bandVals = (0 until rowsPerBand)
        .map(r => element_at(sig, b * rowsPerBand + r + 1).cast("string"))
      Hashing.hash64(concat_ws("|", lit(s"band$b") +: bandVals: _*))
    }: _*)

  /** Fused shingle-hashes → band-hashes path: builds the k affine mins
    * as standalone expressions, each referenced exactly once by its
    * band. Identical values to lshBandHashes∘minhashSignature.
    */
  private def minhashBandHashes(hashCol: Column, k: Int, rowsPerBand: Int): Column = {
    val mins = Dedup.minhashCoeffs(k).map { case (a, b) =>
      array_min(transform(hashCol, h => (lit(a) * h + lit(b)) % lit(Dedup.MinhashP)))
    }
    array((0 until k / rowsPerBand).map { b =>
      val bandVals = (0 until rowsPerBand)
        .map(r => mins(b * rowsPerBand + r).cast("string"))
      Hashing.hash64(concat_ws("|", lit(s"band$b") +: bandVals: _*))
    }: _*)
  }

  test("shingles: word n-grams; short docs fall back to whole text") {
    val df = Seq("a b c d", "x").toDF("text")
    val out = df.select(shingles(col("text"), 2).as("g")).collect()
    assert(out(0).getSeq[String](0) == Seq("a b", "b c", "c d"))
    assert(out(1).getSeq[String](0) == Seq("x"))
  }

  test("jaccard over distinct elements") {
    val df = Seq((Seq("a", "b", "b"), Seq("b", "c"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard(col("x"), col("y")).as("j")).head.getDouble(0)
    assert(j == 0.333333) // |{b}| / |{a,b,c}| rounded to 6dp
  }

  test("minhash identical docs share full signatures; near-dups share bands") {
    val df = Seq((1L, "q w e r t y u i o p"), (2L, "q w e r t y u i o p"),
      (3L, "completely different words here now")).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text",
      n = 2, k = 12, rowsPerBand = 2, threshold = 0.9).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("simhash: identical token sets → identical hash; bounded width") {
    val df = Seq("alpha beta gamma", "gamma beta alpha", "zeta eta theta")
      .toDF("text")
    val hs = df.select(Dedup.simhash(col("text"), 16).as("h")).collect().map(_.getLong(0))
    assert(hs(0) == hs(1))     // order-insensitive
    assert(hs(0) != hs(2))
    assert(hs.forall(h => h >= 0 && h < (1L << 16)))
  }

  test("cosine: exact on orthogonal and identical vectors") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val cs = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    assert(cs(0) == 0.0)
    assert(cs(1) == 1.0)
  }

  test("bruteForceTopK returns query itself first, then nearest") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") === 0), k = 2).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L))
  }

  test("lsh bucket assignment is deterministic and bucketed ANN stays within bucket") {
    val vecs = Seq((0L, Seq(1.0f, 0.5f)), (1L, Seq(0.9f, 0.6f)), (2L, Seq(-1.0f, -0.5f)))
      .toDF("vec_id", "embedding")
    val b = vecs.select(col("vec_id"),
      Similarity.hyperplaneBucket(col("embedding"), dim = 2, planes = 4).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(b(0) == b(1) || b(0) != b(2)) // opposite vectors land apart for some plane
    val out = Similarity.lshTopK(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") === 0), dim = 2, planes = 4, k = 3)
      .collect().map(_.getLong(0)).toSet
    assert(out.contains(0L))
  }

  test("multimodal stub: payload attach + feature extraction") {
    val df = Seq((1L, "hello"), (2L, "world")).toDF("doc_id", "text")
    val out = MultimodalStub.extractFeatures(
      MultimodalStub.attachPayload(df, "text", "payload"), "doc_id", "payload")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 5L)
    assert(out(0).getString(2) == "68656c6c") // 'hell' in hex
    assert(out(0).getString(3) == "5d41402abc4b2a76b9719d911017c592") // md5("hello")
  }

  test("hot LSH bucket is capped: 10k identical docs don't explode, normal pairs survive") {
    // 10_000 identical docs → one band bucket of 10k ids; uncapped that's
    // ~50M pairs in a single straggler task. With the cap the bucket is
    // skipped BEFORE aggregation, while an ordinary near-dup pair in the
    // same corpus still comes through.
    val hot = (1L to 10000L).map(i => (i, "spam spam ham eggs spam ham eggs spam"))
    val normal = Seq(
      (20001L, "the quick brown fox jumps over the lazy dog today"),
      (20002L, "the quick brown fox jumps over the lazy dog tonight"))
    val df = (hot ++ normal).toDF("doc_id", "text").repartition(8)
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text",
      n = 2, k = 12, rowsPerBand = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((20001L, 20002L)))
  }

  test("native minhash kernel is bit-identical to the declarative pipeline") {
    // corner shapes: normal, shorter than n, repeated shingles, multiple
    // interior spaces, leading/trailing spaces, tab whitespace, empty
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "solo",
      "dup dup dup dup dup",
      "a  b   c",
      "  padded text here  ",
      "tab\tseparated\ttokens",
      "").toDF("text")
    for ((k, r) <- Seq((12, 2), (12, 1), (8, 4))) {
      // three forms, one value: naive (signature then bands — the
      // HOF-inlining trap documented at lshBandHashes), fused
      // expression, native kernel
      val both = docs.select(
        shingleHashes(shingles(col("text"), 2)).as("expr_sh"),
        call_function("graft_shingle_hashes", col("text"), lit(2)).as("native_sh"))
        .select(col("expr_sh"), col("native_sh"),
          lshBandHashes(Dedup.minhashSignature(col("expr_sh"), k), r, k / r).as("naive_bands"),
          minhashBandHashes(col("expr_sh"), k, r).as("expr_bands"),
          call_function("graft_minhash_bands", col("native_sh"), lit(k), lit(r)).as("native_bands"))
        .collect()
      both.foreach { row =>
        assert(row.getSeq[Long](0) == row.getSeq[Long](1), s"shingle hashes differ: $row")
        assert(row.getSeq[Long](2) == row.getSeq[Long](3), s"naive vs fused bands (k=$k,r=$r): $row")
        assert(row.getSeq[Long](3) == row.getSeq[Long](4), s"fused vs native bands (k=$k,r=$r): $row")
      }
    }
  }

  test("shingle hash LIST kernel: every occurrence, in order, matching the hashed declarative grams") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "solo",
      "dup dup dup dup dup", // repeats MUST survive (the distinct kernel drops them)
      "a  b   c",
      "  padded text here  ",
      "").toDF("text")
    val t = TextAnalysis.tokens(col("text"))
    val declarative = when(size(t) < 2, array(concat_ws(" ", t)))
      .otherwise(transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
    val rows = docs.select(
      transform(declarative, g => Hashing.hash64(g).bitwiseAND(lit(Dedup.MinhashP))).as("expr_gh"),
      call_function("graft_shingle_hash_list", col("text"), lit(2)).as("native_gh"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"hash lists differ: $r")
    }
    // the "dup" doc keeps all 4 identical bigram occurrences
    assert(rows(2).getSeq[Long](1).length == 4)
    assert(rows(2).getSeq[Long](1).distinct.length == 1)
  }

  test("connectedComponents: chains collapse to min-id clusters, islands stay apart") {
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4; {7,8}; a long chain
    // 10-11-...-16 exercising multi-round propagation (diameter 6)
    val chain = (10L to 15L).map(i => (i, i + 1))
    val pairs = (Seq((2L, 1L), (2L, 3L), (4L, 3L), (7L, 8L)) ++ chain)
      .toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_) == 1L))
    assert(out(7L) == 7L && out(8L) == 7L)
    assert((10L to 16L).forall(out(_) == 10L))
  }

  test("bucketPairs: dedups multi-bucket pairs, drops singleton and oversized buckets") {
    val df = Seq(
      (1L, "a"), (2L, "a"),      // pair in bucket a
      (1L, "b"), (2L, "b"),      // same pair again in bucket b → one output row
      (3L, "c"),                 // singleton bucket → nothing
      (4L, "d"), (5L, "d"), (6L, "d") // bucket over cap 2 → skipped
    ).toDF("id", "bk")
    val out = Dedup.bucketPairs(df, "id", Seq("bk"), maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq.sorted == Seq((1L, 2L)))
  }

  test("stripBoilerplate removes only corpus-hot lines, order-preserving") {
    import spark.implicits._
    // "ad" appears in all 3 docs (≥ minDocs 3); "footer" in 2 (< 3);
    // blank lines are kept verbatim and never counted
    val docs = Seq(
      (1L, "alpha one\nad\nbeta two\n\nfooter"),
      (2L, "ad\ngamma three\nfooter"),
      (3L, "delta four\nad\nepsilon five")).toDF("id", "text")
    val out = TextAnalysis.stripBoilerplate(docs, "id", "text", minDocs = 3L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 5L, 1L, "alpha one\nbeta two\n\nfooter")))
    assert(out(1) == ((2L, 3L, 1L, "gamma three\nfooter")))
    assert(out(2) == ((3L, 3L, 1L, "delta four\nepsilon five")))
    // a doc that is ALL boilerplate cleans to the empty string
    val all = Seq((1L, "ad"), (2L, "ad"), (3L, "ad")).toDF("id", "text")
    val cleaned = TextAnalysis.stripBoilerplate(all, "id", "text", 3L)
      .orderBy("id").collect()
    assert(cleaned.forall(r => r.getLong(2) == 1L && r.getString(3) == ""))
    // repeats WITHIN one doc don't cross the distinct-doc bar
    val within = Seq(
      (1L, "x\nx\nx\ny"), (2L, "y\nz")).toDF("id", "text")
    val w = TextAnalysis.stripBoilerplate(within, "id", "text", 2L)
      .orderBy("id").collect()
    assert(w(0).getLong(2) == 1L && w(0).getString(3) == "x\nx\nx") // only y is hot
  }

  test("winnowing: the w+k-1 shared-run guarantee and the short-doc fallback") {
    import spark.implicits._
    def fpsOf(docs: Seq[(Long, String)]): Map[Long, Set[Long]] =
      Dedup.winnowFingerprints(docs.toDF("id", "text"), "id", "text", k = 4, w = 5)
        .collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap
    // k=4, w=5: any shared run of ≥ w+k-1 = 8 tokens guarantees a
    // shared fingerprint — plant an 8-token run at DIFFERENT offsets
    // inside otherwise-disjoint documents
    val run = "one two three four five six seven eight"
    val m = fpsOf(Seq(
      (1L, s"aa bb cc $run dd ee"),
      (2L, s"zz yy $run xx ww vv uu tt")))
    assert((m(1L) & m(2L)).nonEmpty, "the ≥(w+k-1)-token shared run MUST share a fingerprint")
    // density: fingerprints ≤ windows, and far fewer than grams on
    // repetitive-free text (expected ~2/(w+1) of windows)
    val longDoc = (1 to 200).map(i => s"t${i * 7 % 97}").mkString(" ")
    val f = fpsOf(Seq((1L, longDoc)))(1L)
    assert(f.size <= 197 - 4 && f.size >= 2)
    // a doc shorter than w grams keeps its GLOBAL minimum (exactly one fp)
    val short = fpsOf(Seq((1L, "a b c d e"))) // 2 grams < w
    assert(short(1L).size == 1)
    val tiny = fpsOf(Seq((1L, "a b"))) // < k tokens: one whole-text gram
    assert(tiny(1L).size == 1)
    // disjoint docs share nothing
    val dis = fpsOf(Seq((1L, "p q r s t u v w"), (2L, "f g h i j k l m")))
    assert((dis(1L) & dis(2L)).isEmpty)
  }

  test("winnowPairs: a shared run >= w+k-1 tokens forces a candidate pair; boilerplate is capped") {
    val span = (1 to 12).map(i => s"s$i").mkString(" ") // 12 >= w+k-1 = 8 shared tokens
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 a5 $span a6 a7 a8"),
      (2L, s"b1 b2 $span b3 b4 b5 b6 b7"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text", k = 4, w = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the winnowing guarantee: docs 1 and 2 MUST share >= 1 fingerprint;
    // doc 3 shares no 4-gram with anyone
    assert(pairs.toSeq == Seq((1L, 2L)), pairs.toSeq.toString)
    // a fingerprint hitting > maxBucket docs is boilerplate: with every
    // doc sharing the same text, maxBucket=3 drops all buckets (4 docs)
    val boiler = Seq.tabulate(4)(i => (i.toLong, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"))
      .toDF("doc_id", "text")
    assert(Dedup.winnowPairs(boiler, "doc_id", "text", k = 4, w = 5,
      maxBucket = 3).count() == 0)
    assert(Dedup.winnowPairs(boiler, "doc_id", "text", k = 4, w = 5,
      maxBucket = 4).count() == 6) // all C(4,2) pairs, full fp overlap
  }

  test("duplicateRuns: a planted shared span reports ONE maximal run with exact extents") {
    // doc 1 positions 10..29 carry the same gram hashes as doc 2
    // positions 5..24 (20 matched k=8 grams = a 27-token shared span);
    // everything else is unique. doc 3 shares one isolated gram with
    // doc 1 — an 8-token span, below minTokens.
    val grams =
      (0 to 49).map(p => (1L, p, if (p >= 10 && p <= 29) 1000L + (p - 10) else 10000L + p)) ++
        (0 to 39).map(p => (2L, p, if (p >= 5 && p <= 24) 1000L + (p - 5) else 20000L + p)) ++
        (0 to 9).map(p => (3L, p, if (p == 4) 10000L + 40 else 30000L + p))
    val df = grams.toDF("doc_id", "pos", "h")
    val runs = Dedup.duplicateRuns(df, "doc_id", k = 8, minTokens = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(runs.toSeq == Seq((1L, 2L, 10L, 5L, 27L)),
      s"expected one maximal 27-token run, got ${runs.toSeq}")
  }

  test("duplicateRuns: same-document repetition is not a cross-doc run") {
    val df = Seq((1L, 0, 7L), (1L, 5, 7L), (1L, 6, 8L), (1L, 11, 8L))
      .toDF("doc_id", "pos", "h")
    assert(Dedup.duplicateRuns(df, "doc_id", k = 4, minTokens = 4).count() == 0)
  }

  test("duplicateRuns: the hot-gram cap splits runs (documented trade), wide cap keeps them") {
    // docs 5/6 share grams h100..h104 (5 grams, k=8 -> 12 tokens); the
    // middle gram h102 also occurs in docs 7,8,9 -> 5 occurrences
    val shared = (0 to 4).map(i => Seq((5L, 10 + i, 100L + i), (6L, 3 + i, 100L + i))).flatten
    val hot = Seq((7L, 0, 102L), (8L, 0, 102L), (9L, 0, 102L))
    val pad = (0 to 9).flatMap(p => Seq((5L, 50 + p, 50000L + p), (6L, 50 + p, 60000L + p)))
    val df = (shared ++ hot ++ pad).toDF("doc_id", "pos", "h")
    val wide = Dedup.duplicateRuns(df, "doc_id", k = 8, minTokens = 10)
      .filter(col("id_a") === 5L && col("id_b") === 6L).collect()
    assert(wide.length == 1 && wide(0).getLong(4) == 12L)
    // cap 4 drops h102 (5 occurrences): the run splits into two 2-gram
    // fragments (9 tokens each), both below minTokens=10
    val capped = Dedup.duplicateRuns(df, "doc_id", k = 8, minTokens = 10,
      maxOccurrences = 4)
    assert(capped.filter(col("id_a") === 5L && col("id_b") === 6L).count() == 0)
  }

  test("duplicateRunsIncremental is exactly batch restricted to new-touching runs") {
    // three pairwise-sharing docs; mark doc 2 as the arriving batch:
    // runs (1,2) and (2,3) survive, the base-base run (1,3) drops
    val grams =
      (0 to 29).map(p => (1L, p, if (p >= 5 && p <= 14) 100L + (p - 5) else 10000L + p)) ++
        (0 to 29).map(p => (2L, p, if (p >= 3 && p <= 12) 100L + (p - 3) else 20000L + p)) ++
        (0 to 29).map(p => (3L, p, if (p >= 8 && p <= 17) 100L + (p - 8) else 30000L + p))
    val df = grams.toDF("doc_id", "pos", "h")
      .withColumn("is_new", col("doc_id") === 2L)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val inc = Dedup.duplicateRunsIncremental(df, "doc_id", "is_new",
      k = 4, minTokens = 10).collect().map(key).toSet
    val batch = Dedup.duplicateRuns(df, "doc_id", k = 4, minTokens = 10)
      .filter(col("id_a") === 2L || col("id_b") === 2L).collect().map(key).toSet
    assert(inc == batch, s"inc=$inc batch=$batch")
    assert(inc.map(r => (r._1, r._2)) == Set((1L, 2L), (2L, 3L)))
    // the base-base run exists in the full batch pass but not here
    val full = Dedup.duplicateRuns(df, "doc_id", k = 4, minTokens = 10)
      .collect().map(key).toSet
    assert(full.map(r => (r._1, r._2)).contains((1L, 3L)))
  }

  test("duplicateRuns: end-to-end from text via the shingle-list kernel") {
    val span = (1 to 12).map(i => s"s$i").mkString(" ") // 12 shared tokens
    val docs = Seq(
      (1L, s"a1 a2 a3 $span z1 z2"),
      (2L, s"b1 $span y1 y2 y3 y4")).toDF("doc_id", "text")
    val grams = docs.select(col("doc_id"),
      posexplode(call_function("graft_shingle_hash_list", col("text"), lit(4)))
        .as(Seq("pos", "h")))
    val runs = Dedup.duplicateRuns(grams, "doc_id", k = 4, minTokens = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // doc 1 tokens 3..14 == doc 2 tokens 1..12: 9 matched 4-grams -> 12 tokens
    assert(runs.toSeq == Seq((1L, 2L, 3L, 1L, 12L)), runs.toSeq.toString)
  }

  test("cutIntervals: overlapping and touching runs MERGE before any cut") {
    // doc 3 loses [5,17) to doc 1 and [12,24) to doc 2 — overlapping
    // mid-span (the merge-before-cut edge); doc 4 loses [0,10) and
    // [10,20) — touching, one interval. doc 9's single run stays as-is.
    val runs = Seq(
      (1L, 3L, 0L, 5L, 12L), (2L, 3L, 0L, 12L, 12L),
      (1L, 4L, 0L, 0L, 10L), (2L, 4L, 0L, 10L, 10L),
      (1L, 9L, 2L, 7L, 11L))
      .toDF("id_a", "id_b", "a_start", "b_start", "n_tokens")
    val iv = Dedup.cutIntervals(runs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(x => (x._1, x._2))
    assert(iv.toSeq == Seq((3L, 5L, 24L), (4L, 0L, 20L), (9L, 7L, 18L)),
      s"expected merged disjoint intervals, got ${iv.toSeq}")
  }

  test("cutRuns: non-keeper spans cut, reassembly is position-exact, keeper untouched") {
    val doc1 = (1 to 20).map(i => s"t$i").mkString(" ")
    // doc 2 = 3 unique tokens, then doc 1's tokens 1..12, then 2 unique
    val doc2 = "u1 u2 u3 " + (1 to 12).map(i => s"t$i").mkString(" ") + " u4 u5"
    val docs = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    val runs = Seq((1L, 2L, 0L, 3L, 12L))
      .toDF("id_a", "id_b", "a_start", "b_start", "n_tokens")
    val out = Dedup.cutRuns(docs, "doc_id", "text", runs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(out(1L) == ((20L, 20L, 0L, doc1)), "keeper doc must rebuild byte-exact")
    assert(out(2L) == ((17L, 5L, 1L, "u1 u2 u3 u4 u5")),
      s"cut doc must lose exactly the span: ${out(2L)}")
  }

  test("cutRuns: a fully-duplicated doc cuts to empty; merged overlap never double-cuts") {
    val span = (1 to 10).map(i => s"s$i").mkString(" ")
    val docs = Seq((1L, span), (2L, span),
      (3L, "a b " + span + " c d")).toDF("doc_id", "text")
    // doc 2 loses its whole body to doc 1; doc 3 loses [2,12) twice
    // over (two partners, same extent) — one merged interval
    val runs = Seq((1L, 2L, 0L, 0L, 10L),
      (1L, 3L, 0L, 2L, 10L), (2L, 3L, 0L, 2L, 10L))
      .toDF("id_a", "id_b", "a_start", "b_start", "n_tokens")
    val out = Dedup.cutRuns(docs, "doc_id", "text", runs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(out(2L) == ((10L, 0L, 1L, "")), s"fully-cut doc: ${out(2L)}")
    assert(out(3L) == ((14L, 4L, 1L, "a b c d")), s"merged overlap: ${out(3L)}")
  }

  test("removeDuplicateRuns end-to-end: first occurrence survives, copy loses the span") {
    val span = (1 to 24).map(i => s"sp$i").mkString(" ")
    val docs = Seq(
      (1L, s"h1 h2 $span e1 e2"),
      (2L, s"k1 k2 k3 $span m1"),
      (3L, "plain text with no shared material at all here")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateRuns(docs, "doc_id", "text",
        k = 8, minTokens = 20, maxOccurrences = 64).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(4))))
      .toMap
    assert(out(1L)._3.contains("sp1") && out(1L)._2 == 28L,
      s"keeper keeps the span: ${out(1L)}")
    assert(out(2L) == ((28L, 4L, "k1 k2 k3 m1")),
      s"copy loses exactly the 24-token span: ${out(2L)}")
    assert(out(3L)._1 == out(3L)._2, "untouched doc rebuilds whole")
  }
}
