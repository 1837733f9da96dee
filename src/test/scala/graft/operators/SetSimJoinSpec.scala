package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Exact PPJoin set-similarity join: correctness against an in-spec
  * brute force, exactness of the chunked bucket machinery, and the
  * planted degenerate corpus (10k identical docs) that the capped LSH
  * path (DedupSimilaritySpec) drops by design but an EXACT join must
  * both survive and answer in full.
  */
class SetSimJoinSpec extends SparkSpec {

  import spark.implicits._

  private def shingleSets(df: org.apache.spark.sql.DataFrame) = {
    df.select(col("doc_id"),
      sort_array(array_distinct(
        call_function("graft_shingle_hash_list", col("text"), lit(3)))).as("hs"))
  }

  test("matches in-spec brute force exactly (no false positives OR negatives)") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy dog again and again", // = 1
      3L -> "the quick brown fox jumps over the lazy dog again and once",  // near 1
      4L -> "a completely different document about spark query planning",
      5L -> "a completely different document about spark query planning today",
      6L -> "unrelated text with nothing shared at all in any shingle"
    ).toDF("doc_id", "text")
    val sets = shingleSets(docs)
    val got = SetSimJoin.pairs(spark, sets, 6, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force over the same shingle sets
    val hs = sets.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val want = (for {
      a <- hs.keys; b <- hs.keys if a < b
      it = (hs(a) & hs(b)).size; un = (hs(a) | hs(b)).size
      if it * 10 >= un * 6
    } yield (a, b, math.rint(it.toDouble / un * 1e6) / 1e6)).toSet
    assert(want.nonEmpty && got == want)
  }

  test("bucketPairsExact enumerates oversized buckets in full (nothing dropped)") {
    // one bucket of 600 ids (> chunk 256 → a 3x3 chunk grid) plus a
    // normal bucket; exactness means every C(600,2) pair appears once
    val rows = (1L to 600L).map(i => (i, "hot")) ++ Seq((1001L, "cold"), (1002L, "cold"))
    val pairs = Dedup.bucketPairsExact(rows.toDF("id", "b"), "id", Seq("b"), chunk = 256)
    assert(pairs.count() == 600L * 599 / 2 + 1)
    // ordered, unique, and the small bucket survived alongside the hot one
    assert(pairs.filter(col("id_a") >= col("id_b")).count() == 0)
    assert(pairs.filter(col("id_a") === 1001L && col("id_b") === 1002L).count() == 1)
  }

  test("bucketPairsExact agrees with the plain capped path on normal buckets") {
    val rows = (1L to 40L).map(i => (i, s"b${i % 7}"))
    val df = rows.toDF("id", "b")
    val exact = Dedup.bucketPairsExact(df, "id", Seq("b"), chunk = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = Dedup.bucketPairs(df, "id", Seq("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == plain && exact.nonEmpty)
  }

  test("expandMemberPairs: within-group triangular and cross-group products, chunk-bounded") {
    val within = Dedup.expandMemberPairs(
      Seq((1L, (1L to 600L).toArray)).toDF("g", "members"),
      "members", "members", carry = Seq("g"), chunk = 100)
    assert(within.count() == 600L * 599 / 2)
    assert(within.filter(col("id_a") >= col("id_b")).count() == 0)
    assert(within.distinct().count() == 600L * 599 / 2)
    val cross = Dedup.expandMemberPairs(
      Seq((1L, (1L to 30L).toArray, (1001L to 1040L).toArray)).toDF("g", "ma", "mb"),
      "ma", "mb", carry = Seq("g"), chunk = 7)
    assert(cross.count() == 30L * 40)
    assert(cross.filter(col("id_a") >= col("id_b")).count() == 0)
  }

  test("property: seeded random corpora match brute force exactly (20 trials)") {
    // PPJoin's whole claim is NO false negatives at any threshold; the
    // trials vary vocabulary overlap so jaccards land on both sides of
    // (and occasionally exactly ON) the 0.6 boundary, plus planted
    // exact duplicates so the group-collapse path is exercised
    val rnd = new scala.util.Random(48)
    import spark.implicits._
    for (trial <- 0 until 20) {
      val vocab = Vector.tabulate(12 + rnd.nextInt(10))(i => s"w${i}t$trial")
      val nDocs = 8 + rnd.nextInt(10)
      val base = (0 until nDocs).map { i =>
        val n = 4 + rnd.nextInt(8)
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // plant exact duplicates of a few docs at new ids
      val dups = (0 until rnd.nextInt(3)).map { j =>
        val src = base(rnd.nextInt(base.size))
        (1000L + j, src._2)
      }
      val sets = shingleSets((base ++ dups).toDF("doc_id", "text"))
      val got = SetSimJoin.pairs(spark, sets, 6, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val hs = sets.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val want = (for {
        a <- hs.keys; b <- hs.keys if a < b
        it = (hs(a) & hs(b)).size; un = (hs(a) | hs(b)).size
        if it * 10 >= un * 6
      } yield (a, b, math.rint(it.toDouble / un * 1e6) / 1e6)).toSet
      assert(got == want, s"trial $trial: got ${got.size} want ${want.size}\n" +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }

  test("planted degenerate corpus: 10k identical docs answer in full, chunk-bounded") {
    // The exact join's output here IS quadratic — C(10k,2) ≈ 50M pairs —
    // so the assertion is that it streams from bounded tasks (group
    // collapse → ONE group → zero candidate pairs, zero verifications;
    // expansion chunked) and the count is exactly right, not capped.
    val hot = (1L to 10000L).map(i => (i, "spam spam ham eggs spam ham eggs spam"))
    val normal = Seq(
      20001L -> "some perfectly normal sentence about weather patterns today",
      20002L -> "some perfectly normal sentence about weather patterns tonight",
      30001L -> "entirely distinct content with no relation to anything else")
    val sets = shingleSets((hot ++ normal).toDF("doc_id", "text").repartition(8))
    val pairs = SetSimJoin.pairs(spark, sets, 6, 10)
    val hotCount = pairs.filter(col("id_b") <= 10000L).count()
    assert(hotCount == 10000L * 9999 / 2)
    // the hot group never reaches candidate generation
    assert(SetSimJoin.matchedGroups(
      SetSimJoin.groups(spark, sets), 6, 10)
      .filter(col("id_a") <= 10000L && col("id_b") <= 10000L).count() == 0)
    // normal near-dup pair still found, with its exact jaccard
    val nd = pairs.filter(col("id_a") === 20001L).collect()
    assert(nd.length == 1 && nd.head.getLong(1) == 20002L && nd.head.getDouble(2) >= 0.6)
  }
}
