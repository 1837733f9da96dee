package graft.curation

import graft.{SparkSpec, Tables}

class CurationPipelineSpec extends SparkSpec {

  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("stages shrink monotonically and deterministically on the synthetic corpus") {
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val c = CurationPipeline.stageCounts(docs, "doc_id", "text",
      CurationPipeline.Config(minQuality = 0.5, allowedLangs = Seq("en"),
        nearDupJaccard = 0.5))
    assert(c.input == 500)
    assert(c.afterQuality <= c.input)
    assert(c.afterLang <= c.afterQuality)
    assert(c.afterExactDedup <= c.afterLang)
    assert(c.afterNearDedup <= c.afterExactDedup)
    assert(c.afterNearDedup > 0)
    // deterministic: a second run returns identical counts
    val c2 = CurationPipeline.stageCounts(docs, "doc_id", "text",
      CurationPipeline.Config(minQuality = 0.5, allowedLangs = Seq("en"),
        nearDupJaccard = 0.5))
    assert(c == c2)
  }

  test("decontamination stage drops exactly the survivors that overlap the eval set") {
    val docs = Seq(
      (1L, "the a quick brown fox jumps over the lazy dog every single day"),
      (2L, "the a slow green turtle walks under the busy bridge every night"),
      (3L, "the a completely different document about spark query engines"))
      .toDF("doc_id", "text")
    // eval doc shares doc 1's trigrams almost verbatim, nothing of 2/3
    val eval = Seq((100L, "the a quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val cfg = CurationPipeline.Config(minQuality = 0.0, maxEvalOverlap = 0.2)
    val withEval = CurationPipeline.curate(docs, "doc_id", "text", cfg, Some(eval))
      .select("doc_id").orderBy("doc_id").as[Long].collect().toSeq
    val without = CurationPipeline.curate(docs, "doc_id", "text", cfg)
      .select("doc_id").orderBy("doc_id").as[Long].collect().toSeq
    assert(without == Seq(1L, 2L, 3L))
    assert(withEval == Seq(2L, 3L), s"contaminated doc 1 must drop: $withEval")
  }

  test("batchReport outcomes partition the batch and sum to n_input") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val isEval = pmod(col("doc_id"), lit(97)) === 0
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0 && !isEval)
    val store = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0 && !isEval)
      .select(graft.operators.TextAnalysis.contentFingerprint(col("text")).as("_fp"))
    val tagged = CurationPipeline.curateIncrementalTagged(
      batch, store, "doc_id", "text",
      CurationPipeline.Config(maxEvalOverlap = 0.05),
      evalDocs = Some(docs.filter(isEval)))
    // one tag per batch doc, no doc lost or duplicated by the joins
    assert(tagged.count() == batch.count())
    val r = CurationPipeline.batchReport(tagged).collect()(0)
    val parts = (1 to 6).map(r.getLong)
    assert(parts.sum == r.getLong(0), s"${parts.mkString("+")} != ${r.getLong(0)}")
    assert(r.getLong(6) > 0) // n_kept
    assert(r.getDouble(7) >= 0.0 && r.getDouble(7) <= 1.0)
  }

  test("near-dup removal keeps the lower id of a planted duplicate pair") {
    val docs = Seq(
      (1L, "the a quick brown fox jumps over the lazy dog again and again"),
      (2L, "the a quick brown fox jumps over the lazy dog again and again"),
      (3L, "the a completely different document about spark query engines"))
      .toDF("doc_id", "text")
    val out = CurationPipeline.curate(docs, "doc_id", "text",
      CurationPipeline.Config(minQuality = 0.0))
      .select("doc_id").orderBy("doc_id").as[Long].collect()
    // 1 and 2 are byte-identical → exact dedup keeps 1; 3 survives
    assert(out.toSeq == Seq(1L, 3L))
  }

  private val span10 = (1 to 10).map(i => s"sp$i").mkString(" ")

  test("substring stage: a planted duplicated span is cut from the later doc only") {
    // both docs pass quality/language ("the a" markers) and are far
    // apart in whole-doc Jaccard (distinct 10-token bodies), so the
    // doc-level stages keep both — only the substring layer sees the
    // shared 10-token span
    val docs = Seq(
      (1L, "the a " + (1 to 10).map(i => s"u$i").mkString(" ") + " " + span10),
      (2L, "the a " + (1 to 10).map(i => s"v$i").mkString(" ") + " " + span10))
      .toDF("doc_id", "text")
    val cfg = CurationPipeline.Config(minQuality = 0.0,
      cutDupRuns = true, runGramK = 4, runMinTokens = 8)
    val out = CurationPipeline.curate(docs, "doc_id", "text", cfg)
      .select("doc_id", "text", "n_runs_cut")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("the a " + (1 to 10).map(i => s"u$i").mkString(" ") + " " + span10, 0L)),
      s"keeper (first occurrence) must survive intact: ${out(1L)}")
    assert(out(2L) == (("the a " + (1 to 10).map(i => s"v$i").mkString(" "), 1L)),
      s"later doc must lose exactly the span: ${out(2L)}")
    // flag off → no substring stage, no n_runs_cut column
    val plain = CurationPipeline.curate(docs, "doc_id", "text",
      cfg.copy(cutDupRuns = false))
    assert(!plain.columns.contains("n_runs_cut"))
  }

  test("incremental substring stage: batch doc loses a span the STORE already holds") {
    import graft.operators.TextAnalysis
    val storedText = "the a " + (1 to 10).map(i => s"w$i").mkString(" ") + " " + span10
    val stored = Seq((1L, storedText)).toDF("doc_id", "text")
    val storeFps = stored.select(
      TextAnalysis.contentFingerprint(col("text")).as("_fp"))
    val cfg = CurationPipeline.Config(minQuality = 0.0,
      cutDupRuns = true, runGramK = 4, runMinTokens = 8)
    val storeGrams = stored.select(col("doc_id"),
      posexplode(call_function("graft_shingle_hash_list", col("text"), lit(4)))
        .as(Seq("pos", "h")))
    val batch = Seq(
      (5L, "the a " + (1 to 10).map(i => s"x$i").mkString(" ") + " " + span10),
      (6L, "the a nothing shared with anyone here at all plain body"))
      .toDF("doc_id", "text")
    val tagged = CurationPipeline.curateIncrementalTagged(batch, storeFps,
      "doc_id", "text", cfg, None, Some(storeGrams))
    val byId = tagged.select("doc_id", "outcome", "text", "n_runs_cut")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3))))
      .toMap
    assert(byId(5L) == (("kept", "the a " + (1 to 10).map(i => s"x$i").mkString(" "), 1L)),
      s"batch doc must lose the stored span: ${byId(5L)}")
    assert(byId(6L)._1 == "kept" && byId(6L)._3 == 0L)
    // the survivorship report carries the substring tally
    val rep = CurationPipeline.batchReport(tagged).collect()(0)
    assert(rep.getAs[Long]("n_span_cut") == 1L)
    assert(rep.getAs[Long]("n_kept") == 2L)
  }
}
