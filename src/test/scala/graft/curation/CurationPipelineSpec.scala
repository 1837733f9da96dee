package graft.curation

import org.apache.spark.sql.DataFrame

import graft.{SparkSpec, Tables}
import graft.operators.TextAnalysis
import graft.operators.Relational.dedupKeepFirst

class CurationPipelineSpec extends SparkSpec {

  import org.apache.spark.sql.functions._
  import spark.implicits._

  /** Rows left after each stage — input, quality, language, exact
    * dedup, near dup — composed one stage at a time (five actions).
    */
  private def stageCounts(docs: DataFrame, idCol: String, textCol: String,
                          cfg: CurationPipeline.Config): Seq[Long] = {
    val q = docs.filter(TextAnalysis.qualityScore(col(textCol), cfg.stopwords) >= cfg.minQuality)
    val l = q.filter(TextAnalysis.langId(col(textCol), cfg.markerSets).isin(cfg.allowedLangs: _*))
    val e = dedupKeepFirst(
      l.withColumn("_fp", TextAnalysis.contentFingerprint(col(textCol))),
      Seq("_fp"), Seq(col(idCol).asc))
    Seq(docs.count(), q.count(), l.count(), e.count(),
      CurationPipeline.curate(docs, idCol, textCol, cfg).count())
  }

  test("stages shrink monotonically and deterministically on the synthetic corpus") {
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val c = stageCounts(docs, "doc_id", "text",
      CurationPipeline.Config(minQuality = 0.5, allowedLangs = Seq("en"),
        nearDupJaccard = 0.5))
    assert(c.head == 500)
    assert(c.zip(c.tail).forall { case (before, after) => after <= before }, c)
    assert(c.last > 0)
    // deterministic: a second run returns identical counts
    val c2 = stageCounts(docs, "doc_id", "text",
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
  }
}
