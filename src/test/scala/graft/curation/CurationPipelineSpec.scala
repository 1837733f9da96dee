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
  private def stageCounts(docs: DataFrame, idCol: String, textCol: String): Seq[Long] = {
    import CurationPipeline._
    val q = docs.filter(TextAnalysis.qualityScore(col(textCol), Stopwords) >= MinQuality)
    val l = q.filter(TextAnalysis.langId(col(textCol), MarkerSets).isin(AllowedLangs: _*))
    val e = dedupKeepFirst(
      l.withColumn("_fp", TextAnalysis.contentFingerprint(col(textCol))),
      Seq("_fp"), Seq(col(idCol).asc))
    Seq(docs.count(), q.count(), l.count(), e.count(),
      CurationPipeline.curate(docs, idCol, textCol).count())
  }

  /** A fixture doc that passes the fixed quality and language filters:
    * `body` plus eight "the <tag><i> of a" groups (44 tokens for a
    * 12-token body: stopword-heavy English, no punctuation — quality
    * ≈ 0.66 ≥ 0.5). The tag keeps different docs' padding apart, so
    * it adds no shared shingles between them or with an eval doc.
    */
  private def doc(tag: String, body: String): String =
    body + " " + (1 to 8).map(i => s"the $tag$i of a").mkString(" ")

  test("stages shrink monotonically and deterministically on the synthetic corpus") {
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val c = stageCounts(docs, "doc_id", "text")
    assert(c.head == 500)
    assert(c.zip(c.tail).forall { case (before, after) => after <= before }, c)
    assert(c.last > 0)
    // deterministic: a second run returns identical counts
    val c2 = stageCounts(docs, "doc_id", "text")
    assert(c == c2)
  }

  test("decontamination stage drops exactly the survivors that overlap the eval set") {
    val docs = Seq(
      (1L, doc("p", "the a quick brown fox jumps over the lazy dog every single day")),
      (2L, doc("q", "the a slow green turtle walks under the busy bridge every night")),
      (3L, doc("r", "the a completely different document about spark query engines")))
      .toDF("doc_id", "text")
    // eval doc shares doc 1's trigrams almost verbatim, nothing of 2/3
    val eval = Seq((100L, "the a quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val withEval = CurationPipeline.curate(docs, "doc_id", "text", Some(eval))
      .select("doc_id").orderBy("doc_id").as[Long].collect().toSeq
    val without = CurationPipeline.curate(docs, "doc_id", "text")
      .select("doc_id").orderBy("doc_id").as[Long].collect().toSeq
    assert(without == Seq(1L, 2L, 3L))
    assert(withEval == Seq(2L, 3L), s"contaminated doc 1 must drop: $withEval")
  }

  test("near-dup removal keeps the lower id of a planted duplicate pair") {
    val docs = Seq(
      (1L, doc("p", "the a quick brown fox jumps over the lazy dog again and again")),
      (2L, doc("p", "the a quick brown fox jumps over the lazy dog again and again")),
      (3L, doc("r", "the a completely different document about spark query engines")))
      .toDF("doc_id", "text")
    val out = CurationPipeline.curate(docs, "doc_id", "text")
      .select("doc_id").orderBy("doc_id").as[Long].collect()
    // 1 and 2 are byte-identical → exact dedup keeps 1; 3 survives
    assert(out.toSeq == Seq(1L, 3L))
  }
}
