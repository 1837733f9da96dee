package graft.curation

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** End-to-end corpus curation: the composition a training-data pipeline
  * actually runs, built from the engine's operators —
  *
  *   quality filter → language filter → exact dedup → near-dup removal
  *   [→ eval decontamination, when an eval corpus is supplied]
  *
  * Each stage is a lazy DataFrame transform; Catalyst fuses the per-row
  * stages (quality, language, fingerprint) into one scan pass. The only
  * shuffles are the two dedups — exactly the minimum the semantics
  * require. Near-dup removal keeps the lowest doc id of each MinHash
  * pair (greedy per-pair survivor, deterministic). Decontamination
  * drops survivors whose trigram-shingle overlap with the eval set
  * reaches [[MaxEvalOverlap]] (Dedup.shingleOverlapVsEval — AQE picks
  * broadcast vs q91's shuffled shape from the eval side's true
  * runtime size).
  */
object CurationPipeline {

  /** Quality filter: keep docs scoring at least this
    * ([[TextAnalysis.qualityScore]] over [[Stopwords]]).
    */
  val MinQuality = 0.5
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and")

  /** Language filter: keep docs whose marker-word argmax over
    * [[MarkerSets]] is one of these.
    */
  val AllowedLangs: Seq[String] = Seq("en")
  val MarkerSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "de" -> Seq("der", "und", "das"),
    "es" -> Seq("el", "los", "que"),
    "fr" -> Seq("le", "la", "et"),
    "zh" -> Seq("zh1", "zh2"))

  /** Decontamination drops survivors whose trigram-shingle overlap with
    * the eval set reaches this fraction.
    */
  val MaxEvalOverlap = 0.05

  // near-dup removal: word-bigram MinHash, 12 hashes in bands of 2,
  // pairs verified at Jaccard ≥ 0.5
  private val ShingleWidth = 2
  private val MinhashK = 12
  private val RowsPerBand = 2
  private val NearDupJaccard = 0.5
  private val ContamShingleWidth = 3

  /** Run the full curation over a corpus with (idCol: long, textCol:
    * string). Returns the curated frame (lazily composed — nothing runs
    * until an action).
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             evalDocs: Option[DataFrame] = None): DataFrame = {
    // r16: the per-row scoring (quality + language + fingerprint)
    // fuses into the scan stage, and a single-row-group parquet source
    // cannot split — the whole tokenize/score pass ran on ONE task
    // (q173: 1.03 s single-task stage measured). fanIfNarrow is a
    // no-op on any multi-split source, so at scale nothing is paid.
    val scored = graft.operators.ScaleOps.fanIfNarrow(docs, col(idCol))
      .withColumn("_quality", TextAnalysis.qualityScore(col(textCol), Stopwords))
      .withColumn("_lang", TextAnalysis.langId(col(textCol), MarkerSets))
      .filter(col("_quality") >= MinQuality)
      .filter(col("_lang").isin(AllowedLangs: _*))
    // materialized once (lazy local checkpoint): the exact-dedup
    // survivors feed both the near-dup pair generation and the final
    // anti-join — without it the whole quality→language→dedup lineage
    // recomputes per reference
    // aggregate keep-first (r15 opt): idCol is unique, so the ordering
    // is total per fingerprint group and the hash-aggregate form (no
    // window sort) keeps exactly the same row
    val exact = graft.operators.Relational.dedupKeepFirstAgg(
      scored.withColumn("_fp", TextAnalysis.contentFingerprint(col(textCol))),
      Seq("_fp"), Seq(idCol))
      .localCheckpoint(false)
    val nearDupLosers = Dedup.minhashLshPairs(exact, idCol, textCol,
        ShingleWidth, MinhashK, RowsPerBand, NearDupJaccard)
      .select(col("id_b").as(idCol))
      .distinct()
    val deduped = exact
      .join(nearDupLosers, Seq(idCol), "left_anti")
      .drop("_fp")
    evalDocs.fold(deduped) { ev =>
      val contaminated = Dedup.shingleOverlapVsEval(deduped, ev, idCol, textCol,
          ContamShingleWidth)
        .filter(col("overlap_frac") >= MaxEvalOverlap)
        .select(col(idCol))
      deduped.join(contaminated, Seq(idCol), "left_anti")
    }
  }

  /** Incremental curation — one NEW batch of documents against an
    * already-ingested corpus, without re-curating it: the q81 CDC shape
    * applied to the whole pipeline. Each batch doc is tagged with its
    * outcome, in pipeline order:
    *
    *   quality_fail | lang_fail | store_dup (fingerprint already
    *   ingested) | batch_dup (later same-fingerprint doc within the
    *   batch) | contaminated (trigram overlap with the eval corpus ≥
    *   [[MaxEvalOverlap]]) | kept
    *
    * Plan shape: the per-row stages (quality, language, fingerprint)
    * fuse into the batch scan; the store anti-check is a left join on
    * `_fp` and the within-batch keep-first is a window on the SAME key,
    * so both ride one shuffle of the (small) batch — the store is never
    * re-shuffled beyond its join side, and nothing touches the already-
    * curated corpus. The eval guard runs only over the surviving
    * candidates ([[Dedup.shingleOverlapVsEval]], whose join AQE sizes
    * at runtime). The tagged frame keeps `_fp` so
    * callers can append survivors' fingerprints back to the store.
    */
  def curateIncrementalTagged(batch: DataFrame, storeFps: DataFrame,
      idCol: String, textCol: String,
      evalDocs: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val store = storeFps.select(col(storeFps.columns.head).as("_fp"))
      .distinct().withColumn("_in_store", lit(true))
    val eligible = col("_q_ok") && col("_l_ok") && !col("_in_store")
    val tagged0 = batch
      .withColumn("_q_ok",
        TextAnalysis.qualityScore(col(textCol), Stopwords) >= MinQuality)
      .withColumn("_l_ok",
        TextAnalysis.langId(col(textCol), MarkerSets).isin(AllowedLangs: _*))
      .withColumn("_fp", TextAnalysis.contentFingerprint(col(textCol)))
      .join(store, Seq("_fp"), "left")
      .withColumn("_in_store", coalesce(col("_in_store"), lit(false)))
      .withColumn("_keeper",
        min(when(eligible, col(idCol))).over(Window.partitionBy("_fp")))
    val withContam = evalDocs.fold(tagged0.withColumn("_contam", lit(false))) { ev =>
      val cand = tagged0.filter(eligible && col(idCol) === col("_keeper"))
      val dirty = Dedup.shingleOverlapVsEval(cand, ev, idCol, textCol,
          ContamShingleWidth)
        .filter(col("overlap_frac") >= MaxEvalOverlap)
        .select(col(idCol)).withColumn("_contam", lit(true))
      tagged0.join(dirty, Seq(idCol), "left")
        .withColumn("_contam", coalesce(col("_contam"), lit(false)))
    }
    withContam
      .withColumn("outcome",
        when(!col("_q_ok"), "quality_fail")
          .when(!col("_l_ok"), "lang_fail")
          .when(col("_in_store"), "store_dup")
          .when(col(idCol) =!= col("_keeper"), "batch_dup")
          .when(col("_contam"), "contaminated")
          .otherwise("kept"))
      .drop("_q_ok", "_l_ok", "_in_store", "_keeper", "_contam")
  }
}
