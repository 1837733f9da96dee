package graft.curation

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}
import graft.operators.Relational.dedupKeepFirst

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
  * reaches `maxEvalOverlap` (Dedup.shingleOverlapVsEval — AQE picks
  * broadcast vs q91's shuffled shape from the eval side's true
  * runtime size).
  */
object CurationPipeline {

  final case class Config(
      minQuality: Double = 0.5,
      allowedLangs: Seq[String] = Seq("en"),
      stopwords: Seq[String] = Seq("the", "a", "of", "and"),
      markerSets: Seq[(String, Seq[String])] = Seq(
        "en" -> Seq("the", "a"),
        "de" -> Seq("der", "und", "das"),
        "es" -> Seq("el", "los", "que"),
        "fr" -> Seq("le", "la", "et"),
        "zh" -> Seq("zh1", "zh2")),
      shingleWidth: Int = 2,
      minhashK: Int = 12,
      rowsPerBand: Int = 2,
      nearDupJaccard: Double = 0.5,
      contamShingleWidth: Int = 3,
      maxEvalOverlap: Double = 0.2,
      maxBroadcastEvalDocs: Long = 100000L,
      // substring layer (opt-in): cut every cross-document duplicate
      // run of >= runMinTokens tokens except its first occurrence
      // (Dedup.duplicateRuns + cutRuns), AFTER the doc-level stages —
      // doc-level dedup first means the run layer only ever sees
      // one survivor per near-identical cluster
      cutDupRuns: Boolean = false,
      runGramK: Int = 4,
      runMinTokens: Int = 8,
      runMaxOccurrences: Int = 64)

  final case class StageCounts(input: Long, afterQuality: Long,
      afterLang: Long, afterExactDedup: Long, afterNearDedup: Long)

  /** Run the full curation over a corpus with (idCol: long, textCol:
    * string). Returns the curated frame (lazily composed — nothing runs
    * until an action).
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             cfg: Config = Config(),
             evalDocs: Option[DataFrame] = None): DataFrame = {
    // r16: the per-row scoring (quality + language + fingerprint)
    // fuses into the scan stage, and a single-row-group parquet source
    // cannot split — the whole tokenize/score pass ran on ONE task
    // (q173: 1.03 s single-task stage measured). fanIfNarrow is a
    // no-op on any multi-split source, so at scale nothing is paid.
    val scored = graft.operators.ScaleOps.fanIfNarrow(docs, col(idCol))
      .withColumn("_quality", TextAnalysis.qualityScore(col(textCol), cfg.stopwords))
      .withColumn("_lang", TextAnalysis.langId(col(textCol), cfg.markerSets))
      .filter(col("_quality") >= cfg.minQuality)
      .filter(col("_lang").isin(cfg.allowedLangs: _*))
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
        cfg.shingleWidth, cfg.minhashK, cfg.rowsPerBand, cfg.nearDupJaccard)
      .select(col("id_b").as(idCol))
      .distinct()
    val deduped = exact
      .join(nearDupLosers, Seq(idCol), "left_anti")
      .drop("_fp")
    val survivors = evalDocs.fold(deduped) { ev =>
      val contaminated = Dedup.shingleOverlapVsEval(deduped, ev, idCol, textCol,
          cfg.contamShingleWidth, cfg.maxBroadcastEvalDocs)
        .filter(col("overlap_frac") >= cfg.maxEvalOverlap)
        .select(col(idCol))
      deduped.join(contaminated, Seq(idCol), "left_anti")
    }
    if (!cfg.cutDupRuns) survivors else cutRunsStage(survivors, idCol, textCol, cfg)
  }

  /** The substring stage: detect duplicate runs over the survivor set
    * and rewrite every doc with its non-keeper spans cut (keeper =
    * first occurrence, min (doc_id, start)). Every doc's text comes
    * back token-reassembled (position order, single spaces — the
    * pipeline's token-stream representation), plus an `n_runs_cut`
    * column (merged cut intervals; 0 = untouched).
    */
  private def cutRunsStage(survivors: DataFrame, idCol: String,
                           textCol: String, cfg: Config): DataFrame = {
    val cut = Dedup.removeDuplicateRuns(
      survivors.select(col(idCol), col(textCol)), idCol, textCol,
      cfg.runGramK, cfg.runMinTokens, cfg.runMaxOccurrences)
    survivors.drop(textCol)
      .join(cut.select(col(idCol), col(textCol),
        col("n_cut_intervals").as("n_runs_cut")), Seq(idCol))
  }

  /** Incremental curation — one NEW batch of documents against an
    * already-ingested corpus, without re-curating it: the q81 CDC shape
    * applied to the whole pipeline. Each batch doc is tagged with its
    * outcome, in pipeline order:
    *
    *   quality_fail | lang_fail | store_dup (fingerprint already
    *   ingested) | batch_dup (later same-fingerprint doc within the
    *   batch) | contaminated (trigram overlap with the eval corpus ≥
    *   `maxEvalOverlap`) | kept
    *
    * Plan shape: the per-row stages (quality, language, fingerprint)
    * fuse into the batch scan; the store anti-check is a left join on
    * `_fp` and the within-batch keep-first is a window on the SAME key,
    * so both ride one shuffle of the (small) batch — the store is never
    * re-shuffled beyond its join side, and nothing touches the already-
    * curated corpus. The eval guard runs only over the surviving
    * candidates (size-guarded broadcast via
    * [[Dedup.shingleOverlapVsEval]]). The tagged frame keeps `_fp` so
    * callers can append survivors' fingerprints back to the store —
    * which is exactly what [[streamCurate]] does per micro-batch.
    */
  def curateIncrementalTagged(batch: DataFrame, storeFps: DataFrame,
      idCol: String, textCol: String, cfg: Config = Config(),
      evalDocs: Option[DataFrame] = None,
      storeGrams: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val store = storeFps.select(col(storeFps.columns.head).as("_fp"))
      .distinct().withColumn("_in_store", lit(true))
    val eligible = col("_q_ok") && col("_l_ok") && !col("_in_store")
    val tagged0 = batch
      .withColumn("_q_ok",
        TextAnalysis.qualityScore(col(textCol), cfg.stopwords) >= cfg.minQuality)
      .withColumn("_l_ok",
        TextAnalysis.langId(col(textCol), cfg.markerSets).isin(cfg.allowedLangs: _*))
      .withColumn("_fp", TextAnalysis.contentFingerprint(col(textCol)))
      .join(store, Seq("_fp"), "left")
      .withColumn("_in_store", coalesce(col("_in_store"), lit(false)))
      .withColumn("_keeper",
        min(when(eligible, col(idCol))).over(Window.partitionBy("_fp")))
    val withContam = evalDocs.fold(tagged0.withColumn("_contam", lit(false))) { ev =>
      val cand = tagged0.filter(eligible && col(idCol) === col("_keeper"))
      val dirty = Dedup.shingleOverlapVsEval(cand, ev, idCol, textCol,
          cfg.contamShingleWidth, cfg.maxBroadcastEvalDocs)
        .filter(col("overlap_frac") >= cfg.maxEvalOverlap)
        .select(col(idCol)).withColumn("_contam", lit(true))
      tagged0.join(dirty, Seq(idCol), "left")
        .withColumn("_contam", coalesce(col("_contam"), lit(false)))
    }
    val tagged = withContam
      .withColumn("outcome",
        when(!col("_q_ok"), "quality_fail")
          .when(!col("_l_ok"), "lang_fail")
          .when(col("_in_store"), "store_dup")
          .when(col(idCol) =!= col("_keeper"), "batch_dup")
          .when(col("_contam"), "contaminated")
          .otherwise("kept"))
      .drop("_q_ok", "_l_ok", "_in_store", "_keeper", "_contam")
    if (!cfg.cutDupRuns) tagged
    else {
      // substring stage, incremental: the batch's kept docs checked for
      // >= runMinTokens shared runs against the STANDING corpus's gram
      // store plus each other (duplicateRunsIncremental — no base×base
      // pair is ever enumerated). Cuts land only on arriving docs: ids
      // are monotonic across batches (the store precondition every
      // keep-first stage here already relies on), so the run's keeper
      // min (doc_id, start) is always the already-stored or
      // earlier-batch side, exactly what the one-shot pass would pick.
      // Kept docs come back token-reassembled with `n_runs_cut`
      // stamped; non-kept rows carry n_runs_cut = 0 and original text.
      val keptDocs = tagged.filter(col("outcome") === "kept")
        .select(col(idCol), col(textCol))
      val newGrams = keptDocs.select(col(idCol),
        posexplode(call_function("graft_shingle_hash_list",
          col(textCol), lit(cfg.runGramK))).as(Seq("pos", "h")))
        .withColumn("_new", lit(true))
      val allGrams = storeGrams.fold(newGrams)(g =>
        g.select(col(idCol), col("pos"), col("h"))
          .withColumn("_new", lit(false)).unionByName(newGrams))
      val runs = Dedup.duplicateRunsIncremental(allGrams, idCol, "_new",
        cfg.runGramK, cfg.runMinTokens, cfg.runMaxOccurrences)
      // guard: only arriving docs are rewritable — a non-monotonic id
      // would otherwise ask us to cut an already-stored doc
      val runsOnNew = runs.join(
        keptDocs.select(col(idCol).as("id_b")), Seq("id_b"), "left_semi")
      val cut = Dedup.cutRuns(keptDocs, idCol, textCol, runsOnNew)
        .select(col(idCol), col(textCol).as("_cut_text"),
          col("n_cut_intervals").as("n_runs_cut"))
      tagged.join(cut, Seq(idCol), "left")
        .withColumn(textCol,
          when(col("outcome") === "kept" && col("_cut_text").isNotNull,
            col("_cut_text")).otherwise(col(textCol)))
        .withColumn("n_runs_cut", coalesce(col("n_runs_cut"), lit(0L)))
        .drop("_cut_text")
    }
  }

  /** The surviving rows of [[curateIncrementalTagged]] (original batch
    * columns plus `_fp`).
    */
  def curateIncremental(batch: DataFrame, storeFps: DataFrame,
      idCol: String, textCol: String, cfg: Config = Config(),
      evalDocs: Option[DataFrame] = None,
      storeGrams: Option[DataFrame] = None): DataFrame =
    curateIncrementalTagged(batch, storeFps, idCol, textCol, cfg, evalDocs,
        storeGrams)
      .filter(col("outcome") === "kept").drop("outcome")

  /** One-row survivorship report over a tagged batch — the q158-style
    * audit artifact an incremental run ships with each batch.
    */
  def batchReport(tagged: DataFrame): DataFrame = {
    val outcomes = Seq("quality_fail", "lang_fail", "store_dup",
      "batch_dup", "contaminated", "kept")
    val aggs = outcomes.map(o =>
      sum(when(col("outcome") === o, 1L).otherwise(0L)).as(s"n_$o")) ++
      // substring-layer tally, present when the batch ran with
      // cutDupRuns: kept docs that had >= 1 duplicate span cut
      (if (tagged.columns.contains("n_runs_cut"))
        Seq(sum(when(col("outcome") === "kept" && col("n_runs_cut") > 0,
          1L).otherwise(0L)).as("n_span_cut"))
      else Seq.empty)
    tagged.groupBy()
      .agg(count(lit(1)).as("n_input"), aggs: _*)
      .withColumn("removal_rate",
        round(lit(1.0) - col("n_kept").cast("double") / col("n_input"), 6))
  }

  /** One micro-batch of [[streamCurate]]: read the on-disk fingerprint
    * store, curate the batch against it, append survivors to `outPath`
    * and their fingerprints to the store — so the NEXT batch sees them
    * as `store_dup`. Exposed so batch/streaming parity is directly
    * testable: a stream of N micro-batches produces exactly the
    * survivor set of the equivalent one-shot runs.
    */
  def curateBatchStep(batch: DataFrame, storePath: String, outPath: String,
      idCol: String, textCol: String, cfg: Config = Config(),
      evalDocs: Option[DataFrame] = None): Unit = {
    val spark = batch.sparkSession
    val sp = new org.apache.hadoop.fs.Path(storePath)
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store =
      if (fs.exists(sp)) spark.read.schema("_fp STRING").parquet(storePath)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("_fp",
            org.apache.spark.sql.types.StringType))))
    // the substring layer's standing state rides NEXT TO the
    // fingerprint store: the positional gram stream of every kept
    // doc's ORIGINAL text (pre-cut — the detection layer must see
    // first-occurrence spans intact, or a span cut from batch N's
    // loser would go undetected when batch N+2 repeats it)
    val gramPath = storePath + "_grams"
    val gp = new org.apache.hadoop.fs.Path(gramPath)
    val storeGrams =
      if (cfg.cutDupRuns && gp.getFileSystem(
          spark.sparkContext.hadoopConfiguration).exists(gp))
        Some(spark.read.parquet(gramPath))
      else None
    // two consumers (survivor rows + fingerprint append): materialize
    // the tagging once instead of re-running the store join per sink
    val kept = curateIncrementalTagged(batch, store, idCol, textCol, cfg,
        evalDocs, storeGrams)
      .filter(col("outcome") === "kept").drop("outcome")
      .localCheckpoint(false)
    kept.write.mode("append").parquet(outPath)
    kept.select("_fp").write.mode("append").parquet(storePath)
    if (cfg.cutDupRuns) {
      batch.join(kept.select(col(idCol)), Seq(idCol), "left_semi")
        .select(col(idCol),
          posexplode(call_function("graft_shingle_hash_list",
            col(textCol), lit(cfg.runGramK))).as(Seq("pos", "h")))
        .write.mode("append").parquet(gramPath)
    }
  }

  /** Continuous curation: each micro-batch runs [[curateBatchStep]] —
    * the batch/streaming unification where the stream IS a sequence of
    * incremental batches sharing one fingerprint store. Caller
    * starts/awaits the returned writer.
    */
  def streamCurate(stream: DataFrame, storePath: String, outPath: String,
      idCol: String, textCol: String, cfg: Config = Config(),
      evalDocs: Option[DataFrame] = None): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        curateBatchStep(b.toDF(), storePath, outPath, idCol, textCol, cfg, evalDocs)
      }

  /** Per-stage row counts (runs the pipeline stage by stage — four
    * actions; use for auditing, not in the hot path).
    */
  def stageCounts(docs: DataFrame, idCol: String, textCol: String,
                  cfg: Config = Config()): StageCounts = {
    val q = docs.filter(TextAnalysis.qualityScore(col(textCol), cfg.stopwords) >= cfg.minQuality)
    val l = q.filter(TextAnalysis.langId(col(textCol), cfg.markerSets).isin(cfg.allowedLangs: _*))
    val e = dedupKeepFirst(
      l.withColumn("_fp", TextAnalysis.contentFingerprint(col(textCol))),
      Seq("_fp"), Seq(col(idCol).asc))
    StageCounts(
      input = docs.count(),
      afterQuality = q.count(),
      afterLang = l.count(),
      afterExactDedup = e.count(),
      afterNearDedup = curate(docs, idCol, textCol, cfg).count())
  }
}
