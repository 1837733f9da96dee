package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Exact set-similarity self-join (Jaccard ≥ t over distinct
  * shingle-hash sets) via prefix filtering — the PPJoin family (Xiao et
  * al., WWW'08) — with an exact-duplicate group collapse in front.
  *
  * Unlike LSH (Dedup.minhashLshPairs) there are NO false negatives: any
  * pair with J ≥ t shares at least one token of the rarity-ordered
  * prefix (the first |s| − ⌈t·|s|⌉ + 1 tokens), so candidates generated
  * from shared prefix tokens plus exact verification give the exact
  * join.
  *
  * Scale shape, in order of what kills naive versions at 100 TB:
  *
  *   1. GROUP COLLAPSE: documents with identical shingle sets are
  *      grouped BEFORE any pair machinery (groupBy on the sorted hash
  *      array itself — no collision-merge risk). A pathological corpus
  *      of 10k identical boilerplate docs becomes ONE group: zero
  *      candidate pairs, zero verifications. The inherently quadratic
  *      within-group output (every pair is a J=1.0 match) is
  *      regenerated chunk-bounded at the end — streamed from many
  *      bounded tasks, never one O(m²) array row.
  *   2. PREFIX FILTER: tokens ordered by global document frequency
  *      (then hash — a total order, deterministic across engines and
  *      partition layouts); only the rare prefix generates candidates,
  *      so stop-words never create buckets.
  *   3. EXACT BUCKETING: Dedup.bucketPairsExact drops NO bucket
  *      (exactness) but splits oversized ones into id-ordered chunks so
  *      per-task work is bounded by chunk².
  *   4. LENGTH FILTER: |a|/|b| outside [t, 1/t] can't reach J ≥ t —
  *      pruned before the intersect kernel runs.
  *   5. Verification uses the codegen'd graft_intersect_count over
  *      sorted long arrays and an integer-exact threshold test
  *      (10·|∩| ≥ 6·|∪| for t = 0.6 — no float boundary hazard).
  *
  * Reference behavior twinned: exact near-duplicate detection over
  * document shingle sets (reference corpus-dedup test surface); the
  * numerator/denominator arithmetic matches the DuckDB oracle exactly.
  */
object SetSimJoin {

  /** Documents with identical shingle sets collapsed to one row.
    * Persisted (plan-keyed) — referenced by prefix generation, both
    * verify joins, and member expansion. */
  def groups(spark: SparkSession, docs: DataFrame): DataFrame =
    // pinKeyed: the hs-keyed collapse exchange is AQE-starved (array
    // keys hash/compare per row — CPU-dense, byte-small); hs is
    // near-unique so map-side combining never helped (r16)
    ScaleOps.pinKeyed(docs, col("hs")).groupBy("hs")
      .agg(min("doc_id").as("gid"),
        sort_array(collect_list(col("doc_id"))).as("members"),
        count(lit(1)).as("m"))
      .withColumn("sz", size(col("hs")))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** (gid, ph): one row per prefix token of each unique set. For
    * threshold t = num/den, prefix length is |s| − ⌈t·|s|⌉ + 1,
    * computed in integer arithmetic.
    *
    * Two window passes, two shuffles total: document frequency as a
    * count over the token partition, then rarity rank inside each set —
    * no per-set token array is ever collected or sorted just to slice
    * its head. (df, h) is a total order, so the same set gets the same
    * prefix on every engine and partition layout. */
  def prefixes(groups: DataFrame, num: Int, den: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = groups.select(col("gid"), col("sz"), explode(col("hs")).as("h"))
    // pinKeyed ×2 (r16): both window exchanges carry byte-small token
    // rows but CPU-dense window evaluation — AQE coalesced each onto
    // 2-3 tasks (q128: 476 + 309 ms CPU measured)
    ScaleOps.pinKeyed(tok, col("h"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .transform(d => ScaleOps.pinKeyed(d, col("gid")))
      .withColumn("rn",
        row_number().over(Window.partitionBy("gid").orderBy(col("df"), col("h"))))
      .filter(col("rn") <= col("sz") - expr(s"(sz * $num + $den - 1) div $den") + 1)
      .select(col("gid"), col("h").as("ph"))
  }

  /** Matched UNIQUE-set pairs (gid_a < gid_b, members carried) with the
    * exact jaccard, threshold num/den. */
  def matchedGroups(groups: DataFrame, num: Int, den: Int): DataFrame = {
    val cand = Dedup.bucketPairsExact(prefixes(groups, num, den), "gid", Seq("ph"))
    val gSlim = groups.select(col("gid"), col("hs"), col("sz"), col("members"))
    cand
      .join(gSlim.select(col("gid").as("id_a"), col("hs").as("ha"),
        col("sz").as("sa"), col("members").as("ma")), "id_a")
      .join(gSlim.select(col("gid").as("id_b"), col("hs").as("hb"),
        col("sz").as("sb"), col("members").as("mb")), "id_b")
      .filter(col("sa") * den >= col("sb") * num && col("sb") * den >= col("sa") * num)
      .withColumn("_it",
        call_function("graft_intersect_count", col("ha"), col("hb")).cast("long"))
      .filter(col("_it") * den >= (col("sa") + col("sb") - col("_it")) * num)
      .select(col("id_a"), col("id_b"), col("ma"), col("mb"),
        round(col("_it").cast("double") / (col("sa") + col("sb") - col("_it")), 6)
          .as("jaccard"))
  }

  /** Full document-level join: (id_a, id_b, jaccard), id_a < id_b.
    *
    * @param docs (doc_id, hs) where hs is the SORTED distinct shingle
    *             hash array
    * @param num/den similarity threshold t = num/den in lowest terms
    */
  def pairs(spark: SparkSession, docs: DataFrame, num: Int, den: Int): DataFrame = {
    val g = groups(spark, docs)
    val matched = matchedGroups(g, num, den)
    val cross = Dedup.expandMemberPairs(
      matched.withColumn("_k", monotonically_increasing_id()),
      "ma", "mb", carry = Seq("_k", "jaccard"))
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val withinG = Dedup.expandMemberPairs(
      g.filter(col("m") > 1).select(col("gid"), col("members")),
      "members", "members", carry = Seq("gid"))
      .select(col("id_a"), col("id_b"), lit(1.0d).as("jaccard"))
    cross.union(withinG)
  }
}
