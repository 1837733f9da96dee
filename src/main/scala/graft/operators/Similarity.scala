package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Similarity search over embedding columns (Array[Float]).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the query vector
  * against a full scan; at 100 TB this is the map-only "gold" path you
  * fall back to per-partition. Scale path: random-hyperplane LSH
  * bucketing — each vector gets a small integer bucket from the sign
  * pattern of `planes` pseudo-random projections, candidates are
  * restricted to the query's bucket (an equi-join / partition-pruned
  * scan instead of an all-pairs pass).
  *
  * Determinism: per-row dot products fold left-to-right in double —
  * IEEE-deterministic and engine-portable (an oracle folding in index
  * order, e.g. DuckDB list_reduce, reproduces them bit-for-bit);
  * hyperplanes are md5-derived so an external oracle can rebuild the
  * exact same buckets. (Multi-row aggregation is where order-independent
  * decimal accumulation is needed — see ScalarFunctions.dsum.)
  */
object Similarity {

  /** Dot product of two float- or double-array columns: double products
    * folded left to right, as the native codegen'd expression
    * (expressions.FloatDot) — bit-identical to the same fold written
    * with Spark's higher-order functions (FloatDotSpec), ~10× faster on
    * wide embeddings. Double, not decimal: a decimal accumulator is ~4×
    * slower, and the fixed per-row fold order already makes doubles
    * deterministic. Resolves
    * on any session that has the engine installed (see
    * `GraftExtensions`).
    */
  def dotNative(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Cosine similarity rounded to 6 dp (rounding also stabilizes any
    * residual last-ulp divergence between engines).
    */
  def cosine(a: Column, b: Column): Column =
    round(dotNative(a, b) / (sqrt(dotNative(a, a)) * sqrt(dotNative(b, b))), 6)

  /** Brute-force top-k nearest neighbours of one query vector.
    * The single-row query side is broadcast; the scan side never
    * shuffles; TakeOrderedAndProject keeps k rows per partition.
    */
  def bruteForceTopK(vectors: DataFrame, idCol: String, vecCol: String,
                     query: DataFrame, k: Int): DataFrame = {
    val q = query.select(col(vecCol).as("_qvec"))
    vectors.crossJoin(broadcast(q))
      .select(col(idCol), cosine(col(vecCol), col("_qvec")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Pseudo-random hyperplane component in [-1, 1] for (plane, dim),
    * computed at plan-build time (md5-derived, reproducible anywhere).
    */
  def planeComponent(p: Int, d: Int): Double =
    (Hashing.hash64Local(s"plane$p:$d") % 2001 - 1000).toDouble / 1000.0

  /** Sign-pattern LSH bucket id from `planes` hyperplane projections of
    * a `dim`-wide vector. Same-bucket vectors are ANN candidates.
    *
    * The hyperplanes are literal double arrays baked into the plan and
    * each projection is a left-to-right double fold — IEEE-deterministic
    * (same values on any engine folding in index order) and fully
    * codegen'd. A decimal variant was 10× slower: a 512-node decimal
    * tree exceeds Janino's method limits and drops the whole projection
    * out of WholeStageCodegen into interpreted evaluation.
    */
  def hyperplaneBucket(vec: Column, dim: Int, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val plane = array((1 to dim).map(d => lit(planeComponent(p, d))): _*)
      // r16: the compiled kernel (graft_dot now takes float|double
      // sides) — the interpreted zip_with/aggregate fold boxed two
      // lambdas per element, per plane, per row. Same left-to-right
      // double fold, bit-identical projections.
      val proj = dotNative(vec, plane)
      when(proj > 0, lit(1 << p)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** Seeded hyperplane component in [-1, 1] for (seed, plane, dim) —
    * independent plane families (e.g. the L hash tables of a banded
    * pair-search) come from distinct seeds.
    */
  def planeComponentSeeded(seed: String, p: Int, d: Int): Double =
    (Hashing.hash64Local(s"$seed:p$p:d$d") % 2001 - 1000).toDouble / 1000.0

  /** [[hyperplaneBucket]] with an explicit plane-family seed. Same
    * determinism/codegen properties; used where several independent
    * bucket tables are needed (banded near-dup search boosts recall:
    * P(candidate) = 1 - (1 - (1-θ/π)^planes)^tables).
    */
  def hyperplaneBucketSeeded(vec: Column, dim: Int, planes: Int, seed: String): Column = {
    val bits = (0 until planes).map { p =>
      val plane = array((1 to dim).map(d => lit(planeComponentSeeded(seed, p, d))): _*)
      val proj = dotNative(vec, plane) // r16: compiled, see hyperplaneBucket
      when(proj > 0, lit(1 << p)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** Per-vector symmetric int8 quantization scale: max|v| / 127.
    * Together with [[quantizeInt8]] this is the compression step a
    * 100 TB embedding store runs before indexing — 4× smaller than
    * float32 with a per-vector scale preserving relative precision.
    */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double")))) / 127.0

  /** Quantized int8 codes: round(v_i / scale). NOTE: a `scale` built
    * from an expression (e.g. [[int8Scale]]) is re-evaluated per
    * element inside the lambda — higher-order functions inline their
    * argument trees (no common-subexpression reuse). Fine at dim 64;
    * for wide vectors materialize the scale column first (checkpoint /
    * shuffle boundary) before calling this.
    */
  def quantizeInt8(vec: Column, scale: Column): Column =
    transform(vec, x => round(x.cast("double") / scale).cast("int"))

  /** Per-dimension absolute reconstruction error |v_i - q_i·scale| of
    * a quantized vector (all double arithmetic: IEEE-deterministic,
    * engine-portable).
    */
  def dequantError(vec: Column, q: Column, scale: Column): Column =
    zip_with(vec, q, (x, qq) => abs(x.cast("double") - qq.cast("double") * scale))

  /** LSH-bucketed ANN: top-k within the query's bucket only. */
  def lshTopK(vectors: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, dim: Int, planes: Int, k: Int): DataFrame = {
    val bucketed = vectors.withColumn("_bucket", hyperplaneBucket(col(vecCol), dim, planes))
    val q = query.select(
      col(vecCol).as("_qvec"),
      hyperplaneBucket(col(vecCol), dim, planes).as("_qbucket"))
    bucketed.join(broadcast(q), col("_bucket") === col("_qbucket"))
      .select(col(idCol), cosine(col(vecCol), col("_qvec")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** The probe set the NN recall audits run over: a deterministic
    * fixed-count sample of 200 ids from the vector table — audit cost
    * O(S·n), linear in the corpus for fixed S. The sample is the S
    * smallest ids by the engine-portable md5 hash of `"nnsample:" + id`
    * (ties by id) — content-independent, so every representation of
    * the same corpus (full floats, int8-dequant, MRL-truncated) samples
    * the SAME ids, and an external oracle replays the selection
    * exactly. S ≥ n degenerates to the full table.
    */
  def auditProbes(vectors: DataFrame, idCol: String): DataFrame = {
    val ids = vectors.select(col(idCol))
      .orderBy(graft.functions.Hashing.hash64(
        concat(lit("nnsample:"), col(idCol).cast("string"))), col(idCol))
      .limit(AuditSampleSize) // TakeOrdered — bounded driver state
    vectors.join(broadcast(ids), Seq(idCol)) // S-row broadcast semi-shape
  }

  /** Probe-sample size of [[auditProbes]]. */
  val AuditSampleSize = 200

  /** EXACT top-1 cosine neighbour over the FULL index `vectors` for
    * each probe row, as a distributed block-nested-loop — the
    * scale-correct shape for the mutual-NN / reciprocal-best-match
    * family when the data has no near-dup structure for LSH to exploit
    * (exact kNN is O(n²) work no matter what; the engineering content
    * is WHERE that work runs and what a task holds):
    *
    *  - the index side collapses into chunk rows of ≤ ~2·256
    *    (id, vec, norm) structs — BOUNDED row size, unlike a
    *    per-key collect of a whole blocking group;
    *  - the probe side replicates once per chunk via an equi-join on
    *    a broadcast grid of CHUNK IDS ONLY (numChunks longs — plan
    *    metadata, not data; the vector table itself is never
    *    broadcast), then shuffle-joins chunk rows on the chunk key,
    *    so tiles spread over all executors;
    *  - each (probe row × chunk row) computes its LOCAL argmax inside
    *    the row with higher-order functions (one codegen'd
    *    `graft_dot` per candidate) — n·numChunks rows materialize,
    *    never n²;
    *  - the global argmax is `max(struct(cos, -id))` — an ordinary
    *    hash aggregate with map-side partial combine (a window over
    *    n² rows would shuffle them all).
    *
    * Cost is O(|probes|·n) — linear in the corpus for a sampled probe
    * set (recall audits sample the queries, never the index).
    * `probes` must be a subset of `vectors` in (idCol, vecCol) —
    * self-matches are excluded by id. Ties break toward the smaller
    * neighbour id. Output:
    * (idCol, nb, cos) — one row per vector, cos UNROUNDED (callers
    * round at presentation; selection must compare full doubles).
    */
  def top1ExactFor(probes: DataFrame, vectors: DataFrame, idCol: String,
                   vecCol: String): DataFrame = {
    val spark = vectors.sparkSession
    val chunkSize = 256
    val n = vectors.count()
    // r16: floor the chunk count near the core count — the tile join
    // is keyed on _ck, so numChunks CAPS the stage's parallelism, and
    // n/256 chunks put the whole O(|probes|·n) dot-product pass on a
    // handful of tasks (q268: two ~450 ms single-task stages measured).
    // At scale n/chunkSize dominates and the floor is inert; tiny
    // chunks are avoided (≥16 rows each). Chunking granularity cannot
    // change the result: per-tile bests combine through the same
    // (cos, smallest-id) deterministic argmax.
    val numChunks = math.max(
      math.max(1L, (n + chunkSize - 1) / chunkSize),
      math.min(2L * spark.sparkContext.defaultParallelism, (n + 15) / 16))
    def norm(df: DataFrame) = df.select(
      col(idCol).cast("long").as("_id"), col(vecCol).as("_vec"),
      sqrt(dotNative(col(vecCol), col(vecCol))).as("_nrm"))
    val chunks = norm(vectors)
      .withColumn("_ck", pmod(xxhash64(col("_id")), lit(numChunks)))
      .groupBy("_ck").agg(
        collect_list(struct(col("_id").as("nb"), col("_vec").as("eb"),
          col("_nrm").as("nn"))).as("_arr"))
    val grid = spark.range(numChunks).select(col("id").as("_ck"))
    val tiles = norm(probes)
      .join(broadcast(grid))                 // replicate probes: chunk ids only
      .join(chunks, Seq("_ck"))              // shuffle equi-join on the chunk key
    val local = tiles.select(col("_id"), col("_nrm"),
      expr("""aggregate(
                transform(_arr, s -> named_struct(
                  'cos', graft_dot(_vec, s.eb) / (_nrm * s.nn), 'nb', s.nb)),
                named_struct('cos', CAST(-2.0 AS DOUBLE), 'nb', CAST(-1 AS BIGINT)),
                (acc, s) -> IF(s.nb = _id, acc,
                  IF(s.cos > acc.cos OR (s.cos = acc.cos AND s.nb < acc.nb), s, acc)))
           """).as("_best"))
    local.filter(col("_best.nb") >= 0)
      .groupBy(col("_id"))
      .agg(call_function("graft_max_any",
        struct(col("_best.cos").as("cos"), (-col("_best.nb")).as("negnb"))).as("_m"))
      .select(col("_id").as(idCol), (-col("_m.negnb")).as("nb"), col("_m.cos").as("cos"))
  }

  /** Mutual-NN audit over the probe sample ([[auditProbes]]): exact
    * top-1 for each sampled probe against the FULL index, then exact
    * top-1 for each DISTINCT best-neighbour (≤ S ids — a bounded
    * broadcast), and a pair (a, b) reports iff each is the other's
    * exact top-1. Cost O(S·n) — linear in the corpus for the fixed
    * audit sample. Output (a, b, cos), a < b, cos unrounded.
    */
  def mutualNNAudit(vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val t1s = top1ExactFor(auditProbes(vectors, idCol), vectors, idCol, vecCol)
    val nbIds = t1s.select(col("nb").as(idCol)).distinct()
    val t1b = top1ExactFor(vectors.join(broadcast(nbIds), Seq(idCol)),
      vectors, idCol, vecCol)
      .select(col(idCol).as("_bid"), col("nb").as("_bnb"))
    // a sampled pair can surface from both endpoints — normalize and dedup
    t1s.join(t1b, col("nb") === col("_bid") && col("_bnb") === col(idCol))
      .select(least(col(idCol), col("nb")).as("a"),
        greatest(col(idCol), col("nb")).as("b"), col("cos"))
      .groupBy("a", "b").agg(max(col("cos")).as("cos"))
  }
}
