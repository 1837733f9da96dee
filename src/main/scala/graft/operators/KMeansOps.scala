package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterated Lloyd k-means on (id, vector) DataFrames — the loop around
  * the oracle-gated q74 unit step, with the same discipline as
  * [[GraphOps.pageRank]] / [[Dedup.connectedComponents]]: one
  * broadcast + one skinny shuffle per round, intermediate frames cut
  * from lineage with localCheckpoint, exactly one scalar driver action
  * per round (the movement metric). Centroids never leave the cluster
  * as collected arrays — they are a k-row DataFrame rebuilt each round
  * and broadcast into the next assignment.
  */
object KMeansOps {

  /** One Lloyd step: assign every vector to its nearest centroid
    * (squared-L2 via the vv − 2·v·c + cc fold — assignment is
    * engine-exact, ties to the lowest cid) and recompute centroids
    * with q45's 1e-6 fixed-point accumulation (order-independent).
    *
    * @param vecs (idCol, vecCol) — the corpus
    * @param cent (cid, cv) — current centroids, k rows
    * @return (cid, cv, n_vecs) — new centroids; empty clusters vanish
    *         (standard Lloyd; the caller reseeds or accepts k' < k)
    */
  def lloydStep(vecs: DataFrame, idCol: String, vecCol: String,
                cent: DataFrame): DataFrame = {
    val scored = vecs.crossJoin(broadcast(cent))
      .select(col(idCol).as("_id"), col("cid"),
        (Similarity.dotNative(col(vecCol), col(vecCol))
          - lit(2.0) * Similarity.dotNative(col(vecCol), col("cv"))
          + Similarity.dotNative(col("cv"), col("cv"))).as("_dist"))
    val best = scored.withColumn("_rn", row_number().over(
        Window.partitionBy("_id").orderBy(col("_dist").asc, col("cid").asc)))
      .filter(col("_rn") === 1)
      .select(col("_id"), col("cid"))
    best.join(vecs.select(col(idCol).as("_id"), col(vecCol)), Seq("_id"))
      .select(col("cid"), posexplode(col(vecCol)).as(Seq("_pos", "_v")))
      .groupBy(col("cid"), (col("_pos") + 1).as("_dim"))
      .agg(
        (sum(round(col("_v").cast("double") * 1e6).cast("long")).cast("double")
          / count(col("_v")) / 1e6).as("_cv"),
        count(col("_v")).as("_n"))
      .groupBy("cid")
      .agg(
        transform(array_sort(collect_list(struct(col("_dim"), col("_cv")))),
          x => x.getField("_cv").cast("float")).as("cv"),
        max("_n").as("n_vecs"))
  }

  /** Run Lloyd steps from `init` (cid, cv) until the maximum centroid
    * movement (squared L2) drops below `tol`, or `maxIter` rounds.
    * Returns (cid, cv, n_vecs). The per-round driver value is ONE
    * double (the max movement) — the same loop-scalar discipline as
    * pageRank's dangling mass and connectedComponents' change count.
    */
  def fit(vecs: DataFrame, idCol: String, vecCol: String,
          init: DataFrame, maxIter: Int = 20, tol: Double = 1e-6,
          onRound: (Int, Double) => Unit = (_, _) => ()): DataFrame = {
    require(maxIter >= 1, "maxIter must be >= 1")
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    var cent = init.select(col("cid"), col("cv")).localCheckpoint(false)
    var last: DataFrame = null
    var moved = Double.MaxValue
    var i = 0
    while (moved > tol && i < maxIter) {
      val next = lloydStep(vecs, idCol, vecCol, cent).localCheckpoint(false)
      // movement: max over surviving clusters of |c_new − c_old|²
      moved = next.select(col("cid"), col("cv").as("_ncv"))
        .join(cent, Seq("cid"))
        .select((dot(col("_ncv"), col("_ncv"))
          - lit(2.0) * dot(col("_ncv"), col("cv"))
          + dot(col("cv"), col("cv"))).as("_m"))
        .agg(coalesce(max("_m"), lit(0.0))).first().getDouble(0)
      last = next
      cent = next.select(col("cid"), col("cv")).localCheckpoint(false)
      i += 1
      onRound(i, moved) // telemetry only (round, max centroid movement²)
    }
    last // maxIter >= 1 ⇒ at least one step ran; (cid, cv, n_vecs)
  }
}
