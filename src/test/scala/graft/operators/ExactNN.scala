package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** References the sampled NN audits are checked against: the complete
  * all-pairs top-1 and mutual set (O(n²) by contract — a reference,
  * never a query path) and a driver-side replay of the audit sample.
  */
object ExactNN {

  /** Exact all-pairs top-1 cosine neighbour per vector: the engine's
    * block-nested-loop with every vector as a probe. Output
    * (idCol, nb, cos), cos unrounded.
    */
  def top1Exact(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    Similarity.top1ExactFor(vectors, vectors, idCol, vecCol)

  /** Mutual nearest neighbours (reciprocal best match) from a top-1
    * relation of shape (id, nb, cos): pairs (a, b), a < b, where each
    * is the other's top-1.
    */
  def mutualFromTop1(top1: DataFrame, idCol: String): DataFrame = {
    val fwd = top1.filter(col(idCol) < col("nb"))
      .select(col(idCol).as("a"), col("nb").as("b"), col("cos"))
    val bwd = top1.filter(col(idCol) > col("nb"))
      .select(col("nb").as("a"), col(idCol).as("b"))
    fwd.join(bwd, Seq("a", "b")).select(col("a"), col("b"), col("cos"))
  }

  /** The ids [[Similarity.auditProbes]] selects, replayed on the
    * driver: the `AuditSampleSize` smallest by md5 of `"nnsample:" + id`,
    * ties by id.
    */
  def auditSample(ids: Seq[Long]): Set[Long] =
    ids.sortBy(id => (Hashing.hash64Local(s"nnsample:$id"), id))
      .take(Similarity.AuditSampleSize).toSet
}
