package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Mutual-NN contract pins (VERDICT r8 item 2): the exact top-1
  * ([[Similarity.top1ExactFor]], q268's engine) must reproduce a naive
  * all-pairs argmax — same neighbour ids, same tie-breaks — while its
  * plan never broadcasts the vector table (the only broadcast is the
  * chunk-id grid).
  */
class MutualNNSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Naive reference: collect, score all pairs with the same
    * left-to-right double fold the engine uses, argmax per vector with
    * the (cos desc, id asc) tie-break.
    */
  private def naiveTop1(vecs: Seq[(Long, Array[Float])]): Map[Long, (Long, Double)] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val norms = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    vecs.map { case (id, v) =>
      var bestId = -1L; var bestCos = -2.0
      vecs.foreach { case (jd, w) =>
        if (jd != id) {
          val c = dot(v, w) / (norms(id) * norms(jd))
          if (c > bestCos || (c == bestCos && jd < bestId)) { bestCos = c; bestId = jd }
        }
      }
      id -> (bestId, bestCos)
    }.toMap
  }

  test("top1Exact ≡ naive all-pairs argmax (sf0.001 embeddings)") {
    val emb = Tables.load(spark, sf, "embeddings")
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val expect = naiveTop1(vecs)
    val got = ExactNN.top1Exact(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (id, (nb, cos)) =>
      assert(nb == expect(id)._1, s"vec $id: nb $nb != ${expect(id)._1}")
      assert(math.abs(cos - expect(id)._2) < 1e-12, s"vec $id cos")
    }
  }

  test("q268's plan hint-broadcasts only bounded id sets, never the vector table") {
    val df = graft.queries.AnalyticsQueries.q268.fn(spark, sf)
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.nonEmpty, "expected broadcast hints (chunk grid, audit-id sets)")
    hinted.foreach { h =>
      // every hint child is a single long column: the chunk-id grid, the
      // LIMIT-bounded audit sample ids, or the ≤S distinct best-neighbour
      // ids — never a plan whose output carries the embedding vectors
      // (size-based auto-broadcast at tiny SF is fine; a hint would force
      // it at any scale)
      val out = h.child.output
      assert(out.length == 1 &&
        out.head.dataType == org.apache.spark.sql.types.LongType,
        s"broadcast hint over non-id-set child: ${out.map(a => s"${a.name}:${a.dataType}")}")
    }
  }

  test("top1ExactFor on a probe subset ≡ top1Exact restricted to it") {
    val emb = Tables.load(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") % 3 === 0)
    val subset = Similarity.top1ExactFor(probes, emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val full = ExactNN.top1Exact(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(subset.keySet == full.keySet.filter(_ % 3 == 0))
    subset.foreach { case (id, v) => assert(v == full(id), s"vec $id") }
  }

  test("sampled mutualNNAudit = full mutual set restricted to pairs touching the sample") {
    val emb = Tables.load(spark, sf, "embeddings")
    val fullPairs = ExactNN.mutualFromTop1(
      ExactNN.top1Exact(emb, "vec_id", "embedding"), "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = Similarity.auditProbes(emb, "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // min(200, n) md5-ordered ids, replayable off the engine
    assert(ids.size == math.min(200L, emb.count()))
    assert(ids == ExactNN.auditSample(emb.select("vec_id").collect().map(_.getLong(0)).toSeq))
    val sampled = Similarity.mutualNNAudit(emb, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = fullPairs.filter { case (a, b) => ids(a) || ids(b) }
    assert(expect.nonEmpty && expect != fullPairs, "the sample must be a proper, non-trivial subset")
    assert(sampled == expect,
      s"sampled missed ${expect -- sampled}, invented ${sampled -- expect}")
  }

  test("sampled mutualNNAudit is invariant under input partitioning") {
    val emb = Tables.load(spark, sf, "embeddings")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.mutualNNAudit(df, "vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = run(emb.repartition(1))
    assert(run(emb.repartition(5)) == base)
    assert(run(emb.repartition(32)) == base)
  }
}
