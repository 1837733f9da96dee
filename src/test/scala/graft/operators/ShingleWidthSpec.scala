package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.{SparkSpec, Tables}
import graft.expressions.MinhashKernel

/** The conf-widened shingle-hash space (`spark.graft.shingleBits`):
  * 31-bit default for oracle parity, ≥48-bit for >10M-gram corpora
  * where the 31-bit birthday bound inflates exact counts. Pins
  * (a) the kernel's width semantics, (b) the q364 containment matrix
  * exact against an independently-computed reference at BOTH widths,
  * (c) q128's width plumbing, (d) analysis/build-time validation.
  */
class ShingleWidthSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def kernelSet(text: String, n: Int, bits: Int): Set[Long] =
    MinhashKernel.shingleHashes(UTF8String.fromString(text), n, bits)
      .toLongArray().toSet

  test("kernel: 2-arg form ≡ 3-arg at 31; wider hashes re-mask to the narrow set") {
    val texts = Seq("a b c d e f g", "one two", " padded   tokens  here ", "x")
    for (t <- texts) {
      val h31 = kernelSet(t, 3, 31)
      assert(MinhashKernel.shingleHashes(UTF8String.fromString(t), 3)
        .toLongArray().toSet == h31)
      val h48 = kernelSet(t, 3, 48)
      val h60 = kernelSet(t, 3, 60)
      // no collisions at these sizes, so re-masking the wide set gives
      // exactly the narrow set — same md5 stream, different mask
      assert(h48.map(_ & ((1L << 31) - 1)) == h31, t)
      assert(h60.map(_ & ((1L << 48) - 1)) == h48, t)
      assert(h48.forall(h => h >= 0 && h < (1L << 48)), t)
    }
  }

  test("q364 containment matrix is exact at 31-bit AND 48-bit widths") {
    val docs = Tables.load(spark, sf, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def expectedAt(bits: Int): Set[(String, String, Long, Long, Long)] = {
      val bySource = docs.groupBy(_._1).view.mapValues(
        _.flatMap { case (_, t) => kernelSet(t, 3, bits) }.toSet).toMap
      (for {
        (a, sa) <- bySource.toSeq
        (b, sb) <- bySource.toSeq if a != b
        shared = (sa & sb).size.toLong if shared > 0
      } yield (a, b, shared, sa.size.toLong, shared * 1000000L / sa.size)).toSet
    }
    def gotAt(bits: Option[Int]): Set[(String, String, Long, Long, Long)] = {
      bits.foreach(b => spark.conf.set(Dedup.ShingleBitsKey, b.toString))
      try graft.queries.DataQueries.q364.fn(spark, sf).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      finally spark.conf.unset(Dedup.ShingleBitsKey)
    }
    assert(gotAt(None) == expectedAt(31), "default (31-bit) containment diverged")
    assert(gotAt(Some(48)) == expectedAt(48), "48-bit containment diverged")
  }

  test("q128 set-similarity pairs are width-stable on the test corpus") {
    // at 500 docs neither width collides, so the pair set and the
    // jaccards must be IDENTICAL — widening changes nothing until the
    // corpus is large enough for 31-bit phantom intersections
    def rowsAt(bits: Option[Int]) = {
      bits.foreach(b => spark.conf.set(Dedup.ShingleBitsKey, b.toString))
      try graft.queries.ExtQueries.q128.fn(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
      finally spark.conf.unset(Dedup.ShingleBitsKey)
    }
    assert(rowsAt(Some(48)) == rowsAt(None))
  }

  test("width validation: conf and expression both reject out-of-range bits") {
    spark.conf.set(Dedup.ShingleBitsKey, "61")
    try intercept[IllegalArgumentException](Dedup.shingleBits(spark))
    finally spark.conf.unset(Dedup.ShingleBitsKey)
    // analysis-time failure, not a silent degenerate mask (JVM shifts
    // are mod 64 — the GearChunks maskBits lesson)
    import spark.implicits._
    val df = Seq("a b c d").toDF("text")
    for (bad <- Seq(8, 61)) {
      val e = intercept[Exception](
        df.select(call_function("graft_shingle_hashes", col("text"), lit(3), lit(bad)))
          .collect())
      assert(e.getMessage.contains("maskBits"), s"bits=$bad: ${e.getMessage}")
    }
  }
}
