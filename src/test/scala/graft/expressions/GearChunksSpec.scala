package graft.expressions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** [[GearChunks]] — the CDC kernel behind q322. */
class GearChunksSpec extends SparkSpec {

  private def chunksOf(s: String, maskBits: Int = 6): Seq[(Long, Int)] = {
    val arr = GearKernel.chunks(UTF8String.fromString(s), maskBits)
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 2)
      (r.getLong(0), r.getInt(1))
    }
  }

  test("kernel matches a byte-level Scala reference") {
    val rnd = new scala.util.Random(3)
    val s = Seq.fill(500)(('a' + rnd.nextInt(26)).toChar).mkString
    val bytes = s.getBytes("UTF-8")
    var h = 0L; var start = 0
    val ref = collection.mutable.Buffer[(Long, Int)]()
    for (i <- bytes.indices) {
      h = (h << 1) + GearKernel.Gear(bytes(i) & 0xff)
      if ((h & 63L) == 0L) {
        ref += ((MinhashKernel.hash60(bytes.slice(start, i + 1)), i + 1 - start))
        start = i + 1; h = 0L
      }
    }
    if (start < bytes.length)
      ref += ((MinhashKernel.hash60(bytes.drop(start)), bytes.length - start))
    assert(chunksOf(s) == ref.toSeq)
    assert(ref.map(_._2).sum == bytes.length)
  }

  test("content-defined: an edit only disturbs chunks near it") {
    val rnd = new scala.util.Random(9)
    val s = Seq.fill(4000)(('a' + rnd.nextInt(26)).toChar).mkString
    val edited = s.substring(0, 100) + "X" + s.substring(100)
    val a = chunksOf(s).map(_._1)
    val b = chunksOf(edited).map(_._1)
    // the suffix chunks realign after the edit: a long common suffix of
    // fingerprints must survive (fixed-size chunking would share none)
    val common = a.reverse.zip(b.reverse).takeWhile { case (x, y) => x == y }.length
    assert(common > a.length / 2,
      s"only $common of ${a.length} suffix chunks survived a 1-byte insert")
    assert(a != b)
  }

  test("empty text yields no chunks; boundary-free text yields one") {
    assert(chunksOf("").isEmpty)
    val one = chunksOf("ab", maskBits = 62) // boundary essentially impossible
    assert(one.length == 1 && one.head._2 == 2)
  }

  test("SQL registration round-trips through the catalyst expression") {
    import spark.implicits._
    val out = Seq("the quick brown fox jumps over the lazy dog " * 8)
      .toDF("t")
      .select(explode(call_function("graft_gear_chunks", col("t"), lit(6))).as("c"))
      .select(sum("c.len")).collect()(0).getLong(0)
    assert(out == ("the quick brown fox jumps over the lazy dog " * 8).length)
  }

  test("maskBits outside [1, 62] fails at analysis time, not silently") {
    // JVM long shifts are mod 64: maskBits=64 would make the mask 0 and
    // chunk after every byte; the expression must reject it up front
    import spark.implicits._
    for (bad <- Seq(0, -3, 63, 64, 100)) {
      val e = intercept[Exception] {
        Seq("abc").toDF("t")
          .select(call_function("graft_gear_chunks", col("t"), lit(bad)))
          .collect()
      }
      assert(e.getMessage.contains("maskBits"), s"maskBits=$bad: ${e.getMessage}")
    }
  }
}
