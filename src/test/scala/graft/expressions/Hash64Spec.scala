package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `graft_hash64` (compiled digest) must equal the declarative
  * `Hashing.hash64` chain (conv/substr/md5) and the driver-side
  * `hash64Local` on arbitrary strings — all three are definitions of
  * the same 60-bit md5 prefix.
  */
class Hash64Spec extends SparkSpec {

  test("compiled == declarative == local on corpus text and edge cases") {
    import spark.implicits._
    val edge = Seq("", "a", "bs|1|0", "unicode é ẹ́", "x" * 10000)
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text")).as[String].collect().take(100).toSeq
    val df = (edge ++ docs).toDF("s")
    val mismatch = df.select(
        call_function("graft_hash64", col("s")).as("a"),
        graft.functions.Hashing.hash64(col("s")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mismatch == 0L)
    edge.foreach { s =>
      val local = graft.functions.Hashing.hash64Local(s)
      val compiled = Seq(s).toDF("s")
        .select(call_function("graft_hash64", col("s"))).first().getLong(0)
      assert(local == compiled, s"hash64Local mismatch on '$s'")
    }
  }

  test("null propagates") {
    assert(spark.sql("SELECT graft_hash64(CAST(NULL AS STRING))").first().isNullAt(0))
  }
}
