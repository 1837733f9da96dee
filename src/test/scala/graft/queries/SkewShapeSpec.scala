package graft.queries

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hot-block pins for the two blocked pair-enumeration queries
  * (VERDICT r8 items 3 & 4): plant a block far bigger than one
  * chunk-grid tile and assert the chunked shapes reproduce exact
  * brute-force answers. The point: a stop-word-headed block (q262) or
  * a mega-nation (q307) streams its pair set from bounded ≤ chunk²
  * tiles — correctness must survive the tiling (grid covers every
  * (i ≤ j) chunk combination exactly once, id-ordered chunks keep
  * a < b) with no whole-block row ever materializing.
  */
class SkewShapeSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("q262 hot first-token block (800 docs, one blk) matches brute force") {
    val rnd = new scala.util.Random(7)
    def hex(n: Int) = Seq.fill(n)("0123456789abcdef" (rnd.nextInt(16))).mkString
    // 800 docs all sharing first token "hot": mostly dissimilar tails,
    // plus 4 planted near-dup families of 5 docs (JW ≥ 0.9 only there)
    val texts = (0 until 780).map(i => s"hot ${hex(44)} filler") ++
      (0 until 4).flatMap { g =>
        val stem = s"hot family$g ${hex(30)}"
        (0 until 5).map(j => s"$stem$j tail")
      }
    val docRows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, "en", "synth", t.length.toLong)
    }
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(docRows, 8),
      graft.Tables.documents)
    val dir = tmp("q262-hot")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // brute-force reference: the pre-r9 uncapped blocked self-join
    val p = docs.select(col("doc_id"), substring(col("text"), 1, 48).as("t"),
      element_at(split(col("text"), " "), 1).as("blk"))
    val a = p.select(col("doc_id").as("da"), col("t").as("ta"), col("blk"))
    val b = p.select(col("doc_id").as("db"), col("t").as("tb"), col("blk"))
    val refPairs = a.join(b, "blk").filter(col("da") < col("db"))
      .filter(call_function("graft_jaro_winkler", col("ta"), col("tb")) >= 0.9)
      .select("da", "db")
    val expect = rows(graft.operators.Dedup.connectedComponents(refPairs, "da", "db")
      .groupBy("cluster_id").agg(count(lit(1)).as("n_docs")).orderBy("cluster_id"))

    val got = rows(AnalyticsQueries.q262.fn(spark, dir))
    assert(expect.nonEmpty, "fixture broken: planted families should cluster")
    assertRowsEqual(got, expect)
  }

  test("q307 mega-block (1500 customers in one nation) pattern counts are exact") {
    val rnd = new scala.util.Random(11)
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val custs = (1 to 1650).map { k =>
      val nat = if (k <= 1500) 0 else 1 + (k % 3) // one mega-block + 3 small
      (k.toLong, nat, segs(rnd.nextInt(5)), rnd.nextDouble() * 9000 - 900)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        custs.map { case (k, n, s, b) => Row(k, s"c$k", n, b, s) }, 8),
      graft.Tables.customer)
    val dir = tmp("q307-mega")
    df.write.mode("overwrite").parquet(s"$dir/customer.parquet")

    // Scala brute force over every within-block pair (1.1 M — cheap)
    val fields = custs.map { case (k, n, s, b) =>
      (n, k, s, math.floor(b / 250.0).toLong, k % 10)
    }
    val counts = collection.mutable.Map[(Int, Int, Int), Long]().withDefaultValue(0L)
    fields.groupBy(_._1).values.foreach { blk =>
      val arr = blk.sortBy(_._2).toArray
      for (i <- arr.indices; j <- (i + 1) until arr.length) {
        val (x, y) = (arr(i), arr(j))
        val key = (if (x._3 == y._3) 1 else 0,
          if (x._4 == y._4) 1 else 0, if (x._5 == y._5) 1 else 0)
        counts(key) += 1L
      }
    }
    val got = rows(InferQueries.q307.fn(spark, dir)
      .select("a1", "a2", "a3", "n").orderBy("a1", "a2", "a3"))
    val expect = counts.toSeq.sortBy(_._1)
      .map { case ((a1, a2, a3), n) => Seq[Any](a1, a2, a3, n) }
    assertRowsEqual(got, expect)
  }
}
