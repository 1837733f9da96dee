package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.Similarity

class FloatDotSpec extends SparkSpec {

  import spark.implicits._

  /** The reference fold the kernel reproduces: double products folded
    * left to right by Spark's higher-order functions.
    */
  private def hof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("native dot is bit-identical to the HOF double left-fold") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val diff = emb.select(
        (hof(col("embedding"), col("embedding")) -
          Similarity.dotNative(col("embedding"), col("embedding"))).as("d"))
      .agg(max(abs(col("d")))).head.getDouble(0)
    assert(diff == 0.0) // exact, not approximate — same fold order
  }

  test("native dot participates in WholeStageCodegen") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val df = emb.select(Similarity.dotNative(col("embedding"), col("embedding")).as("d"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan) // codegen span covers the projection
  }

  test("graft_dot is callable from SQL via the extension registration") {
    val out = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
      .selectExpr("graft_dot(a, b) AS d").head.getDouble(0)
    assert(out == 11.0)
  }

  test("double arrays (each side independently) match the HOF fold exactly") {
    // r16: the kernel widened from float-only to float|double per side
    val df = Seq((Seq(1.5d, -2.25d, 3.125d), Seq(0.5f, 4.0f, -1.25f)))
      .toDF("d", "f")
    val row = df.select(
      (Similarity.dotNative(col("d"), col("d")) - hof(col("d"), col("d"))).as("dd"),
      (Similarity.dotNative(col("d"), col("f")) - hof(col("d"), col("f"))).as("df"),
      (Similarity.dotNative(col("f"), col("d")) - hof(col("f"), col("d"))).as("fd")).head
    assert(row.getDouble(0) == 0.0 && row.getDouble(1) == 0.0 && row.getDouble(2) == 0.0)
  }

  test("hyperplane buckets on the compiled projection match the HOF fold") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def hofBucket(vec: org.apache.spark.sql.Column, dim: Int, planes: Int) = {
      val bits = (0 until planes).map { p =>
        val plane = array((1 to dim).map(d => lit(Similarity.planeComponent(p, d))): _*)
        val proj = aggregate(zip_with(vec, plane, (x, c) => x.cast("double") * c),
          lit(0.0), (acc, v) => acc + v)
        when(proj > 0, lit(1 << p)).otherwise(lit(0))
      }
      bits.reduce(_ + _)
    }
    val diff = emb.select(
        (Similarity.hyperplaneBucket(col("embedding"), 64, 8) -
          hofBucket(col("embedding"), 64, 8)).as("d"))
      .agg(max(abs(col("d")))).head.getInt(0)
    assert(diff == 0)
  }

  test("null array input yields null, not a crash") {
    val out = Seq((Some(Seq(1.0f)), Option.empty[Seq[Float]])).toDF("a", "b")
      .select(Similarity.dotNative(col("a"), col("b")).as("d")).head
    assert(out.isNullAt(0))
  }
}
