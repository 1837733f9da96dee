package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The compiled `graft_tri_products` kernel must be bit-identical to
  * the declarative HOF chain it replaced (q191/q192's former hot
  * path) — including Spark's round(double) HALF_UP semantics.
  */
class TriQuantProductsSpec extends SparkSpec {

  private val hof = """flatten(transform(sequence(0, size(v) - 1),
     i -> transform(sequence(i, size(v) - 1),
       j -> struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
         CAST(round(CAST(element_at(v, i + 1) AS DOUBLE)
                  * CAST(element_at(v, j + 1) AS DOUBLE)
                  * 1e9) AS BIGINT) AS pq))))"""

  test("kernel == HOF chain on the real embedding corpus") {
    val mismatches = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("embedding").as("v"))
      .select(expr(hof).as("a"),
        call_function("graft_tri_products", col("v")).as("b"))
      .filter(expr("a != b"))
      .count()
    assert(mismatches == 0L)
  }

  test("kernel == HOF chain on seeded stress vectors incl. half-way products") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { _ =>
      Array.fill(8)((rnd.nextDouble() * 4 - 2).toFloat)
    } :+ Array(0.5f, -0.5f, 1.5f, -1.5f, 0f, 1f, -1f, 3f) // exact halves
    val mismatches = rows.toDF("v")
      .select(expr(hof).as("a"),
        call_function("graft_tri_products", col("v")).as("b"))
      .filter(expr("a != b"))
      .count()
    assert(mismatches == 0L)
  }

  test("triangle shape: d*(d+1)/2 entries, i <= j, correct diagonal") {
    import spark.implicits._
    val out = Seq(Array(1.0f, 2.0f, 3.0f)).toDF("v")
      .select(explode(call_function("graft_tri_products", col("v"))).as("p"))
      .select("p.i", "p.j", "p.pq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 6)
    assert(out.forall { case (i, j, _) => i <= j })
    assert(out.contains((0L, 0L, 1000000000L)))
    assert(out.contains((1L, 2L, 6000000000L)))
  }
}
