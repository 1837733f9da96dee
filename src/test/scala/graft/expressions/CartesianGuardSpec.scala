package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CartesianGuardSpec extends SparkSpec {

  test("plain cross join of unhinted sides is sighted") {
    import spark.implicits._
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(4, 5).toDF("y")
    val before = CartesianGuard.seen.sum()
    a.crossJoin(b).count()
    assert(CartesianGuard.seen.sum() > before)
  }

  test("broadcast-hinted cross joins and equi-joins pass unsighted") {
    import spark.implicits._
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(4, 5).toDF("y")
    val before = CartesianGuard.seen.sum()
    a.crossJoin(broadcast(b)).count() // the engine's sanctioned pattern
    a.join(b.withColumnRenamed("y", "x"), "x").count()
    assert(CartesianGuard.seen.sum() == before,
      s"sightings moved ${before} -> ${CartesianGuard.seen.sum()}")
  }

  test("fail mode turns an unsanctioned cartesian into a plan-time error") {
    import spark.implicits._
    val a = Seq(1, 2).toDF("x")
    val b = Seq(3, 4).toDF("y")
    spark.conf.set(CartesianGuard.FailFlag, "true")
    try {
      val e = intercept[Exception] { a.crossJoin(b).count() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("CartesianGuard")), e.toString)
      // the sanctioned form still runs with the flag on
      assert(a.crossJoin(broadcast(b)).count() == 4)
    } finally spark.conf.unset(CartesianGuard.FailFlag)
  }

  test("fail-mode sweep: every declared query plans clean (all engine cross joins are broadcast-hinted)") {
    spark.conf.set(CartesianGuard.FailFlag, "true")
    try {
      graft.SparkEntry.allQueries.foreach { q =>
        // Forcing the optimized plan runs the guard without executing
        // the query; iterative queries (CC, k-means, BPE) execute their
        // inner rounds during fn() — with the flag on, those plans are
        // checked too.
        try q.fn(spark, "/root/testdata/sf0.001").queryExecution.optimizedPlan
        catch { case e: Throwable =>
          fail(s"${q.name} failed to plan with $CartesianGuard fail mode on: ${e.getMessage}")
        }
      }
    } finally spark.conf.unset(CartesianGuard.FailFlag)
  }
}
