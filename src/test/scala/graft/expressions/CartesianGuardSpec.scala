package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CartesianGuardSpec extends SparkSpec {

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("plain cross join of unhinted sides is sighted") {
    import spark.implicits._
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(4, 5).toDF("y")
    // sighted while planning: the optimized plan alone trips the guard,
    // for an explicit cross join and for a join with no condition
    for (j <- Seq(a.crossJoin(b), a.join(b))) {
      val e = intercept[Exception](j.queryExecution.optimizedPlan)
      assert(messages(e).exists(_.contains("CartesianGuard")), e.toString)
    }
  }

  test("broadcast-hinted cross joins and equi-joins pass unsighted") {
    import spark.implicits._
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(4, 5).toDF("y")
    assert(a.crossJoin(broadcast(b)).count() == 6) // the engine's sanctioned pattern
    assert(a.join(b.withColumnRenamed("y", "x"), "x").count() == 0)
  }

  test("fail mode turns an unsanctioned cartesian into a plan-time error") {
    import spark.implicits._
    val a = Seq(1, 2).toDF("x")
    val b = Seq(3, 4).toDF("y")
    val e = intercept[Exception] { a.crossJoin(b).count() }
    assert(messages(e).exists(_.contains("CartesianGuard")), e.toString)
    // the sanctioned form still runs
    assert(a.crossJoin(broadcast(b)).count() == 4)
  }

  test("fail-mode sweep: every declared query plans clean (all engine cross joins are broadcast-hinted)") {
    // Forcing the optimized plan runs the guard without executing the
    // query; iterative queries (CC, label propagation) execute their
    // inner rounds during fn(), so those plans are checked too.
    graft.SparkEntry.allQueries.foreach { q =>
      withClue(s"${q.name}: ") {
        try q.fn(spark, "/root/testdata/sf0.001").queryExecution.optimizedPlan
        catch { case e: Throwable =>
          fail(s"failed to plan under $CartesianGuard: ${e.getMessage}")
        }
      }
    }
  }
}
