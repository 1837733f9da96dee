package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — specs run
  * sequentially in the forked test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlc = spark.sqlContext

  /** Compare two row seqs with tolerance on doubles (multi-row double
    * aggregation is order-dependent across engines; see SURVEY §4).
    */
  def assertRowsEqual(actual: Seq[Seq[Any]], expected: Seq[Seq[Any]],
                      tol: Double = 1e-9): Unit = {
    assert(actual.length == expected.length,
      s"row count ${actual.length} != ${expected.length}\nactual=$actual\nexpected=$expected")
    actual.zip(expected).zipWithIndex.foreach { case ((a, e), i) =>
      assert(a.length == e.length, s"row $i arity differs: $a vs $e")
      a.zip(e).foreach {
        case (x: Double, y: Double) =>
          val ok = (x.isNaN && y.isNaN) ||
            math.abs(x - y) <= tol * math.max(1.0, math.max(math.abs(x), math.abs(y)))
          assert(ok, s"row $i: $x != $y (tol $tol)\nactual=$a\nexpected=$e")
        case (x, y) => assert(x == y, s"row $i: $x != $y\nactual=$a\nexpected=$e")
      }
    }
  }

  def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.create(cores = 4, appName = "graft-test")
}
