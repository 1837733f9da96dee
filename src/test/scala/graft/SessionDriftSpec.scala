package graft

import org.scalatest.funsuite.AnyFunSuite

/** Sessions are built in one place and the engine is installed one way:
  * a hand-built session drifts from the factory's confs, and a
  * defensive `register` call re-adds rules the config route installed.
  */
class SessionDriftSpec extends AnyFunSuite {

  private val roots = Seq("src/main/scala", "src/test/scala")

  // split so this file does not match its own search
  private val builder = "SparkSession" + ".builder"
  private val register = "GraftExtensions" + ".register("

  test("only GraftSession builds a SparkSession") {
    assert(SourceScan.files(roots).nonEmpty)
    assert(SourceScan.offenders(roots, Set("GraftSession.scala"))(_.contains(builder)).isEmpty)
  }

  test("only SparkEntry calls GraftExtensions.register") {
    // GraftSessionSpec calls it to pin that it is a no-op on factory sessions
    assert(SourceScan.offenders(roots, Set("SparkEntry.scala", "GraftSessionSpec.scala"))(
      _.contains(register)).isEmpty)
  }
}
