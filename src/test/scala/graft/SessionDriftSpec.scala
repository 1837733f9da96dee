package graft

import org.scalatest.funsuite.AnyFunSuite

/** Sessions are built in one place and the engine is installed one way:
  * a hand-built session drifts from the factory's confs, and a
  * defensive `register` call re-adds rules the config route installed.
  * Session-wide state is released one way too, and the served flu
  * tables are named in one list.
  */
class SessionDriftSpec extends AnyFunSuite {

  private val roots = Seq("src/main/scala", "src/test/scala")

  // split so this file does not match its own search
  private val builder = "SparkSession" + ".builder"
  private val register = "GraftExtensions" + ".register("
  private val persistentRdds = "getPersistent" + "RDDs"

  test("only GraftSession builds a SparkSession") {
    assert(SourceScan.files(roots).nonEmpty)
    assert(SourceScan.offenders(roots, Set("GraftSession.scala"))(_.contains(builder)).isEmpty)
  }

  test("only SparkEntry calls GraftExtensions.register") {
    // GraftSessionSpec calls it to pin that it is a no-op on factory sessions
    assert(SourceScan.offenders(roots, Set("SparkEntry.scala", "GraftSessionSpec.scala"))(
      _.contains(register)).isEmpty)
  }

  test("only GraftSqlBridge walks the persistent RDDs") {
    // RDD.unpersist on a local checkpoint logs a WARN per checkpoint;
    // GraftSqlBridge.releaseAll frees them quietly
    assert(SourceScan.offenders(Seq("src/main/scala"), Set("GraftSqlBridge.scala"))(
      _.contains(persistentRdds)).isEmpty)
  }

  test("FluApi spells no table name; FluReports.tableNames is the one list") {
    val quoted = graft.flu.FluReports.tableNames.flatMap(t => Seq(s""""$t"""", s"'$t'"))
    val api = SourceScan.files(Seq("src/main/scala/graft/flu"))
      .filter(_.getFileName.toString == "FluApi.scala")
    assert(api.size == 1)
    val offenders = SourceScan.offenders(api.map(_.toString), Set.empty)(
      line => quoted.exists(line.contains))
    assert(offenders.isEmpty, offenders)
  }
}
