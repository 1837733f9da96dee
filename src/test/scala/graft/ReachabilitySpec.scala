package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.Reachability.Decl

/** Main code is what the roots reach: a main member that no query,
  * oracle, `main`, `FluApi` or perfbench reaches through the names their
  * code mentions is kept alive by its own specs alone. It leaves main
  * (deleted, or moved to src/test as a fixture) or is named in
  * `exceptions` with the reason it stays.
  */
class ReachabilitySpec extends AnyFunSuite {

  /** Roots: `SparkEntry` (the queries and their oracles), every object
    * with a `main`, `FluApi`, and all of perfbench.
    */
  private def isRoot(d: Decl): Boolean =
    d.file.startsWith("perfbench/") || d.id == "SparkEntry" ||
      d.owner.contains("SparkEntry") || d.id == "FluApi" || d.owner.contains("FluApi") ||
      (d.owner.nonEmpty && d.name == "main")

  /** Kept though no root reaches them, each for the reason given. */
  private val exceptions = Map(
    "Sinks.upsertKeepFirst" ->
      "the reference's ON CONFLICT (pk) DO NOTHING load (SURVEY K4/D3); FluOps keeps first rows itself",
    "FluOps.waCounties" ->
      "the reference's official 39-county list (:62-69), which it uses only for printed warnings",
    "Fetch.http" ->
      "the reference's live GET of the feeds; demos, specs and perfbench fetch from snapshots offline")

  private def sources: Seq[(String, String)] =
    SourceScan.files(Seq("src/main/scala", "perfbench/src")).map(f =>
      f.toString -> new String(Files.readAllBytes(f), "UTF-8"))

  private def reported(srcs: Seq[(String, String)], exempt: Set[String]): Seq[Decl] =
    Reachability.unreached(srcs, d => isRoot(d) || exempt(d.id)).filterNot(_.isPrivate)

  test("every public main member is reached from the roots or excepted") {
    val srcs = sources
    assert(srcs.exists(_._1.startsWith("perfbench/")))
    val dead = reported(srcs, exceptions.keySet)
    // an object no root reaches is reported once, not member by member
    val deadObjects = dead.filter(_.owner.isEmpty).map(_.name).toSet
    val shown = dead.filterNot(_.owner.exists(deadObjects))
    if (shown.nonEmpty) fail(shown.map(d => s"${d.file}:${d.line} ${d.id}").mkString("\n", "\n", ""))
  }

  test("every exception is still unreached: a reached one is stale") {
    val reached = exceptions.keySet -- reported(sources, Set.empty).map(_.id)
    assert(reached.isEmpty, reached)
  }

  private def lib(body: String): (String, String) =
    "src/main/scala/app/Lib.scala" -> s"package app\nobject Lib {\n$body\n}\n"

  private def main(body: String): (String, String) =
    "src/main/scala/app/Main.scala" ->
      s"package app\nobject Main {\n  def main(args: Array[String]): Unit = {\n$body\n  }\n}\n"

  private def deadIds(srcs: (String, String)*): Seq[String] =
    Reachability.unreached(srcs, d => d.owner.nonEmpty && d.name == "main").map(_.id)

  test("the scan reports an unreached def, a def reached only from it, and one a root names only in a comment") {
    val dead = deadIds(
      main("""    // Lib.inComment is named only here
             |    /* and here: Lib.inComment */
             |    println(Lib.used(1))""".stripMargin),
      lib("""  def used(x: Int): Int = helper(x)
            |  private def helper(x: Int): Int = x + 1
            |  def unreached(x: Int): Int = onlyFromUnreached(x)
            |  def onlyFromUnreached(x: Int): Int = x * 2
            |  def inComment: String = "s"""".stripMargin))
    assert(dead == Seq("Lib.unreached", "Lib.onlyFromUnreached", "Lib.inComment"))
  }

  test("a member is reached through its object, an alias or an import, not a namesake's call") {
    val dead = deadIds(
      main("""    import Lib.viaImport
             |    val L = Lib
             |    println(L.viaAlias + viaImport + Other.same + "Conf")""".stripMargin),
      lib("""  def viaAlias: Int = 1
            |  def viaImport: Int = 2
            |  def same: Int = 3""".stripMargin),
      "src/main/scala/app/Other.scala" ->
        "package app\nobject Other { def same: Int = 4 }\nclass Conf\nclass Unnamed\n")
    assert(dead == Seq("Lib.same", "Unnamed"))
  }
}
