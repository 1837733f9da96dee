package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** The program runs in one configuration: a value no query, `main`,
  * `FluApi` or perfbench sets to a second value is a constant, not a
  * switch. What main still reads from the session conf or the
  * environment is listed here with its reason; a new `spark.graft.*`
  * key or environment variable fails until it is listed, and a listed
  * one that main no longer reads fails as stale.
  */
class ConfigDriftSpec extends AnyFunSuite {

  private val main = Seq("src/main/scala")

  /** `spark.graft.*` keys main reads (without the prefix). */
  private val confs = Map(
    "topk.maxKeys" ->
      ("TopKPerKey's memory guard flushes a partition's heaps past this many keys: " +
        "safety code, and the one way a spec drives the flush path"))

  /** Environment variables main reads. */
  private val envs = Map(
    "SPARK_GRAFT_CPUS" -> "the local[N] core count of GraftSession.create",
    "SPARK_LOCAL_DIRS" -> "Spark's own scratch-dir variable; GraftSession defers to it",
    "SPARK_GRAFT_SF_DIR" -> "the data directory Bench runs over",
    "SPARK_GRAFT_ONLY_Q" -> "the query subset Bench times")

  /** (`path:line`, group 1) of every match of `re` in main. */
  private def found(re: Regex): Seq[(String, String)] =
    SourceScan.files(main).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        re.findAllMatchIn(line).map(m => s"$f:${i + 1}" -> m.group(1))
      }
    }

  private def report(hits: Seq[(String, String)]): String =
    hits.map { case (at, name) => s"$name at $at" }.mkString("\n", "\n", "")

  test("main reads only the listed spark.graft.* confs") {
    // split so this file does not match its own search
    val keys = found(("\"" + "spark\\.graft\\.([A-Za-z0-9_.]+)").r)
    val unlisted = keys.filterNot { case (_, k) => confs.contains(k) }
    assert(unlisted.isEmpty, report(unlisted.map { case (at, k) => at -> s"spark.graft.$k" }))
    val stale = confs.keySet -- keys.map(_._2)
    assert(stale.isEmpty, s"listed but no longer read: $stale")
  }

  test("main reads only the listed environment variables, each by literal name") {
    val reads = found("""(?:sys\.env|System\.getenv)(?:\.get|\.getOrElse|\.contains)?\(\s*"([A-Z0-9_]+)"""".r)
    assert(reads.nonEmpty)
    val unlisted = reads.filterNot { case (_, v) => envs.contains(v) }
    assert(unlisted.isEmpty, report(unlisted))
    val stale = envs.keySet -- reads.map(_._2)
    assert(stale.isEmpty, s"listed but no longer read: $stale")
    // a read whose name is computed cannot be checked against the list
    def perLine(hits: Seq[(String, String)]) = hits.groupBy(_._1).view.mapValues(_.size).toMap
    val named = perLine(reads)
    val unnamed = perLine(found("""(sys\.env|System\.getenv)""".r))
      .filter { case (at, n) => named.getOrElse(at, 0) != n }
    assert(unnamed.isEmpty, s"environment read without a literal name at ${unnamed.keys.mkString(", ")}")
  }
}
