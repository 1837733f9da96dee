package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Sessions are built in one place and the engine is installed one way:
  * a hand-built session drifts from the factory's confs, and a
  * defensive `register` call re-adds rules the config route installed.
  */
class SessionDriftSpec extends AnyFunSuite {

  private def sources: Seq[Path] =
    Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }

  private def offenders(pattern: String, allowed: Set[String]): Seq[String] =
    sources.filterNot(f => allowed(f.getFileName.toString)).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(pattern) => s"$f:${i + 1}"
      }
    }

  // split so this file does not match its own search
  private val builder = "SparkSession" + ".builder"
  private val register = "GraftExtensions" + ".register("

  test("only GraftSession builds a SparkSession") {
    assert(sources.nonEmpty)
    assert(offenders(builder, Set("GraftSession.scala")).isEmpty)
  }

  test("only SparkEntry calls GraftExtensions.register") {
    // GraftSessionSpec calls it to pin that it is a no-op on factory sessions
    assert(offenders(register, Set("SparkEntry.scala", "GraftSessionSpec.scala")).isEmpty)
  }
}
