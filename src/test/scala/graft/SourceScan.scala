package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Line scans over the repository's Scala sources, shared by the drift
  * guards (run from the repository root, as sbt runs tests).
  */
object SourceScan {

  def files(roots: Seq[String]): Seq[Path] =
    roots.flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }

  /** `path:line` of every line under `roots` that `hit` accepts, in files
    * whose name is not in `allowed`.
    */
  def offenders(roots: Seq[String], allowed: Set[String])(hit: String => Boolean): Seq[String] =
    files(roots).filterNot(f => allowed(f.getFileName.toString)).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if hit(line) => s"$f:${i + 1}"
      }
    }
}
