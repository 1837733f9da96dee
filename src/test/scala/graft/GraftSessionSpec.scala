package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

/** The RAM scratch sweep deletes only the dirs of JVMs that are gone. */
class GraftSessionSpec extends AnyFunSuite {

  test("sweepDeadOwners: a live owner's dir survives however old, a dead owner's goes") {
    val root = Files.createTempDirectory("graft_spark_local")
    try {
      val gone = new ProcessBuilder("true").start()
      gone.waitFor()
      def scratch(name: String): Path = {
        val d = Files.createDirectories(root.resolve(name).resolve("spark-1/blockmgr-1"))
        Files.write(d.resolve("shuffle_0_0_0.data"), Array[Byte](1, 2, 3))
        val weekAgo = FileTime.fromMillis(System.currentTimeMillis() - 7L * 24 * 3600 * 1000)
        Files.setLastModifiedTime(root.resolve(name), weekAgo)
        root.resolve(name)
      }
      val live = scratch(ProcessHandle.current().pid.toString)
      val dead = scratch(gone.pid.toString)
      val other = scratch("spark-not-a-pid")
      GraftSession.sweepDeadOwners(root.toFile)
      assert(Files.exists(live.resolve("spark-1/blockmgr-1/shuffle_0_0_0.data")))
      assert(!Files.exists(dead))
      assert(Files.exists(other))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}
