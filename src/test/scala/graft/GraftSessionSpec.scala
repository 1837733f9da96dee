package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

/** The factory's contract — the confs every session gets, the engine
  * installed once through `spark.sql.extensions` — and the RAM scratch
  * sweep, which deletes only the dirs of JVMs that are gone.
  */
class GraftSessionSpec extends SparkSpec {

  test("create: the engine defaults every session gets") {
    val sql = spark.conf
    assert(sql.get("spark.sql.adaptive.enabled") == "true")
    assert(sql.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(sql.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(sql.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "131072")
    assert(sql.get("spark.sql.session.timeZone") == "UTC")
    assert(sql.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    val core = spark.sparkContext.getConf
    assert(core.get("spark.shuffle.sort.bypassMergeThreshold") == "2")
    // set only when SPARK_LOCAL_DIRS, which Spark prefers, is absent
    assert(core.getOption("spark.local.dir").isDefined == !sys.env.contains("SPARK_LOCAL_DIRS"))
    assert(sql.get("spark.sql.warehouse.dir").contains(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_warehouse").getAbsolutePath))
    assert(org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.sql.execution.window.WindowExec").getLevel ==
      org.apache.logging.log4j.Level.ERROR)
  }

  test("create: engine functions resolve on the session and on newSession(), unregistered") {
    for (s <- Seq(spark, spark.newSession())) {
      val r = s.sql("""SELECT graft_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)),
                              graft_min_any(v) FROM VALUES (3), (1), (2) AS t(v)""").head
      assert(r.getDouble(0) == 11.0 && r.getInt(1) == 1, r)
    }
  }

  test("engine functions reject a wrong argument count at analysis, naming the function") {
    val calls = Seq(
      "graft_dot(array(1.0F), array(2.0F), array(3.0F))" -> ("graft_dot", 2, 3),
      "graft_shingle_hashes('a b c d', 3, 48)" -> ("graft_shingle_hashes", 2, 3),
      "graft_minhash_bands('a b c d', 2)" -> ("graft_minhash_bands", 3, 2),
      "graft_hash64()" -> ("graft_hash64", 1, 0))
    for ((call, (name, expected, actual)) <- calls) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $call").queryExecution.analyzed)
      assert(e.getMessage.contains(s"`$name` requires $expected parameters") &&
        e.getMessage.contains(s"actual number is $actual"), s"$call: ${e.getMessage}")
    }
  }

  test("register on a factory session installs nothing twice") {
    val x = spark.experimental
    val (rules, strategies) = (x.extraOptimizations, x.extraStrategies)
    graft.expressions.GraftExtensions.register(spark)
    assert(x.extraOptimizations == rules)
    assert(x.extraStrategies == strategies)
    // the expansion rule rides the extensions' pre-CBO hook instead
    assert(!rules.exists(_.isInstanceOf[graft.plans.ExpansionFanout]))
  }

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
