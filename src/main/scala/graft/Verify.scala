package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB compare and failures.json (failing
  * query name → message, `{}` when every query ran). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated full names or qNNs for fast local
    // iteration (driver always calls with 2 args → full run)
    val nameFilter: String => Boolean =
      if (args.length > 2) SparkEntry.selector(args(2)) else _ => true
    val spark = GraftSession.create()
    // Fail loudly BEFORE dumping anything if the testdata encoding
    // drifted (round-6 lesson: a silent ts mis-decode red-flagged 16
    // queries). Throws IllegalStateException naming the drift.
    val fp = Canary.check(spark, sfDir)
    System.err.println(s"[verify] canary ok: $fp")
    new java.io.File(outDir).mkdirs()
    // Spark sessions are thread-safe; submitting queries from a small
    // pool overlaps their stages and cuts the wall time ~3-4x.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.queries.filter(kv => nameFilter(kv._1)).map { case (name, fn) =>
      scala.concurrent.Future {
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> String.valueOf(e.getMessage))
        }
      }
    }
    val failures = futures.toSeq
      .flatMap(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      .sortBy(_._1)
    pool.shutdown()
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${Json.string(k)}: ${Json.string(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failures.json"), obj(failures))
    System.err.println(s"[verify] ${failures.size}/${futures.size} failed")
    spark.stop()
  }
}
