package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB compare and failures.json (failing
  * query name → message, `{}` when every query ran). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes for fast local
    // iteration (driver always calls with 2 args → full run)
    val nameFilter: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(","); n => ps.exists(n.startsWith) }
      else _ => true
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
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    System.err.println(s"[verify] ${failures.size}/${futures.size} failed")
    spark.stop()
  }
}
