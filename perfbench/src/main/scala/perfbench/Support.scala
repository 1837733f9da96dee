package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.flu.{FluFeeds, FluSchemas}
import graft.sources.Fetch

/** Outcome counts, metrics and notes of one run, written as JSON. */
final class Record {
  private var attempted = 0
  private var failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  /** Count one operation; it fails if `body` throws or names a problem. */
  def check(what: String)(body: => Seq[String]): Boolean = {
    val problems = try body catch { case e: Throwable => Seq(s"threw $e") }
    synchronized {
      attempted += 1
      if (problems.nonEmpty) {
        failed += 1
        if (errors.size < 50) errors += s"$what: ${problems.mkString("; ")}"
      }
    }
    problems.isEmpty
  }

  def write(path: String): Unit =
    Json.mapper.writeValue(new java.io.File(path), mutable.LinkedHashMap(
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors,
      "metrics" -> metrics, "info" -> info))
}

object Json {
  /** Writes Scala maps (in iteration order), sequences and numbers. */
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
}

/** The generated feeds of one seed and the counts the generator expects. */
final class Feeds(dir: String) {
  private def read(name: String): String =
    new String(Files.readAllBytes(Paths.get(dir, name)), StandardCharsets.UTF_8)

  val transport: Fetch.Transport = Fetch.snapshots(Map(
    FluFeeds.rhinoUrl -> read("rhino.csv"),
    FluFeeds.censusUrl -> read("census.csv"),
    Fetch.withQuery(FluFeeds.fluviewUrl, FluFeeds.fluviewParams) -> read("fluview.json")))

  private lazy val expected = Json.mapper.readTree(read("expected.json"))

  private def longs(node: String): Map[String, Long] =
    expected.path("expected").path(node).fields.asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap

  lazy val rows: Map[String, Long] = longs("rows")
  lazy val violations: Map[String, Long] = longs("violations")
  lazy val inputProps: Any = expected.path("input")
  lazy val rhinoRows: Long = expected.path("input").path("rhino_rows").asLong
}

/** The five star-schema tables in FluDemo's table-directory layout:
  * `<dir>/<file>.csv`, header row, read back with the pinned schemas.
  */
object Tables {
  val layout: Seq[(String, String, org.apache.spark.sql.types.StructType)] = Seq(
    ("county_region", "county_region", FluSchemas.countyRegion),
    ("temporal", "temporal", FluSchemas.temporal),
    ("illness", "illness", FluSchemas.illness),
    ("healthcare", "healthcare", FluSchemas.healthcare),
    ("historics", "historic_flu", FluSchemas.historics))

  val names: Seq[String] = layout.map(_._1)

  def write(tables: Map[String, DataFrame], dir: String, tr: Tracer): Unit =
    layout.foreach { case (t, file, _) =>
      tr.span(s"ops.write.$t") {
        tables(t).write.mode("overwrite").option("header", "true").csv(s"$dir/$file.csv")
      }
    }

  def load(spark: SparkSession, dir: String): Map[String, DataFrame] =
    layout.map { case (t, file, schema) =>
      t -> spark.read.option("header", "true").schema(schema).csv(s"$dir/$file.csv")
    }.toMap

  /** Row count and an order-insensitive hash of a table: the sum of its
    * row hashes. Doubles are rounded to 6 places first, so a different
    * summation order inside an average cannot change the hash.
    */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (f.dataType == DoubleType) round(col(f.name), 6) + lit(0.0) else col(f.name)
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time this JVM has used so far, all threads. */
  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU time of each live Java thread. JIT compiler and GC threads are
    * not among them: in a short run the compiler alone burns about as
    * much CPU as the program, and how much varies from run to run.
    */
  def threadCpu(): Map[Long, Long] = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  def threadCpuSecondsSince(before: Map[Long, Long]): Double =
    threadCpu().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Host {
  val heapAfterGcMb: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  /** Heap in use right after a full collection; keeps the run's peak.
    * Collects twice: Spark's ContextCleaner drops broadcast and shuffle
    * state only after the first collection has freed their handles.
    */
  def heapCheckpoint(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    heapAfterGcMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** A fixed CPU job (the same shape as Bench's calibration), best of 3. */
  def calibMs(spark: SparkSession): Double =
    (1 to 3).map { _ =>
      Stats.timedMs(spark.range(0L, 50000000L, 1L, spark.sparkContext.defaultParallelism)
        .select(bit_xor(xxhash64(col("id")))).collect())._2
    }.min

  def info: Seq[(String, Any)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "jvm" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.runtime.version")}",
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
    "spark_local_dirs" -> sys.env.getOrElse("SPARK_LOCAL_DIRS", ""))
}
