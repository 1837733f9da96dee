package graft.flu

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** End-to-end serving-layer parity: every FluApi endpoint over the
  * golden tables, checked against the same expectations as
  * GoldenReportsSpec plus the reference's envelope/status/format
  * details (api/app.py:31-378) — the {"data","summary"} shape, the
  * f-string formatting, the export allowlist 400, and the LIMIT 1000
  * export cap.
  */
class FluApiSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    server.stop(0)
    spark.sparkContext.removeSparkListener(jobListener)
    super.afterAll()
  }

  private val goldenDir = "src/test/resources/golden"

  private def readCsv(path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  private def goldenTables: Map[String, DataFrame] = Map(
    "county_region" -> readCsv(s"$goldenDir/county_region.csv", FluSchemas.countyRegion),
    "temporal" -> readCsv(s"$goldenDir/temporal.csv", FluSchemas.temporal),
    "illness" -> readCsv(s"$goldenDir/illness.csv", FluSchemas.illness),
    "healthcare" -> readCsv(s"$goldenDir/healthcare.csv", FluSchemas.healthcare),
    "historics" -> readCsv(s"$goldenDir/historic_flu.csv", FluSchemas.historics))

  private lazy val server = {
    FluReports.registerViews(goldenTables)
    FluApi.start(spark, 0) // ephemeral port
  }

  /** Submission times (ms) of every Spark job, in listener-bus order. */
  private val jobTimes = new ConcurrentLinkedQueue[Long]()
  private lazy val jobListener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobTimes.add(e.time)
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Sends `/health` and waits until the bus has delivered a job it
    * started. The bus delivers in order, so every earlier job has been
    * seen too. Returns the request's start time.
    */
  private def healthBarrier(): Long = {
    val t0 = System.currentTimeMillis()
    assert(get("/health")._1 == 200)
    val deadline = t0 + 60000
    while (!jobTimes.asScala.exists(_ >= t0) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    assert(jobTimes.asScala.exists(_ >= t0), "/health started no Spark job")
    t0
  }

  private val reportPaths = FluApi.reports.keys.toSeq.map(name => s"/api/reports/$name")
  private val exportPaths = FluReports.tableNames.map(t => s"/api/export/csv?table=$t")

  /** Ids of the RDDs pinned under the registered views. */
  private def pinnedIds(): Seq[Int] = FluReports.tableNames.flatMap(t =>
    spark.table(t).queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id })

  private def get(path: String): (Int, String, Map[String, String]) = {
    val port = server.getAddress.getPort
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val status = conn.getResponseCode
    val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    val headers = Seq("Content-Type", "Content-Disposition")
      .flatMap(h => Option(conn.getHeaderField(h)).map(h -> _)).toMap
    conn.disconnect()
    (status, body, headers)
  }

  test("/health runs SELECT 1 through the engine") {
    val (status, body, _) = get("/health")
    assert(status == 200, body)
    assert(body.contains("\"status\": \"healthy\"") &&
      body.contains("\"database\": \"connected\""), body)
  }

  test("/ lists the endpoint surface") {
    val (status, body, _) = get("/")
    assert(status == 200)
    assert(body.contains("Flu Data Pipeline API") &&
      body.contains("/api/reports/weekly-trends") &&
      body.contains("/api/export/csv"), body)
  }

  test("weekly-trends returns the report rows with the Flask formatting and summary") {
    val (status, body, headers) = get("/api/reports/weekly-trends")
    assert(status == 200, body)
    assert(headers("Content-Type").startsWith("application/json"))
    // same rows the GoldenReportsSpec-verified SQL produces, formatted
    val expected = FluReports.formatWeeklyTrends(FluReports.weeklyTrends(spark)).collect()
    assert(expected.nonEmpty)
    expected.foreach { r =>
      val pct = r.getAs[String]("avg_percent_positive")
      assert(pct.matches("""\d+\.\d{2}%"""), pct)
      assert(body.contains(s""""avg_percent_positive": "$pct""""), body.take(500))
    }
    val first = expected.head
    assert(body.contains(s""""Latest Week": "${first.getAs[Any]("week_end")}""""), body)
    assert(body.contains(""""Illness Type": """), body)
    assert(body.contains("\"data\": [") && body.contains("\"summary\": {"), body.take(200))
    // data-row dates are Flask http_date strings (jsonify's rendering);
    // only the summary's str(date) keeps the ISO form asserted above
    val httpDate = java.time.format.DateTimeFormatter
      .ofPattern("EEE, dd MMM yyyy HH:mm:ss 'GMT'", java.util.Locale.US)
      .format(first.getAs[java.sql.Date]("week_end").toLocalDate
        .atStartOfDay(java.time.ZoneOffset.UTC))
    assert(body.contains(s""""week_end": "$httpDate""""), body.take(500))
  }

  test("/viewer serves the HTML dashboard wired to the live endpoints") {
    val (status, body, headers) = get("/viewer")
    assert(status == 200)
    assert(headers("Content-Type").startsWith("text/html"), headers.toString)
    // every export button and report card targets a live endpoint
    for (t <- Seq("county_region", "temporal", "illness", "healthcare", "historics"))
      assert(body.contains(s"dl('$t')"), t)
    for (r <- Seq("weekly-trends", "healthcare-impact", "historical-summary"))
      assert(body.contains(s"show('$r')"), r)
    assert(body.contains("/api/reports/") && body.contains("/api/export/csv?table="))
  }

  test("API worker threads are daemons (server.stop cannot shut down its pool)") {
    val (status, _, _) = get("/health") // force at least one worker alive
    assert(status == 200)
    val workers = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(_.getName == "flu-api-worker")
    assert(workers.nonEmpty, "expected live flu-api-worker threads")
    assert(workers.forall(_.isDaemon), "API pool must not block JVM exit")
  }

  test("the server sends with TCP_NODELAY (no delayed-ACK floor under memoized answers)") {
    assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
  }

  test("healthcare-impact formats three percent columns and sums counties") {
    val (status, body, _) = get("/api/reports/healthcare-impact")
    assert(status == 200, body)
    val expected =
      FluReports.formatHealthcareImpact(FluReports.healthcareImpact(spark)).collect()
    assert(expected.nonEmpty)
    expected.foreach { r =>
      assert(body.contains(s""""ach_region": ${"\"" + r.getAs[String]("ach_region") + "\""}"""))
      assert(body.contains(
        s""""avg_hospitalization_percent": "${r.getAs[String]("avg_hospitalization_percent")}""""))
      assert(r.getAs[String]("avg_hospital_to_er_ratio").matches("""-?\d+\.\d{3}"""))
    }
    val totalCounties = expected.map(_.getAs[Long]("counties_in_region")).sum
    assert(body.contains(s""""ACH Regions": ${expected.length}"""), body)
    assert(body.contains(s""""Total Counties": $totalCounties"""), body)
  }

  test("historical-summary reports years tracked and the max peak") {
    val (status, body, _) = get("/api/reports/historical-summary")
    assert(status == 200, body)
    val expected =
      FluReports.formatHistoricalSummary(FluReports.historicalSummary(spark)).collect()
    assert(expected.nonEmpty)
    val maxPeak = expected
      .map(_.getAs[String]("peak_ili_percent").stripSuffix("%").toDouble).max
    assert(body.contains(s""""Years Tracked": ${expected.length}"""), body)
    assert(body.contains(f""""Highest Peak": "$maxPeak%.2f%%""""), body)
  }

  test("export allowlist rejects unknown tables with a 400") {
    val (status, body, _) = get("/api/export/csv?table=secrets")
    assert(status == 400, body)
    assert(body.contains("Invalid table"), body)
    // missing param is the same rejection
    assert(get("/api/export/csv")._1 == 400)
  }

  test("csv export returns header + rows, capped at 1000, as an attachment") {
    val (status, body, headers) = get("/api/export/csv?table=illness")
    assert(status == 200, body.take(200))
    assert(headers("Content-Type").startsWith("text/csv"))
    assert(headers("Content-Disposition") == "attachment; filename=illness.csv")
    val lines = body.split("\r\n").toSeq.filter(_.nonEmpty)
    assert(lines.head == spark.table("illness").columns.mkString(","), lines.head)
    val expectedRows = math.min(spark.table("illness").count(), 1000L)
    assert(lines.length - 1 == expectedRows, s"${lines.length - 1} vs $expectedRows")
  }

  test("unknown path is a 404") {
    assert(get("/api/nope")._1 == 404)
  }

  test("repeat report and export requests start no Spark job; /health always does") {
    jobListener
    (reportPaths ++ exportPaths).foreach(p => assert(get(p)._1 == 200, p))
    healthBarrier()
    Thread.sleep(5)
    val t0 = System.currentTimeMillis()
    (reportPaths :+ reportPaths.head).foreach(p => assert(get(p)._1 == 200, p))
    exportPaths.foreach(p => assert(get(p)._1 == 200, p))
    Thread.sleep(5)
    val t1 = healthBarrier()
    assert(jobTimes.asScala.count(t => t >= t0 && t < t1) == 0)
  }

  test("served bodies equal the bodies rendered from direct FluReports calls") {
    FluApi.reports.keys.foreach { name =>
      assert(get(s"/api/reports/$name")._2 == FluApi.reportBody(spark, name), name)
    }
    FluReports.tableNames.foreach { t =>
      assert(get(s"/api/export/csv?table=$t")._2 == FluApi.exportBody(spark, t), t)
    }
  }

  test("a new batch changes the served answers and releases the old snapshot") {
    val before = get("/api/reports/weekly-trends")._2
    val oldIds = pinnedIds()
    assert(oldIds.size == FluReports.tableNames.size)
    // drop a county that reports in the latest week
    val county = spark.table("illness").orderBy(col("epiweek_id").desc)
      .where(col("county_id").isNotNull).select("county_id").head().get(0)
    val golden = goldenTables
    FluReports.registerViews(golden.updated("illness",
      golden("illness").where(not(col("county_id") <=> lit(county)))))
    val persistent = spark.sparkContext.getPersistentRDDs
    assert(oldIds.forall(id => !persistent.contains(id)), oldIds)
    assert(pinnedIds().forall(persistent.contains))
    val after = get("/api/reports/weekly-trends")._2
    assert(after != before)
    assert(after == FluApi.reportBody(spark, "weekly-trends"))
    FluReports.registerViews(goldenTables)
    assert(get("/api/reports/weekly-trends")._2 == before)
  }

  test("requests racing a new batch are all answered") {
    val pool = Executors.newFixedThreadPool(8)
    try {
      val start = new CountDownLatch(1)
      val replies = (0 until 8).map { i =>
        val path = if (i % 2 == 0) reportPaths(i % reportPaths.size) else exportPaths(i % exportPaths.size)
        pool.submit(new Callable[Int] {
          def call(): Int = { start.await(); get(path)._1 }
        })
      }
      start.countDown()
      FluReports.registerViews(goldenTables)
      assert(replies.map(_.get(120, TimeUnit.SECONDS)).forall(_ == 200))
    } finally pool.shutdown()
  }

  test("batches are per session, and the API needs one to start") {
    val other = spark.newSession()
    assertThrows[IllegalArgumentException](FluApi.start(other, 0))
    val ids = pinnedIds()
    FluReports.registerViews(Map("historics" ->
      other.read.option("header", "true").schema(FluSchemas.historics)
        .csv(s"$goldenDir/historic_flu.csv")))
    assert(ids.forall(spark.sparkContext.getPersistentRDDs.contains))
    assert(get("/api/reports/historical-summary")._1 == 200)
  }
}
