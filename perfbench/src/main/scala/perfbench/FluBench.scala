package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.flu.{FluApi, FluFeeds, FluOps, FluReports}

/** The flu pipeline benchmark: one JVM run of one workload.
  *
  *   - `flu_etl`: set-up is a session; a pass is the cold-start batch
  *     (`FluFeeds.buildFromFeeds` over `Fetch.snapshots`, the five tables
  *     written, `FluOps.constraintViolations`).
  *   - `flu_api`: set-up is a session plus that same batch, the tables
  *     loaded the way FluDemo loads them and `FluApi` started; a pass is
  *     one round of a seeded 20-request mix sent by two closed-loop
  *     clients.
  *
  * Every pass is checked; outcomes, metrics and (traced) spans go to the
  * record file. Usage:
  * {{{
  * FluBench --workload flu_etl --seconds 6 --trace 0 --seed 1
  *          --feeds <dir> --work <dir> --root <checkout> --out <record.json>
  *          --golden 1
  * }}}
  */
object FluBench {

  final case class Args(workload: String, seconds: Int, trace: Boolean, seed: Long,
                        feeds: String, work: String, root: String, out: String,
                        golden: Boolean)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seconds").toInt, kv("trace") == "1", kv("seed").toLong,
      kv("feeds"), kv("work"), kv("root"), kv("out"), kv("golden") == "1")
    val rec = new Record
    val tr = new Tracer(a.trace)
    val code =
      try {
        a.workload match {
          case "flu_etl" => new EtlRun(a, tr, rec).run()
          case "flu_api" => new ApiRun(a, tr, rec).run()
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          rec.check("run")(Seq(s"aborted: $e"))
          1
      }
    if (a.trace) writeSpans(tr.spans, s"${a.work}/spans.json")
    rec.write(a.out)
    System.exit(code)
  }

  private def writeSpans(spans: Seq[Span], path: String): Unit = {
    val self = Tracer.selfMs(spans)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    Json.mapper.writeValue(new java.io.File(path), spans.map(s => mutable.LinkedHashMap(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "group" -> s.group,
      "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
      "self_ms" -> self(s.id))))
  }
}

/** What both workloads share: set-up, the ETL batch, checks, the window
  * of passes, and the traced layer probe.
  */
abstract class FluRun(a: FluBench.Args, tr: Tracer, rec: Record) {
  import Stats._

  protected val feeds = new Feeds(a.feeds)
  protected val tablesDir = s"${a.work}/tables"
  protected val counters = new SparkCounters
  protected var spark: SparkSession = _
  private var tableDigest: Option[String] = None
  /** (start ms, end ms) of each window pass, for the listener counters. */
  protected val passIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** One set-up; `spark` is live afterwards. */
  protected def setUp(k: Int): Unit

  /** Undo [[setUp]] before the next one. */
  protected def tearDown(): Unit = spark.stop()

  /** One pass; `i` is 0 for the first (cold) pass, numbers the measured
    * ones from 1 and the warm-ups from -1.
    */
  protected def pass(i: Int): Unit

  /** Checks after pass `i`, outside its timing. */
  protected def afterPass(i: Int): Unit

  /** Passes the window runs even when `--seconds` is already spent. */
  protected def minPasses: Int

  /** Set-ups per run; `setup_s` is their median. */
  protected def setUps: Int

  /** Untimed passes between the first pass and the window. */
  protected def warmUpPasses: Int = 0

  /** Port of a running FluApi for the layer probe (started if needed). */
  protected def apiPort(): Int

  protected def session(): SparkSession =
    tr.span("session.create")(GraftSession.create(appName = "perfbench"))

  /** The cold-start batch: feeds to five written tables, then the
    * constraint checks. Returns the violation counts.
    */
  protected def etl(dir: String): Map[String, Long] = {
    val tables = tr.span("fetch.build_from_feeds")(FluFeeds.buildFromFeeds(spark, feeds.transport))
    Tables.write(tables, dir, tr)
    tr.span("ops.constraints")(FluOps.constraintViolations(tables))
  }

  /** Check written tables against the generator: row counts, violation
    * counts, and one hash that must be the same after every batch.
    */
  protected def checkEtl(what: String, violations: Map[String, Long]): Unit =
    rec.check(what) {
      val loaded = Tables.load(spark, tablesDir)
      val digests = Tables.names.map(t => t -> Tables.digest(loaded(t)))
      val rows = digests.collect { case (t, (n, _)) if n != feeds.rows(t) =>
        s"$t has $n rows, expected ${feeds.rows(t)}" }
      val viol = (feeds.violations.keySet ++ violations.keySet).toSeq.sorted.collect {
        case k if violations.get(k) != feeds.violations.get(k) =>
          s"$k = ${violations.get(k)}, expected ${feeds.violations.get(k)}" }
      val d = digests.map { case (t, (n, h)) => s"$t:$n:$h" }.mkString("|")
      if (tableDigest.isEmpty) tableDigest = Some(d)
      val hash = if (tableDigest.contains(d)) Nil else Seq(s"table hash $d != ${tableDigest.get}")
      rows ++ viol ++ hash
    }

  def run(): Unit = {
    rec.info ++= Host.info
    rec.info += "input" -> feeds.inputProps
    val runStart = System.nanoTime()
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit = phases += name -> secondsSince(runStart)
    val setups = (1 to setUps).map { k =>
      if (k > 1) tearDown()
      val t0 = System.nanoTime()
      tr.inGroup(s"setup-$k")(setUp(k))
      secondsSince(t0)
    }
    rec.info += "setup_s_each" -> setups
    afterSetUp()
    phase("set-up")
    if (tr.enabled) spark.sparkContext.addSparkListener(counters)

    val t0 = System.nanoTime()
    val c0 = cpuSeconds()
    val a0 = threadCpu()
    tr.inGroup("first-pass")(pass(0))
    val firstCpu = threadCpuSecondsSince(a0)
    rec.info += "first_pass_process_cpu_s" -> (cpuSeconds() - c0)
    val first = secondsSince(t0)
    Host.heapCheckpoint()
    afterPass(0)
    phase("first pass")
    startUpCheck()
    phase("start-up check")
    (1 to warmUpPasses).foreach { i =>
      tr.inGroup(s"warm-up-$i")(pass(-i))
      afterPass(-i)
    }
    phase("warm-up")

    val times = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val processCpu = mutable.ArrayBuffer.empty[Double]
    val window = System.nanoTime()
    while (times.size < minPasses || secondsSince(window) < a.seconds) {
      val i = times.size + 1
      val startMs = System.currentTimeMillis()
      val p0 = System.nanoTime()
      val c0 = cpuSeconds()
      val a0 = threadCpu()
      tr.inGroup(s"pass-$i")(tr.span("bench.pass")(pass(i)))
      passCpu += threadCpuSecondsSince(a0)
      processCpu += cpuSeconds() - c0
      times += secondsSince(p0)
      passIntervals += ((startMs, System.currentTimeMillis()))
      afterPass(i)
    }
    rec.info ++= Seq("first_pass_s" -> first, "pass_s" -> median(times.toSeq),
      "pass_s_each" -> times, "pass_cpu_s_each" -> passCpu,
      "pass_process_cpu_s_each" -> processCpu)
    Host.heapCheckpoint()
    phase("window")

    rec.metrics ++= Seq(
      "setup_s" -> median(setups),
      "first_pass_cpu_s" -> firstCpu,
      "pass_cpu_s" -> median(passCpu.toSeq),
      "heap_after_gc_mb" -> Host.heapAfterGcMb.max)
    rec.info += "heap_after_gc_mb_each" -> Host.heapAfterGcMb.toSeq
    afterWindow(times.toSeq)
    rec.metrics += "host.calib_ms" -> Host.calibMs(spark)
    phase("calibration")
    if (tr.enabled) traceMetrics()
    tearDown()
    phase("end")
    rec.info += "phase_end_s" -> phases
  }

  protected def afterSetUp(): Unit = ()
  protected def startUpCheck(): Unit = ()
  protected def afterWindow(passTimes: Seq[Double]): Unit = ()

  /** Per-layer metrics of a traced run. */
  private def traceMetrics(): Unit = {
    counters.settle()
    val perPass = passIntervals.toSeq.map { case (s, e) => counters.forInterval(s, e) }
    perPass.head.keys.foreach(k => rec.metrics += k -> median(perPass.map(_(k))))
    val spans = tr.spans
    rec.metrics += "session.create_ms" ->
      median(spans.filter(_.name == "session.create").map(_.ms))
    // the constraint checks of the run's own batches (passes or set-ups)
    rec.metrics += "ops.constraints_ms" ->
      median(spans.filter(s => s.name == "ops.constraints" && s.group != "first-pass").map(_.ms))
    rec.metrics ++= tr.inGroup("probe")(probe())
    val all = tr.spans
    val byLayer = Tracer.selfByLayer(all)
    Seq("session", "fetch", "ops", "reports", "api", "bench").foreach { l =>
      rec.metrics += s"self.${l}_ms" -> byLayer.getOrElse(l, 0.0)
    }
    val window = all.filter(_.group.startsWith("pass-"))
    rec.info += "window_self_ms_per_pass" -> Tracer.selfByLayer(window)
      .map { case (l, ms) => l -> ms / passIntervals.size }
  }

  /** Times each layer on its own, on this run's feeds and tables:
    * feed parsing, each FluOps builder over pre-parsed feeds, the table
    * write, the constraint checks, the report SQLs split into planning
    * and execution, and FluApi's latency over the same direct calls.
    */
  private def probe(): Seq[(String, Double)] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val t = feeds.transport
    val parsers = Seq[(String, () => DataFrame)](
      "rhino" -> (() => FluFeeds.rhino(spark, t)),
      "census" -> (() => FluFeeds.census(spark, t)),
      "fluview" -> (() => FluFeeds.fluview(spark, t)))
    parsers.foreach { case (n, parse) =>
      val (rows, ms) = timedMs(tr.span(s"fetch.$n")(parse().count()))
      m += s"fetch.${n}_ms" -> ms
      if (n == "rhino") m += "fetch.rhino_rows" -> rows.toDouble
    }

    val Seq(rhino, census, fluview) = parsers.map(_._2().persist())
    Seq(rhino, census, fluview).foreach(_.count())
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val (explodedRows, explodeMs) = timedMs(tr.span("ops.explode") {
      FluOps.withEpiweekId(FluOps.explodeRhino(rhino)).count()
    })
    m += "ops.explode_ms" -> explodeMs
    val exploded = FluOps.withEpiweekId(FluOps.explodeRhino(rhino))
    val countyRegion = FluOps.buildCountyRegion(census, exploded)
    val built = Seq(
      "county_region" -> (() => countyRegion),
      "temporal" -> (() => FluOps.buildTemporal(exploded)),
      "illness" -> (() => FluOps.buildIllness(exploded, countyRegion, fluview, FluFeeds.rhinoOrderCol)),
      "healthcare" -> (() => FluOps.buildHealthcare(countyRegion, exploded)),
      "historics" -> (() => FluOps.buildHistorics(fluview)))
    val tables = built.map { case (n, build) =>
      val df = build()
      m += s"ops.${n}_ms" -> timedMs(tr.span(s"ops.$n")(noop(df)))._2
      n -> df
    }.toMap
    m += "ops.dedup_keep_ratio" -> tables("illness").count().toDouble / explodedRows
    val cached = tables.map { case (n, df) => n -> df.persist() }
    cached.values.foreach(_.count())
    m += "ops.write_ms" -> timedMs(tr.span("ops.write")(
      Tables.write(cached, s"${a.work}/probe_tables", tr)))._2
    cached.values.foreach(_.unpersist(true))
    Seq(rhino, census, fluview).foreach(_.unpersist(true))

    // FluReports called directly, as FluApi calls it, over the served views
    val client = new ApiClient(apiPort())
    val reps = 2
    val direct = Seq[(String, Int => DataFrame)](
      "weekly_trends" -> (_ => FluReports.formatWeeklyTrends(FluReports.weeklyTrends(spark))),
      "healthcare_impact" -> (_ => FluReports.formatHealthcareImpact(FluReports.healthcareImpact(spark))),
      "historical_summary" -> (_ => FluReports.formatHistoricalSummary(FluReports.historicalSummary(spark))),
      "export" -> (i => FluReports.exportTable(spark, Tables.names(i % Tables.names.size))))
    val directMs = direct.map { case (n, call) =>
      val runs = (0 until reps).map { i =>
        val df = tr.span(s"reports.$n.call")(call(i))
        val plan = timedMs(tr.span(s"reports.$n.plan")(df.queryExecution.executedPlan))._2
        val exec = timedMs(tr.span(s"reports.$n.exec")(df.collect()))._2
        (plan, exec)
      }
      m += s"reports.$n.plan_ms" -> median(runs.map(_._1))
      m += s"reports.$n.exec_ms" -> median(runs.map(_._2))
      n -> median(runs.map { case (p, e) => p + e })
    }.toMap

    // the same calls over HTTP
    m += "api.health_ms" -> median((1 to reps).map(_ =>
      timedMs(tr.span("api.health")(client.get("/health")))._2))
    val paths = Seq(
      "weekly_trends" -> ((_: Int) => "/api/reports/weekly-trends"),
      "healthcare_impact" -> ((_: Int) => "/api/reports/healthcare-impact"),
      "historical_summary" -> ((_: Int) => "/api/reports/historical-summary"),
      "export" -> ((i: Int) => s"/api/export/csv?table=${Tables.names(i % Tables.names.size)}"))
    val http = paths.map { case (n, path) =>
      val runs = (0 until reps).map(i => timedMs(tr.span(s"api.$n")(client.get(path(i)))))
      (n, median(runs.map(_._2)), runs.map(_._1.body.length / 1024.0))
    }
    m += "api.report_ms" -> median(http.filter(_._1 != "export").map(_._2))
    m += "api.export_ms" -> http.find(_._1 == "export").get._2
    m += "api.overhead_ms" -> http.map { case (n, ms, _) => ms - directMs(n) }.sum / http.size
    m += "api.response_kb" -> median(http.flatMap(_._3))
    m.toSeq
  }
}

final case class Reply(status: Int, contentType: String, body: Array[Byte])

/** Blocking HTTP client for the API under test. */
final class ApiClient(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def get(path: String): Reply = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    Reply(r.statusCode(), r.headers().firstValue("Content-Type").orElse(""), r.body())
  }
}

final class EtlRun(a: FluBench.Args, tr: Tracer, rec: Record) extends FluRun(a, tr, rec) {
  private var server: Option[HttpServer] = None

  private var lastViolations = Map.empty[String, Long]

  protected def setUps: Int = 5
  protected def minPasses: Int = 1
  protected def setUp(k: Int): Unit = spark = session()
  protected def pass(i: Int): Unit = lastViolations = etl(tablesDir)
  protected def afterPass(i: Int): Unit = checkEtl(s"pass $i", lastViolations)

  /** The committed golden feed snapshots rebuild the golden tables' row
    * counts.
    */
  override protected def startUpCheck(): Unit = if (a.golden) rec.check("golden feeds") {
    val golden = new Feeds(s"${a.root}/src/test/resources/feeds_golden")
    val built = FluFeeds.buildFromFeeds(spark, golden.transport)
    Tables.layout.flatMap { case (t, file, _) =>
      val want = Files.readAllLines(Paths.get(s"${a.root}/src/test/resources/golden/$file.csv"))
        .asScala.count(_.nonEmpty) - 1L
      val got = built(t).count()
      if (got == want) None else Some(s"$t rebuilt $got rows, golden has $want")
    }
  }

  override protected def afterWindow(passTimes: Seq[Double]): Unit =
    rec.info += "etl_rows_per_s" -> feeds.rhinoRows / Stats.median(passTimes)

  protected def apiPort(): Int = {
    FluReports.registerViews(Tables.load(spark, tablesDir))
    val s = FluApi.start(spark, 0)
    server = Some(s)
    s.getAddress.getPort
  }

  override protected def tearDown(): Unit = {
    server.foreach(_.stop(0))
    server = None
    spark.stop()
  }
}

final class ApiRun(a: FluBench.Args, tr: Tracer, rec: Record) extends FluRun(a, tr, rec) {
  import Stats._

  private var server: HttpServer = _
  private var client: ApiClient = _
  private val etlTimes = mutable.ArrayBuffer.empty[Double]
  private val pool = Executors.newFixedThreadPool(ApiRun.Clients)
  private val latencies = new ConcurrentLinkedQueue[(String, Double)]()
  private var expectedData = Map.empty[String, Int]
  private var tableRows = Map.empty[String, Long]
  private var setUpViolations = Map.empty[String, Long]

  protected def setUp(k: Int): Unit = {
    spark = session()
    val (violations, ms) = timedMs(etl(tablesDir))
    etlTimes += ms / 1000
    FluReports.registerViews(tr.span("bench.load")(Tables.load(spark, tablesDir)))
    server = tr.span("api.start")(FluApi.start(spark, 0))
    client = new ApiClient(server.getAddress.getPort)
    setUpViolations = violations
  }

  override protected def tearDown(): Unit = {
    server.stop(0)
    spark.stop()
  }

  protected def minPasses: Int = 3
  protected def setUps: Int = 1
  override protected def warmUpPasses: Int = 1
  protected def apiPort(): Int = server.getAddress.getPort

  /** Checks the set-up's tables, then takes the direct FluReports
    * answers the API replies must match.
    */
  override protected def afterSetUp(): Unit = {
    checkEtl("set-up", setUpViolations)
    expectedData = Map(
      "weekly-trends" -> FluReports.formatWeeklyTrends(FluReports.weeklyTrends(spark)),
      "healthcare-impact" -> FluReports.formatHealthcareImpact(FluReports.healthcareImpact(spark)),
      "historical-summary" -> FluReports.formatHistoricalSummary(FluReports.historicalSummary(spark)))
      .map { case (k, df) => k -> df.collect().length }
    tableRows = Tables.names.map(t => t -> spark.table(t).count()).toMap
  }

  /** A request: its latency class, path and the check of its reply. */
  private final case class Req(kind: String, path: String, check: Reply => Seq[String])

  private def expect(r: Reply, status: Int, ctype: String): Seq[String] =
    (if (r.status == status) Nil else Seq(s"status ${r.status}, expected $status")) ++
      (if (r.contentType.startsWith(ctype)) Nil else Seq(s"content type '${r.contentType}'"))

  private def report(name: String) = Req("report", s"/api/reports/$name", r =>
    expect(r, 200, "application/json") ++ {
      val n = Json.mapper.readTree(r.body).path("data").size
      if (n == expectedData(name)) Nil else Seq(s"$name: $n data rows, expected ${expectedData(name)}")
    })

  private def export(table: String) = Req("export", s"/api/export/csv?table=$table", r =>
    expect(r, 200, "text/csv") ++ {
      val lines = new String(r.body, StandardCharsets.UTF_8).split("\r\n", -1).count(_.nonEmpty)
      val want = math.min(1000L, tableRows(table)) + 1
      if (lines == want) Nil else Seq(s"$table export has $lines lines, expected $want")
    })

  private val health = Req("health", "/health", r =>
    expect(r, 200, "application/json") ++
      (if (new String(r.body, StandardCharsets.UTF_8).contains("healthy")) Nil else Seq("not healthy")))
  private val badTable = Req("refused", "/api/export/csv?table=pg_shadow",
    r => expect(r, 400, "application/json"))
  private val unknownPath = Req("refused", "/api/reports/no-such-report",
    r => expect(r, 404, "application/json"))

  private val reports = Seq("weekly-trends", "healthcare-impact", "historical-summary")

  /** Pass `i`'s requests: 12 reports, 5 exports, 2 health checks and one
    * request that must be refused (60/25/10/5 %), in seeded order.
    */
  private def mix(i: Int): Seq[Req] = {
    val reqs = Seq.fill(4)(reports.map(report)).flatten ++ Tables.names.map(export) ++
      Seq(health, health, if (i % 2 == 0) badTable else unknownPath)
    new Random(a.seed * 1000003L + i).shuffle(reqs)
  }

  private def send(r: Req): Unit = rec.check(r.path) {
    val (reply, ms) = timedMs(tr.span(s"api.${r.kind}")(client.get(r.path)))
    latencies.add(r.kind -> ms)
    r.check(reply)
  }

  /** Two closed-loop clients drain the pass's request list. */
  protected def pass(i: Int): Unit = {
    val queue = new ConcurrentLinkedQueue[Req](mix(i).asJava)
    val ctx = tr.context
    val done = (1 to ApiRun.Clients).map(_ => pool.submit(new Runnable {
      def run(): Unit = tr.within(ctx) {
        var r = queue.poll()
        while (r != null) { send(r); r = queue.poll() }
      }
    }))
    done.foreach(_.get())
  }

  /** Latency percentiles cover the measured passes only. */
  protected def afterPass(i: Int): Unit = if (i <= 0) latencies.clear()

  override protected def afterWindow(passTimes: Seq[Double]): Unit = {
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    val byKind = latencies.asScala.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def pct(kind: String, q: Double) = quantile(byKind.getOrElse(kind, Seq(Double.NaN)), q)
    rec.info ++= Seq(
      "etl_s" -> median(etlTimes.toSeq),
      "api_rps" -> mix(0).size / median(passTimes),
      "report_p50_ms" -> pct("report", 0.5), "export_p50_ms" -> pct("export", 0.5),
      "samples" -> byKind.map { case (k, v) => k -> v.size })
  }
}

object ApiRun {
  val Clients = 2
}
