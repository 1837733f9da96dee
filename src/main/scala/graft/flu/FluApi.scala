package graft.flu

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Json.{string => jsonString}

/** Live HTTP serving layer over the registered batch — the one
  * reference runtime surface (api/app.py) the report SQLs alone don't
  * cover. Endpoints, response envelopes ({"data": [...], "summary":
  * {...}}), status codes, presentation formatting, the export
  * allowlist (400 on a bad table), and the LIMIT-1000 export cap all
  * mirror the reference:
  *
  *   - `/`                                 api/app.py:16-29
  *   - `/viewer`                           api/app.py:40-212 (HTML dashboard)
  *   - `/health`                           api/app.py:31-38 (SELECT 1)
  *   - `/api/reports/weekly-trends`        api/app.py:215-257
  *   - `/api/reports/healthcare-impact`    api/app.py:259-303
  *   - `/api/reports/historical-summary`   api/app.py:305-348
  *   - `/api/export/csv?table=X`           api/app.py:350-378
  *
  * Built on the JDK's `com.sun.net.httpserver` (no new dependencies).
  * `/viewer` is behavior parity with original markup: a static page
  * whose script drives the same report/export endpoints. Report and
  * export bodies are rendered once per batch (`FluReports.registerViews`)
  * from bounded queries over the pinned tables, then served from memory
  * without a Spark job; `/health` runs `SELECT 1` on every request.
  */
object FluApi {

  /** Start the API over `spark`'s registered batch, which must exist.
    * `port` 0 binds an ephemeral port (see `server.getAddress.getPort`).
    * Caller stops it with `server.stop(0)`. The worker pool uses DAEMON
    * threads: `HttpServer.stop` does not shut down its executor, so a
    * non-daemon pool would outlive the server and hang JVM exit for any
    * embedding app.
    */
  def start(spark: SparkSession, port: Int = 5000): HttpServer = {
    require(FluReports.isRegistered(spark),
      "FluApi.start: no registered batch; call FluReports.registerViews first")
    // The JDK server writes headers and body as two segments; with Nagle
    // on, the body waits for the client's delayed ACK of the headers, a
    // ~40 ms floor under every answer served from memory. The property is
    // read once, when the first server is created; a JVM-level setting wins.
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/", exchange => route(spark, exchange))
    // small pool: a request renders at most one bounded query, once per
    // batch, and is otherwise served from memory
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4,
      (r: Runnable) => {
        val t = new Thread(r, "flu-api-worker")
        t.setDaemon(true)
        t
      }))
    server.start()
    server
  }

  private def route(spark: SparkSession, ex: HttpExchange): Unit =
    try ex.getRequestURI.getPath match {
      case "/" => respondJson(ex, 200, home)
      case "/viewer" => respondHtml(ex, 200, viewerHtml)
      case "/health" => health(spark, ex)
      case ReportPath(name) if reports.contains(name) =>
        respondJson(ex, 200, FluReports.answer(spark, name)(reportBody(spark, name)))
      case "/api/export/csv" => exportCsv(spark, ex)
      case other => respondJson(ex, 404, obj("error" -> s"not found: $other"))
    } catch {
      case e: Throwable => // reference returns 500 with the error text
        // if the failure hit AFTER headers were sent (client disconnect
        // mid-write), the 500 write throws again — swallow it rather
        // than let a secondary exception escape to the dispatcher
        try respondJson(ex, 500, obj("error" -> String.valueOf(e.getMessage)))
        catch { case _: Exception => () }
    } finally ex.close()

  private val ReportPath = "/api/reports/([^/]+)".r

  /** The report endpoints: dashboard title, formatted query, summary. */
  private[flu] val reports = ListMap[String, (String, SparkSession => DataFrame,
      (Seq[String], Seq[Seq[Any]]) => String)](
    "weekly-trends" -> ("Weekly Flu Activity Trends",
      s => FluReports.formatWeeklyTrends(FluReports.weeklyTrends(s)), weeklySummary _),
    "healthcare-impact" -> ("Healthcare Impact by ACH Region",
      s => FluReports.formatHealthcareImpact(FluReports.healthcareImpact(s)), healthcareSummary _),
    "historical-summary" -> ("Historical Flu Season Summary",
      s => FluReports.formatHistoricalSummary(FluReports.historicalSummary(s)), historicalSummary _))

  private val home: String = obj(
    "message" -> "Flu Data Pipeline API",
    "status" -> "running",
    "endpoints" -> RawJson(obj(
      "/health" -> "Check API and database health",
      "/api/reports/weekly-trends" -> "Weekly flu activity trends",
      "/api/reports/healthcare-impact" -> "Healthcare system impact by ACH region",
      "/api/reports/historical-summary" -> "Historical flu season summary",
      "/api/export/csv?table=<table_name>" -> "Export table data as CSV")))

  /** The HTML dashboard (reference api/app.py:40-212): a static page
    * whose client-side script drives the SAME JSON/CSV endpoints this
    * server exposes — one-click CSV export per allowlisted table, one
    * card per report that fetches `/api/reports/<name>` and renders
    * the summary metrics plus a data table. Original markup; behavior
    * parity only (same endpoints, same table allowlist, same
    * summary-then-table layout, N/A for nulls).
    */
  private val viewerHtml: String = {
    val exportButtons = FluReports.tableNames.map(t =>
      s"""<button class="exp" onclick="dl('$t')">$t</button>""").mkString("\n      ")
    val reportCards = reports.map { case (key, (title, _, _)) =>
      s"""<div class="card" onclick="show('$key')"><h3>$title</h3></div>"""
    }.mkString("\n      ")
    val titleMap = reports.map { case (k, (t, _, _)) => s"'$k':'$t'" }.mkString("{", ",", "}")
    s"""<!DOCTYPE html>
<html>
<head>
  <title>Flu Data Analytics Dashboard</title>
  <style>
    body { font-family: sans-serif; margin: 1.5em; background: #fafafa; }
    .card { display: inline-block; background: #fff; border: 1px solid #ccc;
            border-radius: 6px; padding: 1em; margin: .5em; cursor: pointer; }
    .card:hover { background: #eef; }
    button.exp { margin: .25em; padding: .5em 1em; cursor: pointer; }
    table { border-collapse: collapse; margin-top: 1em; }
    th, td { border: 1px solid #bbb; padding: .4em .8em; text-align: left; }
    th { background: #446; color: #fff; }
    .metric { display: inline-block; margin-right: 2em; }
    .metric b { font-size: 1.6em; display: block; }
    .err { color: #a00; }
  </style>
</head>
<body>
  <h1>Flu Data Analytics Dashboard</h1>
  <section>
    <h3>Export tables (CSV)</h3>
      $exportButtons
  </section>
  <section>
      $reportCards
  </section>
  <div id="out"></div>
  <script>
    const titles = $titleMap;
    function dl(t) { window.location.href = '/api/export/csv?table=' + t; }
    async function show(r) {
      const out = document.getElementById('out');
      out.innerHTML = 'loading…';
      try {
        const resp = await fetch('/api/reports/' + r);
        const body = await resp.json();
        if (body.error) { out.innerHTML = '<p class="err">' + body.error + '</p>'; return; }
        let h = '<h2>' + (titles[r] || r) + '</h2>';
        for (const [k, v] of Object.entries(body.summary || {}))
          h += '<span class="metric"><b>' + v + '</b>' + k + '</span>';
        const rows = body.data || [];
        if (rows.length) {
          const cols = Object.keys(rows[0]);
          h += '<table><tr>' + cols.map(c => '<th>' + c + '</th>').join('') + '</tr>'
            + rows.map(x => '<tr>' + cols.map(c =>
                '<td>' + (x[c] === null ? 'N/A' : x[c]) + '</td>').join('') + '</tr>').join('')
            + '</table>';
        } else h += '<p>No data</p>';
        out.innerHTML = h;
      } catch (e) { out.innerHTML = '<p class="err">' + e + '</p>'; }
    }
  </script>
</body>
</html>"""
  }

  private def respondHtml(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  /** `SELECT 1` through the engine — the reference's DB liveness probe. */
  private def health(spark: SparkSession, ex: HttpExchange): Unit =
    try {
      spark.sql("SELECT 1").collect()
      respondJson(ex, 200, obj("status" -> "healthy", "database" -> "connected"))
    } catch {
      case e: Throwable =>
        respondJson(ex, 500,
          obj("status" -> "unhealthy", "error" -> String.valueOf(e.getMessage)))
    }

  /** Report `name`'s body, rendered from a direct `FluReports` call:
    * formatted rows + the endpoint-specific summary.
    */
  private[flu] def reportBody(spark: SparkSession, name: String): String = {
    val (_, query, summary) = reports(name)
    val formatted = query(spark)
    val cols = formatted.columns.toSeq
    val rows = formatted.collect().toSeq.map(_.toSeq)
    val data = rows.map(r => obj(cols.zip(r): _*))
    s"""{"data": [${data.mkString(", ")}], "summary": ${summary(cols, rows)}}"""
  }

  /** api/app.py:245-250 — first (latest) row's week, formatted %, type. */
  private def weeklySummary(cols: Seq[String], rows: Seq[Seq[Any]]): String =
    if (rows.isEmpty) "{}"
    else {
      val first = cols.zip(rows.head).toMap
      def get(c: String): Any = first.getOrElse(c, null)
      obj(
        "Latest Week" -> Option(get("week_end")).map(_.toString).getOrElse("N/A"),
        "Avg County %" -> Option(get("avg_percent_positive")).getOrElse("N/A"),
        "Illness Type" -> get("respiratory_illness_type"))
    }

  /** api/app.py:293-296 — region count + total counties. */
  private def healthcareSummary(cols: Seq[String], rows: Seq[Seq[Any]]): String = {
    val ci = cols.indexOf("counties_in_region")
    val total = rows.flatMap(r => Option(r(ci))).map(_.asInstanceOf[Number].longValue).sum
    obj("ACH Regions" -> rows.size, "Total Counties" -> total)
  }

  /** api/app.py:334-341 — years tracked + max formatted peak. */
  private def historicalSummary(cols: Seq[String], rows: Seq[Seq[Any]]): String =
    if (rows.isEmpty) "{}"
    else {
      val pi = cols.indexOf("peak_ili_percent")
      val maxPeak = rows.flatMap(r => Option(r(pi)))
        .map(_.toString.stripSuffix("%").toDouble)
        .foldLeft(0.0)(math.max)
      obj("Years Tracked" -> rows.size,
        "Highest Peak" -> f"$maxPeak%.2f%%")
    }

  /** api/app.py:350-378 — allowlisted, capped CSV export. Reuses the K5
    * export (allowlist + LIMIT 1000); a bad table is a 400, mirroring
    * the reference (not a 500 from the engine's require).
    */
  private def exportCsv(spark: SparkSession, ex: HttpExchange): Unit = {
    val table = Option(ex.getRequestURI.getQuery).getOrElse("")
      .split("&").map(_.split("=", 2))
      .collectFirst { case Array("table", v) => v }.getOrElse("")
    if (!FluReports.tableNames.contains(table)) {
      respondJson(ex, 400, obj("error" ->
        s"Invalid table. Choose from: ${FluReports.tableNames.sorted.mkString(", ")}"))
    } else {
      val bytes = FluReports.answer(spark, table)(exportBody(spark, table))
        .getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/csv")
      ex.getResponseHeaders.set("Content-Disposition",
        s"attachment; filename=$table.csv")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    }
  }

  /** Table `table`'s CSV export, rendered from a direct `FluReports` call. */
  private[flu] def exportBody(spark: SparkSession, table: String): String = {
    val df = FluReports.exportTable(spark, table)
    val sb = new StringBuilder
    sb.append(df.columns.map(csvField).mkString(",")).append("\r\n")
    df.collect().foreach { row =>
      sb.append(row.toSeq.map {
        case null => "" // Python csv writes None as the empty field
        case v => csvField(v.toString)
      }.mkString(",")).append("\r\n")
    }
    sb.toString
  }

  // ------------------------------------------------------- plumbing

  /** Minimal-quoting CSV (Python csv.writer's QUOTE_MINIMAL + CRLF). */
  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Marker for already-encoded JSON (nested objects). */
  private case class RawJson(json: String)

  private def jsonEncode(v: Any): String = v match {
    case null => "null"
    case RawJson(j) => j
    case s: String => jsonString(s)
    case b: Boolean => b.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case f: Float => jsonDouble(f.toDouble)
    case d: Double => jsonDouble(d)
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    // Flask's jsonify renders date/datetime ROW values as RFC-1123
    // http_date strings ("Wed, 02 Oct 2024 00:00:00 GMT"); only the
    // summary blocks use str(date) ISO form (which .toString keeps)
    case d: java.sql.Date => jsonString(httpDate(d.toLocalDate))
    case d: java.time.LocalDate => jsonString(httpDate(d))
    case other => jsonString(other.toString) // timestamps → ISO text
  }

  private val httpDateFmt = java.time.format.DateTimeFormatter
    .ofPattern("EEE, dd MMM yyyy HH:mm:ss 'GMT'", java.util.Locale.US)

  private def httpDate(d: java.time.LocalDate): String =
    httpDateFmt.format(d.atStartOfDay(java.time.ZoneOffset.UTC))

  private def jsonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) jsonString(d.toString) else d.toString

  /** JSON object from ordered key/value pairs. */
  private def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${jsonString(k)}: ${jsonEncode(v)}" }
      .mkString("{", ", ", "}")

  private def respondJson(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }
}
