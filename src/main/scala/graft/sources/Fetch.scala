package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** HTTP ingestion shim for feed-shaped sources (reference fetch tasks:
  * dags/flu_data_airflow_v2.py:46 RHINO CSV, :216 census CSV, :263-278
  * FluView epidata JSON).
  *
  * The transport is a plain `url => body` function so the fetch is
  * swappable: [[http]] is the real JDK-HttpClient GET; [[snapshots]]
  * serves canned bodies for tests and offline replay (FetchSpec drives
  * the whole star-schema build from snapshot feeds). Parsing stays in
  * Spark — the body becomes a Dataset[String] the CSV/JSON readers
  * consume with pinned output types, so the driver only ever holds one
  * feed body (the reference holds a full pandas frame; feeds beyond
  * driver memory should land to files and go through [[Sources]]).
  */
object Fetch {

  /** url (query string included) => response body */
  type Transport = String => String

  /** Real transport: GET via the JDK HttpClient (public API, no extra
    * dependency). Non-2xx responses throw.
    */
  def http(timeoutSec: Int = 60): Transport = { url =>
    val client = HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(timeoutSec.toLong))
      .followRedirects(HttpClient.Redirect.NORMAL)
      .build()
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(timeoutSec.toLong)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() / 100 == 2, s"GET $url -> HTTP ${resp.statusCode()}")
    resp.body()
  }

  /** Snapshot transport: canned bodies keyed by exact URL. Unknown URLs
    * throw — a test can't silently fetch something it didn't pin.
    */
  def snapshots(byUrl: Map[String, String]): Transport =
    url => byUrl.getOrElse(url,
      throw new IllegalArgumentException(s"no snapshot for $url"))

  /** Append URL-encoded query parameters (the reference passes `params`
    * to requests.get; reference :270-274).
    */
  def withQuery(url: String, params: Seq[(String, String)]): String =
    if (params.isEmpty) url
    else {
      def enc(s: String) = java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
      val sep = if (url.contains("?")) "&" else "?"
      url + sep + params.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
    }

  /** Fetch a header CSV feed and parse by COLUMN NAME with pinned types.
    *
    * Name-based selection (not positional schema application) matches
    * the reference's pandas reads: the feed may add, drop, or reorder
    * columns it doesn't care about without breaking the pipeline, and
    * header names are preserved verbatim (including the RHINO feed's
    * trailing-space "1-Week Percent " column).
    *
    * @param orderCol if set, adds a strictly increasing arrival-order
    *   column (file line order) of that name — the determinism anchor
    *   keep-first dedup needs (pandas drop_duplicates keeps file order).
    *   Line order survives because the body's lines are parallelized
    *   into contiguous ordered slices and monotonically_increasing_id is
    *   increasing across ordered partitions.
    * @note the lines go in as an RDD ([[Sources.lines]]), not as a
    *   `LocalRelation`, so planning cost does not grow with the feed.
    *   The body is split on line breaks, so multiline (embedded
    *   newline) CSV records are not supported here — land those as
    *   files and read them with Spark's CSV reader and `multiLine`.
    */
  def csvFeed(spark: SparkSession, url: String, schema: StructType,
              transport: Transport, orderCol: Option[String] = None): DataFrame = {
    val body = transport(url)
    val raw = spark.read.option("header", "true").csv(Sources.lines(spark, body.linesIterator.toSeq))
    val ordered = orderCol.fold(raw)(c => raw.withColumn(c, monotonically_increasing_id()))
    val typed = schema.fields.toSeq.map(f => ordered(f.name).cast(f.dataType).as(f.name))
    ordered.select(typed ++ orderCol.map(ordered(_)): _*)
  }

  /** Fetch a Delphi-epidata-style JSON envelope, enforce the success
    * flag, and parse the record array with a pinned schema.
    *
    * Mirrors the reference's `data['result'] == 1` check (reference
    * :278-281); a non-success envelope throws with the API's own
    * message instead of silently producing zero rows.
    */
  def epidataRecords(spark: SparkSession, url: String, params: Seq[(String, String)],
                     schema: StructType, transport: Transport): DataFrame = {
    val body = transport(withQuery(url, params))
    val root = new ObjectMapper().readTree(body)
    val result = root.path("result").asInt(-1)
    if (result != 1) {
      val msg = root.path("message").asText("")
      throw new IllegalStateException(
        s"epidata fetch failed: result=$result message='$msg' url=$url")
    }
    val records = root.path("epidata").elements.asScala.map(_.toString).toSeq
    Sources.jsonRecords(spark, records, schema)
  }
}
