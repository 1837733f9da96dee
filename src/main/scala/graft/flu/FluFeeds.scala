package graft.flu

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Fetch

/** The three live feeds of the flu pipeline, bound to the ingestion
  * shim: same URLs, same success checks, same column handling as the
  * reference collection tasks (dags/flu_data_airflow_v2.py:46, :216,
  * :263-278) — but lazy DataFrames instead of landed pandas CSVs.
  *
  * Pass [[Fetch.http]]() to hit the real endpoints, or a
  * [[Fetch.snapshots]] transport for pinned offline replay (FetchSpec /
  * FluDemo --from-feeds). [[buildFromFeeds]] is the cold-start entry:
  * raw feeds in, the five star-schema tables out.
  */
object FluFeeds {

  /** WA DOH RHINO downloadable CSV (reference :46). */
  val rhinoUrl: String =
    "https://doh.wa.gov/sites/default/files/Data/Auto-Uploads/Respiratory-Illness/Respiratory_Disease_RHINO_Downloadable_Data.csv"

  /** WA census population-density CSV (reference :216). */
  val censusUrl: String =
    "https://data.wa.gov/api/views/e6ip-wkqq/rows.csv?accessType=DOWNLOAD"

  /** CDC FluView epidata endpoint (reference :263). */
  val fluviewUrl: String = "https://api.delphi.cmu.edu/epidata/fluview/"

  /** FluView query: WA, 2020 through 2024 (reference :268-274). */
  val fluviewParams: Seq[(String, String)] =
    Seq("regions" -> "wa", "epiweeks" -> "202001-202452")

  /** Arrival-order column added to the RHINO feed — the keep-first
    * dedup anchor (pandas drop_duplicates keeps file order).
    */
  val rhinoOrderCol: String = "_ord"

  /** RHINO feed: fetched, typed by column name, tagged with its source
    * (reference :75), arrival order preserved.
    */
  def rhino(spark: SparkSession, transport: Fetch.Transport): DataFrame =
    Fetch.csvFeed(spark, rhinoUrl, FluSchemas.rhinoRaw, transport,
        orderCol = Some(rhinoOrderCol))
      .withColumn("source", lit("WA_DOH_RHINO"))

  /** Census feed: only the two columns the pipeline reads; extra feed
    * columns are ignored by name-based selection (like pandas).
    */
  def census(spark: SparkSession, transport: Fetch.Transport): DataFrame =
    Fetch.csvFeed(spark, censusUrl, FluSchemas.census, transport)

  /** FluView feed: epidata envelope with the result==1 success check
    * (reference :278-281).
    */
  def fluview(spark: SparkSession, transport: Fetch.Transport): DataFrame =
    Fetch.epidataRecords(spark, fluviewUrl, fluviewParams,
      FluSchemas.fluview, transport)

  /** Cold-start pipeline: fetch all three feeds and build the five
    * star-schema tables (reference task graph :749-764) eagerly, once
    * per batch: each feed is parsed once, the RHINO arrival order is
    * pinned, every table comes back materialized ([[FluOps.buildAll]]).
    */
  def buildFromFeeds(spark: SparkSession,
                     transport: Fetch.Transport): Map[String, DataFrame] =
    FluOps.buildAll(rhino(spark, transport), census(spark, transport),
      fluview(spark, transport), rhinoOrderCol)
}
