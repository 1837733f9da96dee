package graft.flu

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantReadWriteLock

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge.releaseCheckpoint

/** The serving-layer query surface (reference: api/app.py): three canned
  * report SQLs, presentation formatting, and the capped CSV export.
  * The SQL strings are the reference's own (minus the `flu_schema.`
  * prefix) run through Spark SQL — Catalyst handles the LEFT-join
  * elimination that Postgres did (null-rejecting WHERE ⇒ inner join).
  */
object FluReports {

  /** The five served tables, in dashboard order: the export allowlist. */
  val tableNames: Seq[String] = Seq("county_region", "temporal", "illness", "healthcare", "historics")

  /** A served batch: its pinned tables and its answers by key (a report
    * or an export table name).
    */
  private final class Batch(val pinned: Iterable[DataFrame]) {
    val answers = new ConcurrentHashMap[String, Answer]
  }

  /** Rendered by the first request that reads it; concurrent first
    * requests wait for that one, and a failed render is retried.
    */
  private final class Answer(render: => String) { lazy val body: String = render }

  /** Answers render under the read lock and batches swap under the write
    * lock, so no snapshot is released while an answer still reads it.
    */
  private val lock = new ReentrantReadWriteLock
  private val batches = new ConcurrentHashMap[SparkSession, Batch]

  /** Start a new batch on the tables' session. Each table is pinned
    * once, as an eager local checkpoint, and registered as a temp view
    * over the pinned copy; the session's previous batch is swapped out
    * and its snapshot's blocks released. Until the next call, each report
    * and export answer is rendered once and then served from the batch
    * ([[answer]]). This is result caching: it is sound because a pinned
    * snapshot cannot change, and an answer lives exactly as long as the
    * snapshot it was computed from. Frames built over the previous
    * batch's views cannot run after the swap.
    */
  def registerViews(tables: Map[String, DataFrame]): Unit = {
    require(tables.nonEmpty, "registerViews: no tables")
    val pinned = tables.map { case (name, df) => name -> df.localCheckpoint(true) }
    lock.writeLock.lock()
    try {
      pinned.foreach { case (name, df) => df.createOrReplaceTempView(name) }
      batches.keySet.removeIf(_.sparkContext.isStopped)
      Option(batches.put(pinned.head._2.sparkSession, new Batch(pinned.values)))
        .foreach(_.pinned.foreach(releaseCheckpoint))
    } finally lock.writeLock.unlock()
  }

  /** Whether `spark` has a registered batch to serve. */
  def isRegistered(spark: SparkSession): Boolean = batches.containsKey(spark)

  /** Answer `key` of `spark`'s current batch: `render` runs on the first
    * request for it in this batch and never again. Callers pass fixed
    * keys only, so a batch holds at most one answer per report and table.
    */
  def answer(spark: SparkSession, key: String)(render: => String): String = {
    lock.readLock.lock()
    try Option(batches.get(spark))
      .getOrElse(throw new IllegalStateException("no registered batch: call registerViews first"))
      .answers.computeIfAbsent(key, _ => new Answer(render)).body
    finally lock.readLock.unlock()
  }

  /** Weekly flu activity trends (reference: api/app.py:219-233). */
  val weeklyTrendsSql: String = """
    SELECT
        t.week_end,
        t.epiweek_id,
        i.respiratory_illness_type,
        AVG(i.county_ili_percent) as avg_percent_positive,
        COUNT(DISTINCT i.county_id) as counties_reporting
    FROM temporal t
    LEFT JOIN illness i ON t.epiweek_id = i.epiweek_id
    WHERE i.respiratory_illness_type IS NOT NULL
    GROUP BY t.week_end, t.epiweek_id, t.season, i.respiratory_illness_type
    HAVING AVG(i.county_ili_percent) IS NOT NULL
    ORDER BY t.week_end DESC, i.respiratory_illness_type
    LIMIT 20"""

  /** Healthcare impact by ACH region (reference: api/app.py:261-274). */
  val healthcareImpactSql: String = """
    SELECT
        cr.ach_region,
        COUNT(DISTINCT cr.county_id) as counties_in_region,
        AVG(h.population_density_2020) as avg_population_density,
        AVG(h.hospitalization_percent) as avg_hospitalization_percent,
        AVG(h.er_visit_percent) as avg_er_visit_percent,
        AVG(h.hospital_to_er_ratio) as avg_hospital_to_er_ratio
    FROM healthcare h
    JOIN county_region cr ON h.county_id = cr.county_id
    WHERE h.hospitalization_percent > 0 OR h.er_visit_percent > 0
    GROUP BY cr.ach_region
    ORDER BY avg_hospitalization_percent DESC NULLS LAST"""

  /** Historical season summary (reference: api/app.py:307-317). */
  val historicalSummarySql: String = """
    SELECT
        year, decade_year, peak_week_id, peak_ili_percent,
        average_wili_percent, peak_vs_avg_diff
    FROM historics
    ORDER BY year DESC"""

  def weeklyTrends(spark: SparkSession): DataFrame = spark.sql(weeklyTrendsSql)
  def healthcareImpact(spark: SparkSession): DataFrame = spark.sql(healthcareImpactSql)
  def historicalSummary(spark: SparkSession): DataFrame = spark.sql(historicalSummarySql)

  /** Presentation formatting applied after the query, mirroring the
    * Flask layer (reference: api/app.py:240-252,281-297,324-343) —
    * deliberately out of the analytical plan.
    */
  def formatWeeklyTrends(df: DataFrame): DataFrame =
    df.withColumn("avg_percent_positive",
      format_string("%.2f%%", col("avg_percent_positive")))

  def formatHealthcareImpact(df: DataFrame): DataFrame =
    df
      .withColumn("avg_hospitalization_percent",
        format_string("%.2f%%", col("avg_hospitalization_percent")))
      .withColumn("avg_er_visit_percent",
        format_string("%.2f%%", col("avg_er_visit_percent")))
      .withColumn("avg_hospital_to_er_ratio",
        format_string("%.3f", col("avg_hospital_to_er_ratio")))
      .withColumn("avg_population_density",
        format_string("%.1f", col("avg_population_density")))

  def formatHistoricalSummary(df: DataFrame): DataFrame =
    Seq("peak_ili_percent", "average_wili_percent", "peak_vs_avg_diff")
      .foldLeft(df)((d, c) => d.withColumn(c, format_string("%.2f%%", col(c))))

  /** Capped table export with the allowlist guard (reference:
    * api/app.py:348-378).
    */
  def exportTable(spark: SparkSession, table: String): DataFrame = {
    require(tableNames.contains(table), s"invalid table: $table")
    spark.table(table).limit(1000)
  }
}
