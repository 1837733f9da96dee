package graft.flu

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge.releaseCheckpoint

import graft.functions.ScalarFunctions.cleanPercentage
import graft.operators.Relational._

/** The flu-surveillance star-schema build, re-expressed Spark-first.
  *
  * Each builder is a pure DataFrame → DataFrame function mirroring one
  * table of the reference ETL (dags/flu_data_airflow_v2.py:319-459) and
  * takes the explode-first frame the reference builds
  * ([[withEpiweekId]] of [[explodeRhino]]). Dimension lookups broadcast.
  * [[buildAll]] runs them eagerly, once per batch (as the reference
  * does), so writes and checks never re-read the feed. It feeds them
  * per-Location reductions of the feed and explodes only those, so the
  * group-bys shuffle the feed's distinct keys, not its exploded
  * demographic duplicates.
  */
object FluOps {

  /** ACH → member counties (reference: dags/flu_data_airflow_v2.py:49-59).
    * Kept as data, not a Map literal in an expression, so the lookup is a
    * broadcast join Catalyst can reason about.
    */
  val achToCounties: Seq[(String, Seq[String])] = Seq(
    "Better Health Together" -> Seq("Spokane", "Stevens", "Pend Oreille", "Ferry"),
    "Cascade Pacific Action Alliance" -> Seq("Thurston", "Mason", "Grays Harbor", "Pacific", "Lewis"),
    "Elevate Health" -> Seq("Yakima", "Kittitas"),
    "Greater Health Now" -> Seq("Spokane"),
    "Healthier Here" -> Seq("King"),
    "North Sound" -> Seq("Whatcom", "Skagit", "Snohomish", "San Juan", "Island"),
    "Olympic Community of Health" -> Seq("Clallam", "Jefferson", "Kitsap"),
    "Southwest Washington" -> Seq("Clark", "Skamania", "Klickitat", "Cowlitz", "Wahkiakum"),
    "Thriving Together NCW" -> Seq("Chelan", "Douglas", "Grant", "Okanogan"))

  /** The official 39-county list used for validation (reference :62-69). */
  val waCounties: Seq[String] = Seq(
    "Adams", "Asotin", "Benton", "Chelan", "Clallam", "Clark", "Columbia", "Cowlitz",
    "Douglas", "Ferry", "Franklin", "Garfield", "Grant", "Grays Harbor", "Island",
    "Jefferson", "King", "Kitsap", "Kittitas", "Klickitat", "Lewis", "Lincoln",
    "Mason", "Okanogan", "Pacific", "Pend Oreille", "Pierce", "San Juan", "Skagit",
    "Skamania", "Snohomish", "Spokane", "Stevens", "Thurston", "Wahkiakum",
    "Walla Walla", "Whatcom", "Whitman", "Yakima")

  /** (Location, county) pairs for the explode join. */
  def achMapping(spark: SparkSession): DataFrame = {
    import spark.implicits._
    achToCounties.flatMap { case (ach, cs) => cs.map(ach -> _) }
      .toDF("Location", "county")
  }

  /** Statewide/Unassigned filter + ACH→county explosion + percent
    * cleaning (reference :101-154).
    */
  def explodeRhino(raw: DataFrame): DataFrame = explodeAch(cleanRhino(raw))

  /** The row-wise half of [[explodeRhino]]: drop the Statewide and
    * Unassigned rows, add the cleaned percent.
    */
  private def cleanRhino(raw: DataFrame): DataFrame =
    raw
      .filter(!col("Location").isin("Statewide", "Unassigned ACH Region"))
      .withColumn("1-Week Percent_cleaned", cleanPercentage(col("1-Week Percent ")))

  /** One row per (row, county of its ACH), a `county` column added. A
    * LEFT broadcast join reproduces the pandas map-then-explode exactly:
    * unmapped Locations keep one row with a null county.
    */
  private def explodeAch(rhino: DataFrame): DataFrame =
    rhino.join(broadcast(achMapping(rhino.sparkSession)), Seq("Location"), "left")

  /** epiweek_id = year-from-week_end-string ++ zero-padded raw Week
    * column (reference :350 — the year-boundary quirk is the point:
    * a week ending Jan 3 gets the new year with the old week number).
    */
  def withEpiweekId(rhinoExploded: DataFrame): DataFrame =
    rhinoExploded.withColumn("epiweek_id",
      concat(substring(col("Week End"), 1, 4),
        lpad(col("Week").cast("string"), 2, "0")))

  /** Table 1 — county_region (reference :326-345): distinct census
    * pairs ⟕ distinct (county, Location), sorted-distinct comma-join of
    * ACH names per county, blank → 'Unassigned', dense county_id by
    * name order.
    */
  def buildCountyRegion(census: DataFrame, rhinoExploded: DataFrame): DataFrame = {
    val base = census.select("County Name", "Population Density 2020").distinct()
    val locs = rhinoExploded.select("county", "Location").distinct()
    val agged = base
      .join(broadcast(locs), base("County Name") === locs("county"), "left")
      .groupBy("County Name", "Population Density 2020")
      .agg(stringSetAgg(col("Location")).as("ach_region"))
      .withColumn("ach_region", blankTo(col("ach_region"), "Unassigned"))
    denseIdBy(agged, "county_id", col("County Name").asc)
      .select(
        col("county_id"),
        col("County Name").as("county_name"),
        col("ach_region"),
        col("Population Density 2020").as("population_density_2020"))
  }

  /** Table 2 — temporal (reference :348-361). */
  def buildTemporal(rhinoWithEpiweek: DataFrame): DataFrame =
    rhinoWithEpiweek
      .select("epiweek_id", "Week Start", "Week End", "Season")
      .distinct()
      .select(
        col("epiweek_id").cast("int"),
        to_date(col("Week Start")).as("week_start"),
        to_date(col("Week End")).as("week_end"),
        col("Season").as("season"))
      .orderBy("epiweek_id")

  /** Table 3 — illness (reference :365-387). `orderCol` carries the
    * unique raw input order, so the keep-first dedup (:376) is exact — at
    * scale, zipWithIndexOrdered or a file+row-position column provides
    * it; pandas got it implicitly from single-process file order.
    */
  def buildIllness(rhinoWithEpiweek: DataFrame, countyRegion: DataFrame,
                   fluview: DataFrame, orderCol: String): DataFrame = {
    val base = rhinoWithEpiweek.select(
      col("epiweek_id").cast("int"),
      col("county"),
      col("Respiratory Illness Category"),
      col("Care Type"),
      col("1-Week Percent_cleaned"),
      col(orderCol))
    val withCounty = base
      .join(broadcast(countyRegion.select("county_id", "county_name")),
        base("county") === col("county_name"), "left")
      .drop("county", "county_name")
    val withState = withCounty
      .join(broadcast(fluview.select("epiweek", "wili")),
        col("epiweek_id") === col("epiweek"), "left")
      .withColumnRenamed("wili", "state_ili_percent")
      .drop("epiweek")
    val keys = Seq("epiweek_id", "county_id", "Respiratory Illness Category", "Care Type")
    // key order within partitions: the written table and its capped
    // export list rows by key, and report scans read clustered keys
    dedupKeepFirstAgg(withState, keys, Seq(orderCol))
      .sortWithinPartitions(keys.map(col): _*)
      .withColumn("deviation_from_state_average",
        col("1-Week Percent_cleaned") - col("state_ili_percent"))
      .select(
        col("epiweek_id"), col("county_id"),
        col("Respiratory Illness Category").as("respiratory_illness_type"),
        col("Care Type").as("care_type"),
        col("1-Week Percent_cleaned").as("county_ili_percent"),
        col("state_ili_percent"), col("deviation_from_state_average"))
  }

  /** Table 4 — healthcare (reference :391-415): per-(county, care-type)
    * mean over *distinct* (county, illness, care, pct) tuples, manual
    * pivot via first-non-null, ratio, then fill-0. The window mean runs
    * over the deduped join output exactly as pandas transform('mean')
    * did; nulls are skipped by avg just as NaN is by pandas.
    */
  def buildHealthcare(countyRegion: DataFrame, rhinoExploded: DataFrame): DataFrame = {
    val base = countyRegion.select("county_id", "county_name", "population_density_2020")
    val rhino4 = rhinoExploded
      .select("county", "Respiratory Illness Category", "Care Type", "1-Week Percent_cleaned")
      .distinct()
    val w = Window.partitionBy("county_id", "Care Type")
    base
      .join(rhino4, base("county_name") === rhino4("county"), "left")
      .withColumn("rates", avg(col("1-Week Percent_cleaned")).over(w))
      .select("county_id", "population_density_2020", "Care Type", "rates")
      .distinct()
      .withColumn("hospitalization_percent",
        when(col("Care Type") === "Hospitalizations", col("rates")))
      .withColumn("er_visit_percent",
        when(col("Care Type") === "Emergency Visits", col("rates")))
      .groupBy("county_id", "population_density_2020")
      .agg(
        first(col("hospitalization_percent"), ignoreNulls = true).as("hospitalization_percent"),
        first(col("er_visit_percent"), ignoreNulls = true).as("er_visit_percent"))
      // Documented deviation (like the historics tie-break note): when
      // er_visit_percent is exactly 0.0 the reference's pandas division
      // (reference :412) yields inf, which its fillna(0) keeps; Spark's
      // double division-by-zero yields null, which na.fill turns into
      // 0.0. A 0-rate denominator means "no ER signal at all", so 0 is
      // the saner ratio than inf; golden data has no such rows.
      .withColumn("hospital_to_er_ratio",
        col("hospitalization_percent") / col("er_visit_percent"))
      .na.fill(0.0)
      .orderBy("county_id")
  }

  /** Table 5 — historics (reference :420-437): per-year peak, peak
    * week, mean, and peak-vs-mean gap. The reference's positional
    * idxmax tie-break becomes "smallest epiweek among the peaks"
    * (deterministic under any partitioning; golden data has no ties).
    */
  def buildHistorics(fluview: DataFrame): DataFrame = {
    val w = Window.partitionBy("year")
    fluview.select("epiweek", "wili")
      .withColumn("year", substring(col("epiweek").cast("string"), 1, 4).cast("int"))
      .withColumn("decade_year", (floor(col("year") / 10) * 10).cast("int"))
      .withColumn("peak_ili_percent", max(col("wili")).over(w))
      .withColumn("peak_week_id",
        min(when(col("wili") === col("peak_ili_percent"), col("epiweek"))).over(w))
      .withColumn("average_wili_percent", avg(col("wili")).over(w))
      .withColumn("peak_vs_avg_diff",
        col("peak_ili_percent") - col("average_wili_percent"))
      .select("year", "decade_year", "peak_week_id", "peak_ili_percent",
        "average_wili_percent", "peak_vs_avg_diff")
      .distinct()
      .orderBy("year")
  }

  /** Full pipeline: raw feeds → the five tables (reference task graph
    * :749-764), eager and once per batch. The filtered, cleaned,
    * epiweek-tagged feed is checkpointed unexploded, and two per-Location
    * reductions of it are exploded instead of the feed itself:
    *
    *  - `firstPerLoc`, the first row by `orderCol` per (Location, week,
    *    illness, care), feeds temporal, county_region and illness;
    *  - `pcts`, the distinct (Location, illness, care, percent) rows,
    *    feeds healthcare.
    *
    * This is eager aggregation (Yan & Larson, VLDB 1995) and it is exact.
    * The explode maps each row by its Location alone, so every exploded
    * row's illness key (epiweek, county_id, illness, care) is a function
    * of its pre-explode key and its county: the first row per illness
    * key is the first of the per-Location firsts, even where one county
    * sits in two ACHs (Spokane) or a null county_id merges counties.
    * Distinct commutes with the explode, and temporal and county_region
    * read only values every kept row's key group still carries.
    *
    * `orderCol` is pinned for the batch and no later scan re-reads the
    * feed: the intermediates and every returned table are local
    * checkpoints (single `LogicalRDD` leaves), and the intermediates'
    * blocks are released before returning.
    */
  def buildAll(rawRhino: DataFrame, census: DataFrame, fluview: DataFrame,
               orderCol: String): Map[String, DataFrame] = {
    def once(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val (illness, care, pct) = ("Respiratory Illness Category", "Care Type", "1-Week Percent_cleaned")
    val rhino = once(withEpiweekId(cleanRhino(rawRhino)))
    val keys = Seq("Location", "epiweek_id", "Week Start", "Week End", "Season", illness, care)
    val firstPerLoc = once(dedupKeepFirstAgg(
      rhino.select((keys :+ pct :+ orderCol).map(col): _*), keys, Seq(orderCol)))
    val pcts = rhino.select("Location", illness, care, pct).distinct()
    val firsts = explodeAch(firstPerLoc)
    val countyRegion = once(buildCountyRegion(census, firsts))
    val tables = Map(
      "county_region" -> countyRegion,
      "temporal" -> once(buildTemporal(firstPerLoc)),
      "illness" -> once(buildIllness(firsts, countyRegion, fluview, orderCol)),
      "healthcare" -> once(buildHealthcare(countyRegion, explodeAch(pcts))),
      "historics" -> once(buildHistorics(fluview)))
    Seq(rhino, firstPerLoc).foreach(releaseCheckpoint)
    tables
  }

  /** PK / FK / domain assertions standing in for the Postgres
    * constraints (reference DDL :486-546) — Spark doesn't enforce
    * constraints, so violations are surfaced as counts: keys held by
    * more than one row per PK, orphan rows for the FK. One query: every
    * row becomes (check, key as exact strings, rows, refs), grouped per
    * key, then per check.
    */
  def constraintViolations(tables: Map[String, DataFrame]): Map[String, Long] = {
    val fk = "illness.fk_county"
    // (check, table, key columns, 1 for the rows the FK references)
    val checks = Seq(
      ("county_region.pk", "county_region", Seq("county_id"), 0),
      ("temporal.pk", "temporal", Seq("epiweek_id"), 0),
      ("illness.pk", "illness", Seq("epiweek_id", "county_id", "respiratory_illness_type", "care_type"), 0),
      ("healthcare.pk", "healthcare", Seq("county_id"), 0),
      ("historics.pk", "historics", Seq("year"), 0),
      (fk, "illness", Seq("county_id"), 0),
      (fk, "county_region", Seq("county_id"), 1))
    val found = checks.map { case (check, t, keys, ref) =>
        tables(t).select(lit(check).as("check"), array(keys.map(col(_).cast("string")): _*).as("key"),
          lit(1 - ref).as("rows"), lit(ref).as("refs"))
      }.reduce(_ union _)
      .groupBy("check", "key").agg(sum("rows").as("rows"), sum("refs").as("refs"))
      // a null key matches nothing, as in a SQL anti-join
      .groupBy("check").agg(sum(when(col("check") =!= fk, (col("rows") > 1).cast("long"))
        .when(col("refs") === 0 || col("key")(0).isNull, col("rows")).otherwise(0L)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    checks.map(c => c._1 -> found.getOrElse(c._1, 0L)).toMap
  }
}
