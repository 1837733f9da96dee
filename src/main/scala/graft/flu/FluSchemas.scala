package graft.flu

import org.apache.spark.sql.types._

/** Explicit schemas for the flu-surveillance domain: the three raw feeds
  * and the five star-schema tables.
  *
  * The reference infers raw schemas eagerly and pins output types in DDL
  * (reference: dags/flu_data_airflow_v2.py:72,219,322-324 and :486-546);
  * we declare both ends so scans prune/push with exact types.
  */
object FluSchemas {

  /** WA DOH RHINO feed as fetched (reference: dags/flu_data_airflow_v2
    * .py:46-99 — before the `source` tag and ACH→county explosion).
    * Header names verbatim, including the trailing space in
    * "1-Week Percent ".
    */
  val rhinoRaw: StructType = StructType(Seq(
    StructField("Location", StringType),
    StructField("Week Start", StringType),
    StructField("Week End", StringType),
    StructField("Week", IntegerType),
    StructField("Season", StringType),
    StructField("Respiratory Illness Category", StringType),
    StructField("Care Type", StringType),
    StructField("Demographic Category", StringType),
    StructField("1-Week Percent ", StringType)))

  /** WA census population-density feed (reference: :216-239). */
  val census: StructType = StructType(Seq(
    StructField("County Name", StringType),
    StructField("Population Density 2020", DoubleType)))

  /** CDC FluView epidata records (reference: :263-278). */
  val fluview: StructType = StructType(Seq(
    StructField("epiweek", IntegerType),
    StructField("wili", DoubleType)))

  // ---- the five output tables (DDL: reference :486-546) ----

  val countyRegion: StructType = StructType(Seq(
    StructField("county_id", IntegerType),
    StructField("county_name", StringType),
    StructField("ach_region", StringType),
    StructField("population_density_2020", DoubleType)))

  val temporal: StructType = StructType(Seq(
    StructField("epiweek_id", IntegerType),
    StructField("week_start", DateType),
    StructField("week_end", DateType),
    StructField("season", StringType)))

  val illness: StructType = StructType(Seq(
    StructField("epiweek_id", IntegerType),
    StructField("county_id", IntegerType),
    StructField("respiratory_illness_type", StringType),
    StructField("care_type", StringType),
    StructField("county_ili_percent", DoubleType),
    StructField("state_ili_percent", DoubleType),
    StructField("deviation_from_state_average", DoubleType)))

  val healthcare: StructType = StructType(Seq(
    StructField("county_id", IntegerType),
    StructField("population_density_2020", DoubleType),
    StructField("hospitalization_percent", DoubleType),
    StructField("er_visit_percent", DoubleType),
    StructField("hospital_to_er_ratio", DoubleType)))

  val historics: StructType = StructType(Seq(
    StructField("year", IntegerType),
    StructField("decade_year", IntegerType),
    StructField("peak_week_id", IntegerType),
    StructField("peak_ili_percent", DoubleType),
    StructField("average_wili_percent", DoubleType),
    StructField("peak_vs_avg_diff", DoubleType)))
}
