package graft.flu

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end star-schema build on a hand-computed fixture that
  * exercises every semantic corner SURVEY §7.4 flags: multi-ACH
  * counties (string-set agg), unmapped counties (Unassigned),
  * Statewide/Unassigned filtering, keep-first dedup across the
  * demographic fan-out, the epiweek year-boundary quirk, null
  * percent cleaning, the healthcare pivot chain, and the historics
  * argmax with a tie.
  */
class FluPipelineSpec extends SparkSpec {

  import spark.implicits._

  // (order, Location, Week Start, Week End, Week, Season, RIC, Care, Demo, pct)
  private lazy val rawRhino: DataFrame = Seq(
    (1L, "Statewide", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Hospitalizations", "Overall", "9.9"),
    (2L, "Unassigned ACH Region", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Hospitalizations", "Overall", "9.9"),
    (3L, "Healthier Here", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Hospitalizations", "Overall", "5.0"),
    (4L, "Healthier Here", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Hospitalizations", "Age 0-4", "7.5"),
    (5L, "Healthier Here", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Emergency Visits", "Overall", "2.5"),
    (6L, "Greater Health Now", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Hospitalizations", "Overall", "2.0"),
    (7L, "Better Health Together", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Hospitalizations", "Overall", "4.0"),
    (8L, "Healthier Here", "2024-12-29", "2025-01-04", 53, "2024-25", "COVID-19", "Emergency Visits", "Overall", "N/A"))
    .toDF("_ord", "Location", "Week Start", "Week End", "Week", "Season",
      "Respiratory Illness Category", "Care Type", "Demographic Category", "1-Week Percent ")

  private lazy val census: DataFrame = Seq(
    ("Adams", 10.5), ("Ferry", 3.2), ("King", 1000.0),
    ("Pend Oreille", 5.5), ("Spokane", 120.0), ("Stevens", 8.8))
    .toDF("County Name", "Population Density 2020")

  private lazy val fluview: DataFrame = Seq(
    (202301, 1.5), (202302, 3.0), (202303, 3.0), (202401, 2.5), (202553, 1.0))
    .toDF("epiweek", "wili")

  private lazy val tables: Map[String, DataFrame] =
    FluOps.buildAll(rawRhino, census, fluview, "_ord")

  test("county_region: dense id by name, multi-ACH string agg, Unassigned") {
    assertRowsEqual(rows(tables("county_region").orderBy("county_id")), Seq(
      Seq(1, "Adams", "Unassigned", 10.5),
      Seq(2, "Ferry", "Better Health Together", 3.2),
      Seq(3, "King", "Healthier Here", 1000.0),
      Seq(4, "Pend Oreille", "Better Health Together", 5.5),
      Seq(5, "Spokane", "Better Health Together, Greater Health Now", 120.0),
      Seq(6, "Stevens", "Better Health Together", 8.8)))
  }

  test("temporal: epiweek id incl. year-boundary quirk (week ending Jan 4 2025 → 202553)") {
    assertRowsEqual(rows(tables("temporal").orderBy("epiweek_id")
        .select(col("epiweek_id"), col("week_start").cast("string"),
          col("week_end").cast("string"), col("season"))), Seq(
      Seq(202401, "2023-12-31", "2024-01-06", "2023-24"),
      Seq(202553, "2024-12-29", "2025-01-04", "2024-25")))
  }

  test("illness: explode fan-out, keep-first dedup, state join, deviation") {
    assertRowsEqual(rows(tables("illness")
        .orderBy("epiweek_id", "county_id", "respiratory_illness_type", "care_type")), Seq(
      Seq(202401, 2, "Flu", "Hospitalizations", 4.0, 2.5, 1.5),
      Seq(202401, 3, "Flu", "Emergency Visits", 2.5, 2.5, 0.0),
      Seq(202401, 3, "Flu", "Hospitalizations", 5.0, 2.5, 2.5), // first-in-order wins over 7.5
      Seq(202401, 4, "Flu", "Hospitalizations", 4.0, 2.5, 1.5),
      Seq(202401, 5, "Flu", "Hospitalizations", 2.0, 2.5, -0.5), // row 6 wins over row 7's Spokane
      Seq(202401, 6, "Flu", "Hospitalizations", 4.0, 2.5, 1.5),
      Seq(202553, 3, "COVID-19", "Emergency Visits", null, 1.0, null)))
  }

  test("healthcare: distinct-tuple mean, first-non-null pivot, ratio, fill-0") {
    assertRowsEqual(rows(tables("healthcare").orderBy("county_id")), Seq(
      Seq(1, 10.5, 0.0, 0.0, 0.0),               // no rhino data at all
      Seq(2, 3.2, 4.0, 0.0, 0.0),                // no ER data → ratio null → 0
      Seq(3, 1000.0, 6.25, 2.5, 2.5),            // mean(5.0,7.5); 6.25/2.5
      Seq(4, 5.5, 4.0, 0.0, 0.0),
      Seq(5, 120.0, 3.0, 0.0, 0.0),              // mean over distinct (2.0,4.0)
      Seq(6, 8.8, 4.0, 0.0, 0.0)))
  }

  test("historics: per-year peak/argmax(min-tie-break)/mean") {
    assertRowsEqual(rows(tables("historics").orderBy("year")), Seq(
      Seq(2023, 2020, 202302, 3.0, 2.5, 0.5),    // tie at 3.0 → smaller epiweek
      Seq(2024, 2020, 202401, 2.5, 2.5, 0.0),
      Seq(2025, 2020, 202553, 1.0, 1.0, 0.0)))
  }

  test("constraint suite: PKs, FKs hold on the fixture build") {
    val violations = FluOps.constraintViolations(tables)
    assert(violations.values.forall(_ == 0L), s"violations: $violations")
  }

  test("constraint suite: planted PK duplicates and FK orphans are counted exactly") {
    val planted = rawRhino.union(Seq(
      // Week 52 ending Jan 1 2022 takes 2022's year: id 202252, the same
      // as the real week 52 of 2022 → two temporal rows, one key
      (9L, "Healthier Here", "2021-12-26", "2022-01-01", 52, "2021-22", "Flu", "Hospitalizations", "Overall", "3.0"),
      (10L, "Healthier Here", "2022-12-25", "2022-12-31", 52, "2022-23", "Flu", "Hospitalizations", "Overall", "4.0"),
      // Yakima and Kittitas are not in the census → illness rows with no
      // county_region row (two care types → two orphan rows)
      (11L, "Elevate Health", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Hospitalizations", "Overall", "1.0"),
      (12L, "Elevate Health", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Emergency Visits", "Overall", "1.0"))
      .toDF(rawRhino.columns.toSeq: _*))
    val built = FluOps.buildAll(planted, census, fluview, "_ord")
    val cr = built("county_region")
    val withDupId = built + ("county_region" -> cr.union(cr.filter(col("county_id") === 3)))
    assert(FluOps.constraintViolations(withDupId) == Map(
      "county_region.pk" -> 1L, "temporal.pk" -> 1L, "illness.pk" -> 0L,
      "healthcare.pk" -> 0L, "historics.pk" -> 0L, "illness.fk_county" -> 2L))
  }

  test("buildAll computes the batch once: materialized tables, writes and checks never re-read the feed") {
    val evaluated = spark.sparkContext.longAccumulator("rhino rows evaluated")
    val probe = udf { () => evaluated.add(1L); true }.asNondeterministic()
    val built = FluOps.buildAll(rawRhino.withColumn("_probe", probe()), census, fluview, "_ord")
    assert(evaluated.value == rawRhino.count(), "the feed is evaluated exactly once per batch")
    built.foreach { case (t, df) =>
      assert(df.queryExecution.analyzed.isInstanceOf[LogicalRDD], s"$t is not materialized")
    }
    val dir = Files.createTempDirectory("flu-tables")
    try {
      built.foreach { case (t, df) => df.write.parquet(s"$dir/$t") }
      assert(FluOps.constraintViolations(built).values.forall(_ == 0L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    assert(evaluated.value == rawRhino.count(), "writes or checks re-read the feed")
  }

  test("buildAll equals the explode-first composition of the builders for all five tables") {
    val rnd = new scala.util.Random(11)
    // (Week Start, Week End, Week, Season)
    val weeks = Seq(
      ("2022-12-25", "2022-12-31", 52, "2022-23"),
      ("2023-01-01", "2023-01-07", 1, "2022-23"))
    val locations = FluOps.achToCounties.map(_._1) ++
      Seq("Statewide", "Unassigned ACH Region", "Mystery ACH") // the last one is unmapped
    val grid = for {
      loc <- locations; (ws, we, wk, season) <- weeks
      ill <- Seq("Flu", "COVID-19"); care <- Seq("Hospitalizations", "Emergency Visits")
      demo <- Seq("Overall", "Age 0-4", "Age 5-17")
    } yield (loc, ws, we, wk, season, ill, care, demo, Seq("1.5", "2.0", "3.25", "", "N/A")(rnd.nextInt(5)))
    // several demographic rows per key, in shuffled arrival order
    val shuffled = grid.zip(rnd.shuffle(grid.indices.toList)).map {
      case ((loc, ws, we, wk, season, ill, care, demo, pct), ord) =>
        (ord.toLong, loc, ws, we, wk, season, ill, care, demo, pct)
    }
    // week 52 ending Jan 1 2022 takes 2022's year, so it shares id 202252
    // with the real week 52; its one row arrives last, so it is never
    // the first row of its (Location, epiweek_id, illness, care) group
    val collision = (grid.size.toLong, "Healthier Here", "2021-12-26", "2022-01-01", 52, "2021-22",
      "Flu", "Hospitalizations", "Overall", "7.0")
    val raw = (shuffled :+ collision).toDF(rawRhino.columns.toSeq: _*)
    // Yakima and Kittitas (Elevate Health) are missing: their rows and
    // the unmapped Location's all get a null county_id
    val census = FluOps.waCounties.filterNot(Set("Yakima", "Kittitas"))
      .zipWithIndex.map { case (c, i) => (c, 10.0 + i) }.toDF("County Name", "Population Density 2020")
    val fluview = Seq((202201, 1.0), (202252, 2.0), (202301, 3.0)).toDF("epiweek", "wili")

    // Spokane is reported by both its ACHs, the later ACH's row first
    val spokaneFirsts = raw.filter(col("Location").isin("Better Health Together", "Greater Health Now"))
      .groupBy("Week Start", "Respiratory Illness Category", "Care Type")
      .agg(min_by(col("Location"), col("_ord")).as("first"))
    assert(spokaneFirsts.filter(col("first") === "Greater Health Now").count() > 0)

    val exploded = FluOps.withEpiweekId(FluOps.explodeRhino(raw))
    val countyRegion = FluOps.buildCountyRegion(census, exploded)
    val explodeFirst = Map(
      "county_region" -> countyRegion,
      "temporal" -> FluOps.buildTemporal(exploded),
      "illness" -> FluOps.buildIllness(exploded, countyRegion, fluview, "_ord"),
      "healthcare" -> FluOps.buildHealthcare(countyRegion, exploded),
      "historics" -> FluOps.buildHistorics(fluview))
    val built = FluOps.buildAll(raw, census, fluview, "_ord")
    assert(built("illness").filter(col("county_id").isNull).count() > 0)
    assert(built("illness").count() < exploded.count())
    explodeFirst.foreach { case (t, expected) =>
      val cols = expected.columns.toSeq.map(col)
      assertRowsEqual(rows(built(t).sort(cols: _*)), rows(expected.sort(cols: _*)),
        tol = if (t == "healthcare") 1e-12 else 0.0)
    }
  }

  test("buildAll leaves only the five returned tables cached") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val built = FluOps.buildAll(rawRhino, census, fluview, "_ord")
    val tableRdds = built.values.flatMap(_.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }).toSet
    assert(tableRdds.size == 5)
    assert(sc.getPersistentRDDs.keySet -- before == tableRdds)
  }
}
