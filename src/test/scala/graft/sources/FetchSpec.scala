package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.flu.{FluFeeds, FluOps}

/** Ingestion-shim gate: the snapshot-backed fetch path must produce
  * byte-identical star-schema tables to the in-memory fixture build
  * that FluPipelineSpec pins against hand-computed expectations. The
  * snapshots under src/test/resources/feeds mirror the reference's
  * three live feeds (RHINO CSV, census CSV, FluView epidata JSON) with
  * the raw-feed quirks included: a trailing-space header column, extra
  * feed columns the pipeline must ignore, an envelope success flag.
  */
class FetchSpec extends SparkSpec {

  import spark.implicits._

  private def snapshot(name: String): String =
    new String(Files.readAllBytes(Paths.get(s"src/test/resources/feeds/$name")),
      StandardCharsets.UTF_8)

  private lazy val transport: Fetch.Transport = Fetch.snapshots(Map(
    FluFeeds.rhinoUrl -> snapshot("rhino.csv"),
    FluFeeds.censusUrl -> snapshot("census.csv"),
    Fetch.withQuery(FluFeeds.fluviewUrl, FluFeeds.fluviewParams) -> snapshot("fluview.json")))

  // the FluPipelineSpec fixture, feed-shaped (same rows as the snapshots)
  private lazy val fixtureRhino: DataFrame = Seq(
    (0L, "Statewide", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Hospitalizations", "Overall", "9.9"),
    (1L, "Unassigned ACH Region", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Hospitalizations", "Overall", "9.9"),
    (2L, "Healthier Here", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Hospitalizations", "Overall", "5.0"),
    (3L, "Healthier Here", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Hospitalizations", "Age 0-4", "7.5"),
    (4L, "Healthier Here", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Emergency Visits", "Overall", "2.5"),
    (5L, "Greater Health Now", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Hospitalizations", "Overall", "2.0"),
    (6L, "Better Health Together", "2023-12-31", "2024-01-06", 1, "2023-24", "Flu", "Hospitalizations", "Overall", "4.0"),
    (7L, "Healthier Here", "2024-12-29", "2025-01-04", 53, "2024-25", "COVID-19", "Emergency Visits", "Overall", "N/A"))
    .toDF("_ord", "Location", "Week Start", "Week End", "Week", "Season",
      "Respiratory Illness Category", "Care Type", "Demographic Category", "1-Week Percent ")

  private lazy val fixtureCensus: DataFrame = Seq(
    ("Adams", 10.5), ("Ferry", 3.2), ("King", 1000.0),
    ("Pend Oreille", 5.5), ("Spokane", 120.0), ("Stevens", 8.8))
    .toDF("County Name", "Population Density 2020")

  private lazy val fixtureFluview: DataFrame = Seq(
    (202301, 1.5), (202302, 3.0), (202303, 3.0), (202401, 2.5), (202553, 1.0))
    .toDF("epiweek", "wili")

  test("csvFeed: verbatim header names (trailing space), pinned types, arrival order") {
    val rhino = FluFeeds.rhino(spark, transport)
    assert(rhino.columns.contains("1-Week Percent "))
    assert(rhino.schema("Week").dataType.typeName == "integer")
    val ords = rhino.orderBy("_ord").select("_ord", "Location").collect()
    assert(ords.map(_.getString(1)).take(3).toSeq ==
      Seq("Statewide", "Unassigned ACH Region", "Healthier Here"))
    assert(ords.map(_.getLong(0)).toSeq == ords.map(_.getLong(0)).toSeq.sorted)
  }

  private def kvFeed(body: String): DataFrame = Fetch.csvFeed(spark, "u",
    StructType(Seq(StructField("k", IntegerType), StructField("v", StringType))),
    Fetch.snapshots(Map("u" -> body)), Some("_ord"))

  test("csvFeed: the body stays out of the plan; _ord follows line order across partitions") {
    val body = ("k,v" +: (1 to 1000).map(i => s"$i,v$i")).mkString("\n")
    val feed = kvFeed(body)
    def localRelations(plan: LogicalPlan) = plan.collect { case l: LocalRelation => l }
    assert(localRelations(Sources.lines(spark, body.linesIterator.toSeq).queryExecution.analyzed).isEmpty)
    assert(localRelations(feed.queryExecution.analyzed).isEmpty)
    assert(feed.rdd.getNumPartitions > 1)
    val got = feed.collect()
    assert(got.map(_.getInt(0)).toSeq == (1 to 1000))
    val ords = got.map(_.getLong(2))
    assert(ords.zip(ords.tail).forall { case (a, b) => a < b })
  }

  test("csvFeed: blank lines and a trailing newline add no rows") {
    def parse(body: String) = rows(kvFeed(body).select("k", "v"))
    assert(parse("k,v\n1,a\n\n2,\n3,c\n") == Seq(Seq(1, "a"), Seq(2, null), Seq(3, "c")))
    assert(parse("k,v\n1,a\n2,\n3,c") == parse("k,v\n1,a\n\n2,\n3,c\n"))
  }

  test("csvFeed: extra / reordered feed columns are ignored by name-based selection") {
    val census = FluFeeds.census(spark, transport)
    assert(census.columns.toSeq == Seq("County Name", "Population Density 2020"))
    assertRowsEqual(rows(census.orderBy("County Name")),
      rows(fixtureCensus.orderBy("County Name")))
  }

  test("epidataRecords: result==1 envelope parses; extra record fields ignored") {
    val fv = FluFeeds.fluview(spark, transport)
    assertRowsEqual(rows(fv.orderBy("epiweek")), rows(fixtureFluview.orderBy("epiweek")))
  }

  test("epidataRecords: non-success envelope throws with the API message") {
    val bad = Fetch.snapshots(Map(
      Fetch.withQuery(FluFeeds.fluviewUrl, FluFeeds.fluviewParams) ->
        """{"result": 2, "message": "no results", "epidata": []}"""))
    val e = intercept[IllegalStateException] {
      FluFeeds.fluview(spark, bad)
    }
    assert(e.getMessage.contains("result=2") && e.getMessage.contains("no results"))
  }

  test("buildFromFeeds returns every table materialized as a single LogicalRDD leaf") {
    FluFeeds.buildFromFeeds(spark, transport).foreach { case (t, df) =>
      assert(df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
        s"$t is still a lazy plan:\n${df.queryExecution.analyzed}")
    }
  }

  test("buildFromFeeds equals the in-memory fixture build for all five tables") {
    val fromFeeds = FluFeeds.buildFromFeeds(spark, transport)
    val fromFixture = FluOps.buildAll(fixtureRhino, fixtureCensus, fixtureFluview, "_ord")
    for (name <- Seq("county_region", "temporal", "illness", "healthcare", "historics")) {
      val cols = fromFixture(name).columns.map(org.apache.spark.sql.functions.col).toSeq
      assertRowsEqual(
        rows(fromFeeds(name).sort(cols: _*)),
        rows(fromFixture(name).sort(cols: _*)))
    }
  }

  test("withQuery encodes parameters") {
    assert(Fetch.withQuery("http://x/api", Seq("a" -> "b c", "d" -> "1-2")) ==
      "http://x/api?a=b+c&d=1-2")
    assert(Fetch.withQuery("http://x/api?k=1", Seq("a" -> "b")) == "http://x/api?k=1&a=b")
  }

  test("snapshots transport rejects unpinned urls") {
    intercept[IllegalArgumentException] {
      Fetch.snapshots(Map.empty)("http://nope")
    }
  }
}
