package graft.flu

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Usage demo / smoke main for the flu star-schema surface.
  *
  * Two modes:
  *   - `sbt "runMain graft.flu.FluDemo src/test/resources/golden"` —
  *     load the five pre-built tables from CSV and run the reports.
  *   - `sbt "runMain graft.flu.FluDemo --from-feeds src/test/resources/feeds"`
  *     — the cold-start path: raw feed snapshots (RHINO CSV, census
  *     CSV, FluView JSON) → ingestion shim → the five tables → the
  *     reports. Swap the snapshot transport for `Fetch.http()` to hit
  *     the reference's live endpoints (this container has no egress).
  *
  * Append `--serve [port]` (default 5000) to either mode to start the
  * live HTTP API + dashboard (FluApi) over the loaded tables instead
  * of printing the reports — browse `/viewer`, Ctrl-C to stop.
  */
object FluDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create(cores = 4)

    val (serveMode, port, rest) = args.toSeq.indexOf("--serve") match {
      case -1 => (false, 0, args.toSeq)
      case i =>
        val p = args.toSeq.drop(i + 1).headOption.flatMap(_.toIntOption).getOrElse(5000)
        (true, p, args.toSeq.take(i))
    }

    val tables = rest match {
      case Seq("--from-feeds", dir) =>
        def snap(name: String) = new String(
          Files.readAllBytes(Paths.get(s"$dir/$name")), StandardCharsets.UTF_8)
        val transport = graft.sources.Fetch.snapshots(Map(
          FluFeeds.rhinoUrl -> snap("rhino.csv"),
          FluFeeds.censusUrl -> snap("census.csv"),
          graft.sources.Fetch.withQuery(FluFeeds.fluviewUrl, FluFeeds.fluviewParams)
            -> snap("fluview.json")))
        FluFeeds.buildFromFeeds(spark, transport)
      case other =>
        val dir = other.headOption.getOrElse("src/test/resources/golden")
        def csv(name: String, schema: org.apache.spark.sql.types.StructType) =
          spark.read.option("header", "true").schema(schema).csv(s"$dir/$name.csv")
        Map(
          "county_region" -> csv("county_region", FluSchemas.countyRegion),
          "temporal" -> csv("temporal", FluSchemas.temporal),
          "illness" -> csv("illness", FluSchemas.illness),
          "healthcare" -> csv("healthcare", FluSchemas.healthcare),
          "historics" -> csv("historic_flu", FluSchemas.historics))
    }

    FluReports.registerViews(tables)
    if (serveMode) {
      val server = FluApi.start(spark, port)
      println(s"serving http://localhost:${server.getAddress.getPort}/viewer (Ctrl-C to stop)")
      Thread.currentThread.join() // worker pool is daemon; hold the JVM open
      return
    }
    FluApi.reports.foreach { case (name, (_, query, _)) =>
      println(s"== $name ==")
      query(spark).show(20, truncate = false)
    }
    println(s"== export illness rows: ${FluReports.exportTable(spark, "illness").count()}")
    spark.stop()
  }
}
