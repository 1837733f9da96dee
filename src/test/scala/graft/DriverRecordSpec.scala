package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The driver mains' shared pieces: the query selector Bench, Probe and
  * Verify use, the JSON escaper, and the shape of Bench's two records
  * (the one-line record the driver parses and `tools/freeze_baseline.py`
  * reads through the full record's `extras`).
  */
class DriverRecordSpec extends AnyFunSuite {

  private def parse(s: String): JsonNode = new ObjectMapper().readTree(s)
  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  test("a qNN selector picks that query alone, never a bare prefix") {
    val names = Seq("q3", "q3_filter", "q30_window", "q38_ngram", "q300_x", "q03_notin")
    assert(names.filter(SparkEntry.selects(Seq("q3"))) == Seq("q3", "q3_filter"))
    assert(names.filter(SparkEntry.selects(Seq("q38_ngram", "q03"))) ==
      Seq("q38_ngram", "q03_notin"))
    // on the registry: q38 is one query, not q380–q389 as well
    val picked = SparkEntry.allQueries.map(_.name).filter(SparkEntry.selects(Seq("q38")))
    assert(picked.map(SparkEntry.shortName) == Seq("q38"))
  }

  test("a selector entry that picks no query is an error naming it") {
    val e = intercept[IllegalArgumentException](SparkEntry.selector("q01,q1,q38"))
    assert(e.getMessage.endsWith(": q1"), e.getMessage)
    val picked = SparkEntry.allQueries.map(_.name).filter(SparkEntry.selector(" q01 ,q38"))
    assert(picked.map(SparkEntry.shortName) == Seq("q01", "q38"))
  }

  test("Json.string escapes quote, backslash and every control char") {
    val s = "a\"b\\c\nd\re\tf\u0001g"
    assert(Json.string(s) == "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\"")
    assert(parse(Json.string(s)).asText == s)
  }

  private val fp = Canary.Fingerprint(Map("orders" -> 15L, "lineitem" -> 60L), 2024, 2024)

  private def measured(ledger: Boolean) = {
    val flag = BaselineLedger.Ratio(3.0, 2.5)
    Bench.Measured("/data/sf0.1",
      Seq("q01_scan" -> 0.5, "q02_proj" -> -0.25, "q03_filter\tx" -> 1.0),
      Seq("q02_proj" -> "boom\nline two"), calib = 0.09, calibScan = 0.4,
      fp, Seq("orders" -> 1L, "lineitem" -> 2L), "/out/bench_out.json",
      vsBaseline = if (ledger) Seq("q01" -> flag, "q03" -> BaselineLedger.Ratio(1.0, 1.0)) else Nil,
      retry = if (ledger) Some(Bench.Retry(Seq("q01" -> flag),
        Map("q01" -> BaselineLedger.Ratio(2.2, 2.1)), 0.1, 0)) else None,
      verdict = if (ledger) Some(Bench.Verdict(Seq("q01" -> 2.1), 0, 1)) else None)
  }

  test("one-line record keeps its key order, with and without a ledger") {
    val plain = parse(Bench.line(measured(ledger = false)))
    assert(keys(plain) == Seq("metric", "value", "unit", "total_sec", "calib_sec",
      "calib_scan_sec", "total_norm_sec", "n_queries", "n_errors", "queries",
      "full_record", "sf"))
    assert(plain.get("total_sec").asDouble == 1.75)
    assert(plain.get("n_errors").asInt == 1)
    assert(keys(plain.get("queries")) == Seq("q03", "q01", "q02"))
    val withLedger = parse(Bench.line(measured(ledger = true)))
    assert(keys(withLedger) == Seq("metric", "value", "unit", "total_sec", "calib_sec",
      "calib_scan_sec", "total_norm_sec", "n_queries", "n_errors",
      "retry_calib_sec", "retry_load_void_n", "vs_baseline_raw", "vs_baseline_retry",
      "perf_weak_n", "perf_weak_retry_cleared_n", "baseline_missing_n", "perf_weak",
      "queries", "full_record", "sf"))
  }

  test("full record's extras holds exactly the two calibration canaries") {
    for (l <- Seq(false, true)) {
      val full = parse(Bench.fullRecord(measured(l)))
      assert(keys(full.get("extras")) == Seq("calib_sec", "calib_scan_sec"))
      assert(full.get("extras").get("calib_sec").asDouble == 0.09)
      assert(full.get("errors").get("q02").asText == "boom\nline two")
      assert(full.get("sf").asText == "/data/sf0.1")
    }
    assert(keys(parse(Bench.fullRecord(measured(ledger = true)))) == Seq("metric", "value",
      "unit", "queries", "errors", "extras", "vs_baseline", "retry_calib_sec",
      "retry_load_void_n", "vs_baseline_raw", "vs_baseline_retry", "perf_weak_n",
      "perf_weak_retry_cleared_n", "baseline_missing_n", "perf_weak", "data_fp", "sf"))
  }
}
