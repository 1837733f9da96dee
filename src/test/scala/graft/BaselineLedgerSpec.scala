package graft

import org.scalatest.funsuite.AnyFunSuite

/** The frozen per-query baseline ledger (r11 verdict item 2): every
  * registered query must have a first-green baseline entry, so a query
  * cannot land without freezing the number Bench's perf_weak stamp
  * compares against. Runs from the repo root (sbt's working dir), the
  * same place Bench reads the ledger.
  */
class BaselineLedgerSpec extends AnyFunSuite {

  test("ledger exists, is well-formed, and covers every registered query") {
    val ledger = BaselineLedger.load()
    assert(ledger.isDefined, s"${BaselineLedger.Path} missing - run Bench at the " +
      "driver SF and tools/freeze_baseline.py")
    val l = ledger.get
    assert(l.calibRef == 0.090, "calib_ref must stay the BASELINE.md quiet reference")
    assert(l.sf == "sf0.1", "ledger is frozen at the driver's bench scale factor")
    assert(l.queries.nonEmpty && l.queries.values.forall(_ > 0),
      "baselines must be positive seconds")
    val registered = SparkEntry.queries.keys.map(SparkEntry.shortName).toSet
    val missing = registered -- l.queries.keySet
    assert(missing.isEmpty,
      s"queries without a frozen baseline (run freeze_baseline.py): ${missing.toSeq.sorted.mkString(",")}")
    // short names are the ledger key space: they must stay unique
    assert(registered.size == SparkEntry.queries.size,
      "qNN short-name collision - two queries share a prefix")
  }

  // ------------------------------------------------------- retry pass
  // r12 verdict item 1 + r13 item 2: the canonical record self-heals —
  // a first-pass flag must be weak on BOTH axes (calib-normalized AND
  // raw) and CONFIRMED by a post-sweep retry to stay perf_weak.

  import BaselineLedger.Ratio

  test("adjudicate: a retry under the bound clears a first-pass flag") {
    val out = BaselineLedger.adjudicate(
      Seq("q01" -> Ratio(5.0, 5.0), "q02" -> Ratio(1.1, 1.1)),
      Map("q01" -> Ratio(1.2, 1.2)))
    assert(out.isEmpty, "transient (5.0x then 1.2x) must clear in-record")
  }

  test("adjudicate: the RAW axis alone clears a fast-calib flag, no retry needed") {
    // the r13 driver record's seven 2.0-2.3x flags: normalized ratios
    // inflated 1.23x by a fast start-of-run calibration while the raw
    // ratios sat at 1.6-1.9x — not a regression on any axis pair
    val out = BaselineLedger.adjudicate(Seq("q32" -> Ratio(2.3, 1.9)), Map.empty)
    assert(out.isEmpty, "raw under the bound = fast calibration, not a regression")
    // and the mirror: raw high (loaded host) with normalized in-bound
    assert(BaselineLedger.adjudicate(Seq("q32" -> Ratio(1.4, 3.0)), Map.empty).isEmpty,
      "norm under the bound = external load the calibration corrected for")
  }

  test("adjudicate: a retry weak on both axes confirms at the smallest estimate") {
    val out = BaselineLedger.adjudicate(
      Seq("q01" -> Ratio(5.0, 4.5)), Map("q01" -> Ratio(3.0, 3.5)))
    assert(out == Seq("q01" -> 3.0),
      "twice-confirmed regression stays flagged at the min over passes and axes")
    val out2 = BaselineLedger.adjudicate(
      Seq("q01" -> Ratio(2.5, 2.6)), Map("q01" -> Ratio(6.0, 7.0)))
    assert(out2 == Seq("q01" -> 2.5))
  }

  test("adjudicate: a retry weak on only ONE axis clears the flag") {
    val out = BaselineLedger.adjudicate(
      Seq("q01" -> Ratio(4.0, 4.0)), Map("q01" -> Ratio(2.5, 1.2)))
    assert(out.isEmpty,
      "retry raw in-bound: the retry's normalized excess is its calibration, not the query")
  }

  test("adjudicate: a flagged query with NO retry evidence stays flagged") {
    val out = BaselineLedger.adjudicate(Seq("q01" -> Ratio(4.0, 4.2)), Map.empty)
    assert(out == Seq("q01" -> 4.0),
      "missing retry evidence (retry errored) must never clear a flag")
  }

  test("retryFields: every first-pass flag appears in the record, errored retries as null") {
    val flagged = Seq("q07" -> Ratio(3.1, 3.0), "q99" -> Ratio(2.4, 2.2),
      "q13" -> Ratio(8.0, 7.5))
    val fields = BaselineLedger.retryFields(flagged,
      Map("q07" -> Ratio(1.1, 1.0), "q13" -> Ratio(2.5, 2.4)))
    assert(fields.map(_._1) == Seq("q07", "q99", "q13"),
      "EVERY flagged query must carry a retry field — the record is self-auditing")
    assert(fields.toMap == Map("q07" -> Some(1.1), "q99" -> None, "q13" -> Some(2.5)),
      "a missing retry (errored) surfaces as null, never silently dropped")
  }

  test("adjudicate: queries under the bound never appear, retry or not") {
    val out = BaselineLedger.adjudicate(
      Seq("q01" -> Ratio(1.9, 1.9), "q02" -> Ratio(0.5, 0.5)),
      Map("q01" -> Ratio(9.9, 9.9)))
    assert(out.isEmpty,
      "the retry pass only re-examines first-pass flags; it cannot create one")
  }

  test("loadVoid: a retry calibration above 1.5x the quiet floor voids the pass") {
    // the r13 driver retry: calib 0.146 on a 0.080 floor — that pass
    // was load-void and must trigger the cool-down re-run
    assert(BaselineLedger.loadVoid(0.146, 0.080))
    assert(!BaselineLedger.loadVoid(0.110, 0.080),
      "a mildly-warm calibration is still evidence")
  }
}
