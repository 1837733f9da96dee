package graft.expressions

import graft.SparkSpec

/** `graft_nfc` — Unicode TR-15 canonical composition, checked against
  * the implementation-independent facts of the standard: composition,
  * canonical REORDERING of combining marks (the part a naive
  * pairwise-compose fake gets wrong), idempotence, and the ASCII
  * no-op fast path. All literals are built from code points — composed
  * and decomposed forms render identically in an editor.
  */
class NfcSpec extends SparkSpec {

  private val acute = "\u0301" // COMBINING ACUTE ACCENT (ccc 230)
  private val dotBelow = "\u0323" // COMBINING DOT BELOW    (ccc 220)
  private val ring = "\u030A" // COMBINING RING ABOVE   (ccc 230)
  private val eAcute = "\u00E9" // LATIN SMALL E WITH ACUTE
  private val aRing = "\u00E5" // LATIN SMALL A WITH RING ABOVE
  private val eDotBelow = "\u1EB9" // LATIN SMALL E WITH DOT BELOW

  private def nfc(s: String): String = {
    import spark.implicits._
    Seq(s).toDF("t").selectExpr("graft_nfc(t) AS v").collect()(0).getString(0)
  }

  test("composes decomposed sequences to the canonical form") {
    assert(nfc("e" + acute) == eAcute)
    assert(nfc("a" + ring) == aRing)
    assert(nfc("cafe" + acute + " au lait") == "caf" + eAcute + " au lait")
  }

  test("canonically reorders combining marks before composing") {
    // acute typed BEFORE dot-below: TR-15 first reorders by combining
    // class (220 < 230), then composes e + dot-below -> U+1EB9,
    // leaving the acute. Pairwise composition in typed order would
    // wrongly yield U+00E9 + dot-below.
    val expected = eDotBelow + acute
    assert(nfc("e" + acute + dotBelow) == expected)
    assert(nfc("e" + dotBelow + acute) == expected)
  }

  test("is idempotent and a no-op on NFC-normal text") {
    assert(nfc(eAcute + eDotBelow + acute) == eAcute + eDotBelow + acute)
    assert(nfc("plain ascii stays") == "plain ascii stays")
    assert(nfc("") == "")
  }

  test("propagates null") {
    assert(spark.sql("SELECT graft_nfc(CAST(NULL AS STRING)) AS v")
      .collect()(0).isNullAt(0))
  }
}
