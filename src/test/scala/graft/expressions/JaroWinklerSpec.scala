package graft.expressions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** Pins JaroWinklerKernel to the oracle engine's exact semantics —
  * every expected value below was read DIRECTLY from DuckDB's
  * `jaro_winkler_similarity` (bit-level, not rounded), so a drift in
  * any convention (byte semantics, floored transpositions, boost
  * threshold, empty-string rule) fails here before it fails the gate.
  */
class JaroWinklerSpec extends SparkSpec {

  private def jw(a: String, b: String): Double =
    JaroWinklerKernel.jw(UTF8String.fromString(a), UTF8String.fromString(b))

  test("classic pairs match the oracle engine bit-for-bit") {
    assert(jw("MARTHA", "MARHTA") == 0.9611111111111111)
    assert(jw("DIXON", "DICKSONX") == 0.8133333333333332)
    assert(jw("JELLYFISH", "SMELLYFISH") == 0.8962962962962964)
    assert(jw("CRATE", "TRACE") == 0.7333333333333334)
    assert(jw("DwAyNE", "DuANE") == 0.8400000000000001)
    assert(jw("arnab", "aranb") == 0.9466666666666665)
    assert(jw("aaaaaaaaaa", "aaaaaaaaab") == 0.96)
  }

  test("floored transpositions (the convention classic half-counts miss)") {
    // classic t=2.5 gives 0.79213...; the oracle's floor(5/2)=2 gives this:
    assert(jw("chocolate", "ghocolaete") == 0.812962962962963)
  }

  test("UTF-8 byte semantics, not code points") {
    // 'é' is two bytes: lengths 6 vs 5, matches 4 → 0.84 (char-based
    // comparison would give 0.88)
    assert(jw("héllo", "hello") == 0.8400000000000001)
    assert(jw("日本語", "日本誤") == 0.9555555555555556)
  }

  test("empty/degenerate rules") {
    assert(jw("", "") == 0.0)
    assert(jw("abc", "") == 0.0)
    assert(jw("a", "b") == 0.0)
    assert(jw("ab", "ba") == 0.0) // window 0: no positional matches
    assert(jw("x", "x") == 1.0)
    assert(jw("abc", "abc") == 1.0)
  }

  test("expression evaluates identically through codegen and interpreted paths") {
    import spark.implicits._
    // parquet round-trip so ConvertToLocalRelation can't constant-fold
    // the expression at plan time — the collect below must go through
    // the generated code
    val tmp = java.nio.file.Files.createTempDirectory("jwspec").toString
    Seq((1, "MARTHA", "MARHTA"), (2, "chocolate", "ghocolaete"),
      (3, "héllo", "hello"), (4, "", ""), (5, "same", "same"))
      .toDF("id", "a", "b").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp).orderBy("id")
      .select(call_function("graft_jaro_winkler", col("a"), col("b")).as("jw"))
    val got = df.collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(0.9611111111111111, 0.812962962962963,
      0.8400000000000001, 0.0, 1.0))
    // and the projection stays inside WholeStageCodegen (the `*(n)`
    // prefix in the rendered plan) — the kernel call is a static
    // method, not an interpreted fallback
    val plan = df.queryExecution.executedPlan.toString
    assert(raw"\*\(\d+\) Project \[graft_jaro_winkler".r.findFirstIn(plan).isDefined, plan)
  }

  test("symmetry and range on random-ish inputs") {
    val pairs = Seq("alpha beta", "alpa beta", "beta alpha", "gamma",
      "alphabeta", "alpha  beta", "ALPHA BETA")
    for (x <- pairs; y <- pairs) {
      val v = jw(x, y)
      assert(v >= 0.0 && v <= 1.0)
      assert(v == jw(y, x), s"asymmetric on ($x, $y)")
    }
  }
}
