package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** MultiMatch/AcAutomaton contract: one-pass counts must equal an
  * independent per-phrase leftmost non-overlapping literal scan —
  * including the suffix-output cases (phrase inside phrase) and
  * overlap cases the fail links exist for.
  */
class MultiMatchSpec extends SparkSpec {
  import spark.implicits._

  /** Reference: independent leftmost non-overlapping scan per phrase. */
  private def ref(text: String, phrases: Seq[String]): Seq[Int] =
    phrases.map { p =>
      var c = 0
      var i = text.indexOf(p)
      while (i >= 0) { c += 1; i = text.indexOf(p, i + p.length) }
      c
    }

  private def run(text: String, phrases: Seq[String]): Seq[Int] = {
    val arr = s"array(${phrases.map(p => s"'$p'").mkString(",")})"
    Seq(text).toDF("t")
      .select(expr(s"graft_multi_match(t, $arr)").as("c"))
      .collect()(0).getSeq[Int](0)
  }

  private def check(text: String, phrases: Seq[String]): Unit =
    assert(run(text, phrases) == ref(text, phrases), s"text=$text phrases=$phrases")

  test("phrase that is a suffix of another fires at the same end (output links)") {
    check("a fast table and a table", Seq("table", "fast table"))
    check("fast table", Seq("table", "fast table", "st ta"))
  }

  test("overlapping matches across distinct phrases all count") {
    check("scan slow fast table", Seq("scan slow", "slow fast", "fast table"))
  }

  test("non-overlapping-per-phrase semantics on repeated text") {
    check("aaaa", Seq("aa"))        // 2, not 3
    check("abababa", Seq("aba"))    // 2, not 3
    check("aaaa aaaa", Seq("aa", "aaa"))
  }

  test("phrases sharing prefixes exercise fail links") {
    check("she sells seashells by the seashore",
      Seq("she", "sea", "seash", "hells", "sells", "he"))
  }

  test("no matches and empty text") {
    check("nothing here", Seq("zzz", "qq"))
    check("", Seq("a", "bb"))
  }

  test("utf-8 multi-byte phrases count correctly") {
    check("café and cafés at the café",
      Seq("café", "cafés"))
  }

  test("randomized agreement with the reference scan") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abc "
    val phrases = Seq("ab", "abc", "ca b", "bb", "c a", "a")
    val texts = (1 to 200).map(_ =>
      (1 to 40).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val arr = s"array(${phrases.map(p => s"'$p'").mkString(",")})"
    val got = texts.toDF("t")
      .select(col("t"), expr(s"graft_multi_match(t, $arr)").as("c"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Int](1) == ref(r.getString(0), phrases),
        s"text=${r.getString(0)}")
    }
  }
}
