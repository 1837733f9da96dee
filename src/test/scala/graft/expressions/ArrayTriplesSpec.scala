package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The compiled `graft_triples` kernel must enumerate exactly the
  * index-ordered 3-combinations the nested HOF chain it replaced
  * (q278's former generator) produced — same structs, same order.
  */
class ArrayTriplesSpec extends SparkSpec {

  // q278's former generator, verbatim
  private val hof = """flatten(transform(sequence(1, size(ids) - 2), i ->
     flatten(transform(sequence(i + 1, size(ids) - 1), j ->
       transform(slice(ids, j + 1, size(ids)), c ->
         struct(element_at(ids, i) AS a, element_at(ids, j) AS b,
                c AS c))))))"""

  test("kernel == HOF chain on seeded baskets of every small size") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (3 to 24).flatMap { n =>
      (0 until 8).map(_ => (0 until n).map(_ => s"b${rnd.nextInt(40)}").sorted)
    }
    val mismatches = rows.toDF("ids")
      .select(expr(hof).as("a"),
        call_function("graft_triples", col("ids")).as("b"))
      .filter(expr("a != b"))
      .count()
    assert(mismatches == 0L)
  }

  test("shape: C(n,3) ordered triples; under-3 arrays yield nothing") {
    import spark.implicits._
    val out = Seq(Seq("p", "q", "r", "s")).toDF("ids")
      .select(explode(call_function("graft_triples", col("ids"))).as("t"))
      .select("t.a", "t.b", "t.c")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq(("p", "q", "r"), ("p", "q", "s"),
      ("p", "r", "s"), ("q", "r", "s")))
    for (short <- Seq(Seq.empty[String], Seq("x"), Seq("x", "y"))) {
      val n = Seq(short).toDF("ids").select(explode_outer(
        call_function("graft_triples", col("ids"))).as("t"))
        .filter(col("t").isNotNull).count()
      assert(n == 0L, s"$short must generate no triples")
    }
  }

  test("degenerate giant basket fails LOUDLY, never as an allocation") {
    import spark.implicits._
    val big = Seq((0 until ArrayTriplesKernel.MaxElems + 1).map(i => s"t$i"))
    val e = intercept[Exception] {
      big.toDF("ids")
        .select(explode(call_function("graft_triples", col("ids"))))
        .count()
    }
    // the named guard, surfaced through Spark's wrapping
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("graft_triples")), e.toString)
  }
}
