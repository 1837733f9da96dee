package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Relational._

class RelationalSpec extends SparkSpec {

  import spark.implicits._

  test("dedupKeepFirst keeps the row first in the declared order") {
    val df = Seq((1, 10, "b"), (1, 5, "a"), (2, 7, "c"), (2, 7, "c2"))
      .toDF("k", "ord", "v")
    val out = dedupKeepFirst(df, Seq("k"), Seq(col("ord").asc, col("v").asc))
      .orderBy("k")
    assertRowsEqual(rows(out), Seq(Seq(1, 5, "a"), Seq(2, 7, "c")))
  }

  test("stringSetAgg: sorted distinct comma-join, nulls dropped; blankTo sentinel") {
    val df = Seq((1, "b"), (1, "a"), (1, "b"), (2, null))
      .toDF("k", "v")
    val out = df.groupBy("k")
      .agg(blankTo(stringSetAgg(col("v")), "Unassigned").as("s"))
      .orderBy("k")
    assertRowsEqual(rows(out), Seq(Seq(1, "a, b"), Seq(2, "Unassigned")))
  }

  test("firstNonNullBy picks the first non-null under the order") {
    val df = Seq((1, 1, null: String), (1, 2, "x"), (1, 3, "y"), (2, 1, null: String))
      .toDF("k", "ord", "v")
    val out = df.groupBy("k")
      .agg(firstNonNullBy(col("v"), col("ord")).as("first_v")).orderBy("k")
    assertRowsEqual(rows(out), Seq(Seq(1, "x"), Seq(2, null)))
  }

  test("topK compiles to TakeOrderedAndProject (no global sort)") {
    val df = spark.range(1000).toDF("id")
    val plan = topK(df, 5, col("id").desc).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("denseIdBy assigns 1..n by sort order") {
    val df = Seq("c", "a", "b").toDF("v")
    assertRowsEqual(rows(denseIdBy(df, "id", col("v").asc).orderBy("id")),
      Seq(Seq("a", 1), Seq("b", 2), Seq("c", 3)))
  }

  test("zipWithIndexOrdered assigns contiguous ids without a single-partition window") {
    val df = spark.range(100).toDF("v").repartition(8)
    val out = zipWithIndexOrdered(df, "id", col("v").desc)
    val collected = out.orderBy("id").collect()
    assert(collected.head.getLong(0) == 99L && collected.head.getLong(1) == 1L)
    assert(collected.last.getLong(0) == 0L && collected.last.getLong(1) == 100L)
  }

  test("profile: one row per column; HLL default close to exact, exact is exact") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, (i % 7).toDouble, if (i % 10 == 0) null else s"v${i % 50}"))
      .toDF("id", "d", "s")
    val exact = profile(df, Seq("id", "d", "s"), exact = true)
      .orderBy("col_name").collect()
    assert(exact.map(_.getString(0)).toSeq == Seq("d", "id", "s"))
    val dRow = exact(0)
    assert(dRow.getLong(1) == 1000L && dRow.getLong(2) == 1000L) // n_rows, n_nonnull
    assert(dRow.getLong(3) == 7L)                                // exact ndv
    assert(dRow.getDouble(4) == 0.0 && dRow.getDouble(5) == 6.0)
    val sRow = exact(2)
    assert(sRow.getLong(2) == 900L)  // nulls excluded from n_nonnull
    assert(sRow.getLong(3) == 45L)   // v1..v49 minus the null-ed %10 residues
    // default path: approximate NDV within HLL++ tolerance, no Expand node
    val approx = profile(df, Seq("id", "d", "s")).orderBy("col_name").collect()
    assert(math.abs(approx(1).getLong(3) - 1000L) < 50)
    val plan = profile(df, Seq("id", "d", "s")).queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
  }

  test("orderedPrefixSum equals the window route and is partition-invariant") {
    import spark.implicits._
    val rows = (1L to 300L).map(i => (i, (i * 7919) % 100 + 1)) // (id, value)
    val expected = rows.sortBy { case (id, v) => (-v, id) }
      .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (id, v)) => (id, v, cum + v) }
      .drop(1).map { case (id, v, cum) => (id, v, cum) }
    for (p <- Seq(1, 3, 17)) {
      val df = rows.toDF("id", "v").repartition(p)
      val got = Relational.orderedPrefixSum(df, "v", "cum",
        col("v").desc, col("id").asc)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      assert(got.toSeq == expected.sortBy(_._1), s"partitions=$p")
    }
    // empty input and a single row are well-defined
    assert(Relational.orderedPrefixSum(
      Seq.empty[(Long, Long)].toDF("id", "v"), "v", "cum", col("id")).count() == 0)
    val one = Relational.orderedPrefixSum(
      Seq((5L, 42L)).toDF("id", "v"), "v", "cum", col("id")).collect()
    assert(one.head.getLong(2) == 42L)
  }

  test("orderedPrefixSum rejects bad value columns loudly (review finding)") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("id", "v")
    // missing and mistyped columns fail at PLAN BUILD time with named
    // errors, not as an executor-side ClassCastException/NPE
    val miss = intercept[IllegalArgumentException] {
      Relational.orderedPrefixSum(df, "nope", "cum", col("id"))
    }
    assert(miss.getMessage.contains("not found"))
    val typed = intercept[IllegalArgumentException] {
      Relational.orderedPrefixSum(
        Seq((1L, 2)).toDF("id", "v"), "v", "cum", col("id"))
    }
    assert(typed.getMessage.contains("must be LONG"))
    // a NULL value fails with a NAMED message in the first pass
    val withNull = Seq((1L, Some(2L)), (2L, None)).toDF("id", "v")
    val err = intercept[Exception] {
      Relational.orderedPrefixSum(withNull, "v", "cum", col("id")).collect()
    }
    val messages = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).take(10).flatMap(t => Option(t.getMessage)).mkString("|")
    assert(messages.contains("coalesce explicitly"), messages.take(300))
  }
}
