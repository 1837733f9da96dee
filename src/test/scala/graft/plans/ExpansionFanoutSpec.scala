package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge

import graft.SparkSpec
import graft.operators.Dedup

/** The planner rule that pins CPU-dense kernel stages: where it adds
  * its AQE-exempt exchange (over a coalescible shuffle), where it must
  * not (leaves, explicit repartitions, a second optimizer pass), and
  * the Dedup member-pair expansion rewritten onto the kernels it
  * recognizes.
  */
class ExpansionFanoutSpec extends SparkSpec {

  import spark.implicits._

  private def fanCount = math.max(spark.sparkContext.defaultParallelism,
    spark.conf.get("spark.sql.shuffle.partitions").toInt)

  /** Partition counts of the REPARTITION_BY_NUM exchanges in the
    * physical plan AQE starts from.
    */
  private def pinned(df: DataFrame): Seq[Int] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    plan.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
        e.outputPartitioning.numPartitions
    }
  }

  private def baskets = Seq.tabulate(60)(i => (i % 7L, i.toLong)).toDF("o", "p")
    .groupBy("o").agg(sort_array(collect_list(col("p"))).as("ids"))

  private def expand(df: DataFrame) =
    df.select(explode(call_function("graft_pairs_long", col("ids"))).as("q"))
      .select(col("q.a"), col("q.b"))

  test("a kernel Generate over a groupBy gains exactly one pinned exchange") {
    val df = expand(baskets)
    assert(pinned(df) == Seq(fanCount))
    assert(df.count() == 4 * 36 + 3 * 28) // groups of 9, 9, 9, 9, 8, 8, 8
  }

  test("a kernel over a checkpoint, a scan, a broadcast join or an explicit repartition gains none") {
    assert(pinned(expand(baskets.localCheckpoint())).isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("fanout_scan").resolve("t").toString
    baskets.write.parquet(dir)
    assert(pinned(expand(spark.read.parquet(dir))).isEmpty)
    // a broadcast-hinted join is the bounded lookup shape: never fanned,
    // even over a shuffle
    val lookup = baskets.crossJoin(broadcast(Seq(1).toDF("k")))
      .select(col("o"), call_function("graft_intersect_count", col("ids"), col("ids")))
    assert(pinned(lookup).isEmpty)
    // the author's own count stands; the rule adds nothing over it
    assert(pinned(expand(baskets.repartition(3, col("o")))) == Seq(3))
  }

  test("re-optimising an optimized plan adds no second exchange") {
    def pins(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: RepartitionByExpression if r.optNumPartitions.nonEmpty => r
    }.size
    def again(df: DataFrame) = GraftSqlBridge.ofRows(spark, df.queryExecution.optimizedPlan)
    val n = call_function("graft_intersect_count", col("ids"), col("ids"))
    // filter pushdown moves a kernel filter under any exchange: it is
    // pinned with the projection above it, never on its own
    val filtered = baskets.withColumn("n", n).filter(col("n") > 3)
    for (df <- Seq(expand(baskets), filtered))
      assert(pins(df) == 1 && pins(again(df)) == 1)
    val lone = baskets.filter(n > 3)
    assert(pins(lone) == 0 && pins(again(lone)) == 0)
  }

  test("the per-row graft_intersect_count over a join is pinned") {
    val sets = Seq((1L, Seq(1L, 2L, 3L)), (2L, Seq(2L, 3L, 4L))).toDF("id", "hs")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
      .join(sets.select(col("id").as("id_a"), col("hs").as("ha")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("hs").as("hb")), "id_b")
      .select(col("id_a"), col("id_b"),
        call_function("graft_intersect_count", col("ha"), col("hb")).as("n"))
    assert(pinned(pairs) == Seq(fanCount))
    assert(pairs.collect().map(_.getInt(2)).toSeq == Seq(2))
  }

  /** The interpreted higher-order-function expansion the kernels
    * replaced, kept as the reference the kernel version must equal.
    */
  private def hofMemberPairs(both: DataFrame, within: Boolean, carry: Seq[String]) = {
    val tri = flatten(transform(
      sequence(lit(1), size(col("_ia")) - 1),
      i => transform(slice(col("_ia"), i + 1, size(col("_ia"))),
        b => struct(element_at(col("_ia"), i).as("id_a"), b.as("id_b")))))
    val cross = flatten(transform(col("_ia"),
      a => transform(col("_ib"),
        b => struct(least(a, b).as("id_a"), greatest(a, b).as("id_b")))))
    val ordered = flatten(transform(col("_ia"),
      a => transform(col("_ib"), b => struct(a.as("id_a"), b.as("id_b")))))
    val pairs =
      if (within)
        when(col("_ca") < col("_cb"), ordered)
          .when(size(col("_ia")) > 1, tri)
          .otherwise(array().cast("array<struct<id_a:long,id_b:long>>"))
      else cross
    both.select(carry.map(col) :+ explode(pairs).as("_p"): _*)
      .select(carry.map(col) ++ Seq(col("_p.id_a").as("id_a"), col("_p.id_b").as("id_b")): _*)
  }

  /** The chunk grid both versions expand: each row's id arrays cut into
    * `chunk`-id slices, one row per (a-slice, b-slice) cell.
    */
  private def grid(df: DataFrame, aCol: String, bCol: String, chunk: Int): DataFrame = {
    val slices = (c: Column) => transform(
      sequence(lit(0), ((size(c) + chunk - 1) / chunk).cast("int") - 1),
      i => slice(c, i * chunk + 1, lit(chunk)))
    df.select(col("g"), posexplode(slices(col(aCol))).as(Seq("_ca", "_ia")), col(bCol))
      .select(col("g"), col("_ca"), col("_ia"),
        posexplode(slices(col(bCol))).as(Seq("_cb", "_ib")))
      .filter(if (aCol == bCol) col("_ca") <= col("_cb") else lit(true))
  }

  test("expandMemberPairs equals the interpreted expansion as a multiset (seeded grid)") {
    val rnd = new scala.util.Random(9)
    def ids(n: Int) = rnd.shuffle((1L to 400L).toVector).take(n).sorted
    // sizes straddle the chunk boundaries: c-1, c, c+1, 2c, 2c+1 for c = 4
    val sizes = Seq(1, 2, 3, 4, 5, 8, 9, 13)
    val groups = sizes.zipWithIndex.map { case (n, g) => (g.toLong, ids(n)) }
      .toDF("g", "members")
    val cells = for (a <- sizes; b <- sizes) yield (a, b)
    val crossed = cells.zipWithIndex.map { case ((a, b), g) => (g.toLong, ids(a), ids(b)) }
      .toDF("g", "ma", "mb")
    def bag(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    for (chunk <- Seq(3, 4)) {
      val within = bag(Dedup.expandMemberPairs(groups, "members", "members", Seq("g"), chunk))
      assert(within == bag(hofMemberPairs(grid(groups, "members", "members", chunk),
        within = true, Seq("g"))))
      assert(within.size == sizes.map(n => n * (n - 1) / 2).sum)
      val cross = bag(Dedup.expandMemberPairs(crossed, "ma", "mb", Seq("g"), chunk))
      assert(cross == bag(hofMemberPairs(grid(crossed, "ma", "mb", chunk),
        within = false, Seq("g"))))
      assert(cross.size == cells.map { case (a, b) => a * b }.sum)
    }
  }
}
