package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class ScaleOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("saltedJoin returns exactly the plain join result") {
    val l = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val o = Tables.load(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = l.join(o, Seq("l_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .orderBy("o_orderstatus")
    val salted = ScaleOps.saltedJoin(l, o, Seq("l_orderkey"), salts = 8)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .orderBy("o_orderstatus")
    assertRowsEqual(rows(salted), rows(plain), tol = 1e-9)
  }

  test("saltedJoin rejects join types where salting changes the result") {
    import spark.implicits._
    val df = Seq((1, "a")).toDF("k", "v")
    for (jt <- Seq("right", "right_outer", "full", "full_outer", "cross"))
      intercept[IllegalArgumentException] {
        ScaleOps.saltedJoin(df, df, Seq("k"), salts = 2, joinType = jt)
      }
    // the allowed spellings still construct (lazy — no action needed)
    for (jt <- Seq("inner", "left", "left_outer", "left_semi", "left_anti"))
      ScaleOps.saltedJoin(df, df, Seq("k"), salts = 2, joinType = jt)
  }

  test("compact: plans file count from metadata, preserves rows, hits the size target") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // fragment: 64 tiny files
    val df = (1L to 20000L).map(i => (i, s"row-$i-${"x" * 40}")).toDF("id", "payload")
    df.repartition(64).write.parquet(s"$dir/in")
    val inFiles = new java.io.File(s"$dir/in").listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(inFiles == 64)
    val totalBytes = new java.io.File(s"$dir/in").listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val target = totalBytes / 4 // expect ~4-5 outputs
    val (nIn, nOut) = ScaleOps.compact(spark, s"$dir/in", s"$dir/out", target)
    assert(nIn == 64)
    assert(nOut == ((totalBytes + target - 1) / target).toInt)
    val outFiles = new java.io.File(s"$dir/out").listFiles
      .filter(f => f.getName.endsWith(".parquet"))
    assert(outFiles.length == nOut)
    // row-identical, and round-robin made the outputs near-uniform
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == 20000L)
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
    val sizes = outFiles.map(_.length)
    assert(sizes.max < sizes.min * 2, s"uneven outputs: ${sizes.toSeq.sorted}")
  }

  test("compactionPlan: path-ordered bins fill to target; an oversize file owns its group") {
    import spark.implicits._
    val files = Seq(
      (1L, "a", 300L), (1L, "b", 300L), // group 0: 600 (b starts at 300 < 500)
      (1L, "c", 2000L), // cum 600 -> group 1, alone by size
      (1L, "d", 10L), // cum 2600 -> group 5
      (2L, "x", 100L)).toDF("tbl", "path", "size")
    val out = ScaleOps.compactionPlan(files, "tbl", "path", "size", 500L)
      .collect().map(r => (r.getAs[Long]("tbl"), r.getAs[Long]("group_id")) ->
        (r.getAs[Long]("n_files"), r.getAs[Long]("group_bytes"))).toMap
    assert(out((1L, 0L)) == ((2L, 600L)))
    assert(out((1L, 1L)) == ((1L, 2000L)), "the oversize file is its own rewrite job")
    assert(out((1L, 5L)) == ((1L, 10L)))
    assert(out((2L, 0L)) == ((1L, 100L)))
    assert(out.size == 4)
  }

  test("fanIfNarrow over a REBALANCE-hinted frame starts no Spark job") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    def inGroup[T](tag: String)(body: => T): T = {
      sc.setJobGroup(tag, tag)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(l)
    try {
      val df = spark.sql("SELECT /*+ REBALANCE */ id FROM range(1000)")
      assert(inGroup("fan-probe")(ScaleOps.fanIfNarrow(df, col("id"))) eq df)
      // the bus delivers in order: once the barrier job is seen, every
      // job the probe started has been seen too
      inGroup("fan-barrier")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.currentTimeMillis() + 60000
      while (!groups.contains("fan-barrier") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(groups.contains("fan-barrier"), "the barrier job never reached the listener")
      assert(!groups.contains("fan-probe"), s"fanIfNarrow started jobs: $groups")
    } finally sc.removeSparkListener(l)
  }
}
