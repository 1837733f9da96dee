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

  test("replicateScaled survives an EMPTY shifted table (null max folds, no NPE)") {
    // an empty table's max key aggregates to null; the disjointness
    // guard must fold it to the sentinel instead of NPE-ing the driver
    val src = java.nio.file.Files.createTempDirectory("graft-repl-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-repl-out").toString
    for (t <- Tables.names) {
      val df = Tables.load(spark, sf, t)
      (if (t == "embeddings") df.limit(0) else df)
        .write.mode("overwrite").parquet(s"$src/$t.parquet")
    }
    ScaleOps.replicateScaled(spark, src, out, factor = 1)
    assert(spark.read.parquet(s"$out/embeddings.parquet").count() == 0)
    assert(spark.read.parquet(s"$out/lineitem.parquet").count() ==
      Tables.load(spark, sf, "lineitem").count())
  }

  test("writeZOrdered round-trips rows and shrinks per-file spans on BOTH dims vs plain layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toFile
    val o = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey").as("x"),
        datediff(col("o_orderdate"), to_date(lit("1992-01-01"))).cast("long").as("y"))
    o.repartition(8).write.parquet(s"$dir/plain")
    ScaleOps.writeZOrdered(o, Seq("x", "y"), s"$dir/zord", 8)

    // same rows, no aux columns leaked
    val back = spark.read.parquet(s"$dir/zord")
    assert(back.columns.toSeq == Seq("o_orderkey", "x", "y"))
    assert(back.orderBy("o_orderkey").collect().map(_.toSeq).toSeq ==
      o.orderBy("o_orderkey").collect().map(_.toSeq).toSeq)

    // layout evidence: average per-file (max-min) span on each dim
    def avgSpans(path: String): (Double, Double) = {
      val r = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max("x") - min("x")).cast("double").as("sx"),
          (max("y") - min("y")).cast("double").as("sy"))
        .agg(avg("sx"), avg("sy")).collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    val (px, py) = avgSpans(s"$dir/plain")
    val (zx, zy) = avgSpans(s"$dir/zord")
    // round-robin files span ~the full range on both dims; the morton
    // clustering must cut both substantially at once
    assert(zx < px * 0.6, s"x span $zx vs plain $px")
    assert(zy < py * 0.6, s"y span $zy vs plain $py")
  }

  test("bucketed tables join without a shuffle exchange") {
    val l = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    val o = Tables.load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    ScaleOps.writeBucketed(l, "b_lineitem", Seq("l_orderkey"), 4)
    ScaleOps.writeBucketed(o, "b_orders", Seq("o_orderkey"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan) // bucketing replaced the shuffle
      assert(plan.contains("SelectedBucketsCount"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
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

  test("replicateScaled: factor-x rows, intact referential integrity, disjoint copies") {
    import org.apache.spark.sql.functions._
    val src = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-sfscale").toString
    ScaleOps.replicateScaled(spark, src, out, factor = 3)
    // fact tables triple; dimension tables stay
    for (t <- Seq("lineitem", "orders", "documents", "embeddings")) {
      val n0 = graft.Tables.load(spark, src, t).count()
      assert(graft.Tables.load(spark, out, t).count() == 3 * n0, t)
    }
    assert(graft.Tables.load(spark, out, "nation").count() ==
      graft.Tables.load(spark, src, "nation").count())
    // referential integrity WITHIN a copy: every scaled lineitem
    // orderkey still joins a scaled order, same dangling fraction as
    // the source (key shifting is consistent across both tables)
    def orphanFrac(dir: String): Double = {
      val li = graft.Tables.load(spark, dir, "lineitem").select("l_orderkey")
      val or = graft.Tables.load(spark, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"))
      li.join(or, Seq("l_orderkey"), "left_anti").count().toDouble / li.count()
    }
    assert(math.abs(orphanFrac(out) - orphanFrac(src)) < 1e-9,
      "key shifting must preserve the join exactly, copy by copy")
    // no key collides across copies
    val custDistinct = graft.Tables.load(spark, out, "customer")
      .select("c_custkey").distinct().count()
    assert(custDistinct == 3 * graft.Tables.load(spark, src, "customer")
      .select("c_custkey").distinct().count())
    // document text is DISJOINT per copy (the dedup family must
    // measure scale, not planted twins): exact-dup count does not grow
    def dupTexts(dir: String): Long = {
      val d = graft.Tables.load(spark, dir, "documents")
      d.count() - d.select("text").distinct().count()
    }
    assert(dupTexts(out) == 3 * dupTexts(src),
      "per-copy text variation must not create cross-copy twins")
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

  test("replicateScaled: an offset below the source's max key is raised, never collides") {
    val src = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-sfscale-off").toString
    // the requested offset is far below the source's max key — the
    // derived effective offset must keep every copy's keys disjoint
    ScaleOps.replicateScaled(spark, src, out, factor = 2, offset = 10L)
    for (t <- Seq("orders", "documents")) {
      val keyCol = if (t == "orders") "o_orderkey" else "doc_id"
      val n0 = graft.Tables.load(spark, src, t).select(keyCol).distinct().count()
      assert(graft.Tables.load(spark, out, t).select(keyCol).distinct().count() == 2 * n0,
        s"$t: replica keys must stay disjoint even with a too-small requested offset")
    }
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
