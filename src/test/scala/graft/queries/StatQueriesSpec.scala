package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Behavioral properties of the distribution/propagation batch
  * (q107–q110) — the oracle gate proves engine-vs-engine equality;
  * these pin the invariants the oracle can't express (entropy bounds,
  * robustness of the MAD fence, equi-depth balance, rank conservation,
  * determinism under repartitioning).
  */
class StatQueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q107: entropy bounded by ln(n_distinct) and nonnegative") {
    val r = rows(StatQueries.q107.fn(spark, sf))
    assert(r.nonEmpty)
    r.foreach { row =>
      val nDistinct = row(2).asInstanceOf[Long]
      val h = row(3).asInstanceOf[Double]
      assert(h >= -1e-6, s"negative entropy $h")
      assert(h <= math.log(nDistinct.toDouble) + 1e-6,
        s"entropy $h exceeds ln(n_distinct)=${math.log(nDistinct.toDouble)}")
    }
  }

  test("q107: single-token document has zero entropy") {
    import spark.implicits._
    val one = Seq((1L, "spark spark spark spark")).toDF("doc_id", "text")
      .select(col("doc_id"),
        explode(call_function("graft_shingle_hash_list", col("text"), lit(1))).as("uh"))
      .groupBy("doc_id", "uh").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n"),
        sum(round(log(col("c").cast("double")) * 1e6).cast("long") * col("c")).as("_s"))
      .select(round(log(col("n").cast("double"))
        - col("_s").cast("double") / col("n") / 1e6, 6).as("entropy"))
    assert(rows(one) == Seq(Seq(0.0)))
  }

  test("q108: MAD fence unmoved by planting extreme outliers") {
    import spark.implicits._
    // 100 well-behaved values + 3 extremes: the median/MAD fence must
    // stay where the clean data puts it (a z-score fence would widen)
    val clean = (1 to 100).map(i => ("a", 100.0 + (i % 11) - 5))
    val dirty = clean ++ Seq(("a", 1e9), ("a", -1e9), ("a", 5e8))
    def fence(vs: Seq[(String, Double)]): (Double, Double) = {
      val df = vs.toDF("event_type", "value")
      val med = df.groupBy("event_type").agg(expr("percentile(value, 0.5)").as("med"))
      val dev = df.join(broadcast(med), Seq("event_type"))
        .withColumn("_dev", abs(col("value") - col("med")))
      val r = dev.groupBy("event_type")
        .agg(min("med").as("med"), expr("percentile(_dev, 0.5)").as("mad"))
        .collect()(0)
      (r.getDouble(1), r.getDouble(2))
    }
    val (medC, madC) = fence(clean)
    val (medD, madD) = fence(dirty)
    assert(math.abs(medC - medD) <= 1.0, s"median moved $medC -> $medD")
    assert(math.abs(madC - madD) <= 1.0, s"MAD moved $madC -> $madD")
  }

  test("q108: outlier count is a small fraction of each group") {
    val r = rows(StatQueries.q108.fn(spark, sf))
    assert(r.nonEmpty)
    r.foreach { row =>
      val n = row(1).asInstanceOf[Long]
      val out = row(4).asInstanceOf[Long]
      assert(out <= n / 4, s"${row(0)}: $out outliers of $n — fence too tight")
    }
  }

  test("q109: buckets cover all rows, are balanced, and tile the range") {
    val r = rows(StatQueries.q109.fn(spark, sf))
    assert(r.length == 8, s"expected 8 buckets, got ${r.length}")
    val total = graft.Tables.load(spark, sf, "orders").count()
    assert(r.map(_(1).asInstanceOf[Long]).sum == total)
    val counts = r.map(_(1).asInstanceOf[Long])
    val ideal = total / 8.0
    counts.foreach(c => assert(math.abs(c - ideal) <= ideal * 0.05 + 2,
      s"bucket count $c far from n/8=$ideal — not equi-depth"))
    // buckets tile: each bucket's max <= next bucket's min
    r.sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo(3).asInstanceOf[Double] <= hi(2).asInstanceOf[Double] + 1e-9,
        s"bucket overlap: ${lo(3)} > ${hi(2)}")
    }
  }

  test("q109: plan broadcasts the boundary row — no global-sort window") {
    val plan = StatQueries.q109.fn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"boundary row not broadcast:\n$plan")
    assert(!plan.contains("Window"), s"global window sneaked in:\n$plan")
  }

  test("q110: total rank mass is conserved (sums to ~1 with customer ranks)") {
    val r = StatQueries.q110.fn(spark, sf)
    val e = graft.Tables.load(spark, sf, "orders")
      .join(graft.Tables.load(spark, sf, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst")).distinct()
    val nc = e.select("src").distinct().count()
    val ns = e.select("dst").distinct().count()
    val n = (nc + ns).toDouble
    val supplierMass = r.agg(sum("rank")).collect()(0).getDouble(0)
    // customers receive no edge mass: rank = 0.15/N + 0.85*dangling/N^2 each
    val customerMass = nc * (0.15 / n + 0.85 * ns / n / n)
    assert(math.abs(supplierMass + customerMass - 1.0) <= 1e-4,
      s"rank mass ${supplierMass + customerMass} != 1")
  }

  test("q111: same-distribution cohorts read as no-drift; ref buckets balanced") {
    val r = rows(StatQueries.q111.fn(spark, sf))
    assert(r.length == 8)
    // the synthetic halves come from one distribution: total PSI must sit
    // far below the 0.1 "investigate" threshold practitioners use
    val total = r.map(_(3).asInstanceOf[Double]).sum
    assert(total < 0.05, s"PSI $total on same-distribution halves")
    val refCounts = r.map(_(1).asInstanceOf[Long])
    val ideal = refCounts.sum / 8.0
    refCounts.foreach(c => assert(math.abs(c - ideal) <= ideal * 0.05 + 2,
      s"reference bucket $c far from n/8=$ideal — boundaries not equi-depth"))
  }

  test("q111: planted drift in the current cohort is detected") {
    import spark.implicits._
    // ref uniform [0,1000); cur shifted +300 on the top half: PSI must jump
    val ref = (0 until 2000).map(i => (0L, (i % 1000).toDouble))
    val cur = (0 until 2000).map(i => (1L, (i % 1000).toDouble + (if (i % 2 == 0) 300 else 0)))
    val df = (ref ++ cur).toDF("us", "v")
    val thr = df.agg(expr("percentile(us, 0.5)").as("thr"))
    val tagged = df.crossJoin(broadcast(thr))
      .select(col("v"), (col("us") < col("thr")).as("is_ref"))
    val bounds = tagged.filter(col("is_ref")).agg(expr(
      "percentile(v, array(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875))").as("bs"))
    val counts = tagged.crossJoin(broadcast(bounds))
      .select(size(filter(col("bs"), b => col("v") > b)).as("bucket"), col("is_ref"))
      .groupBy("bucket")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
    val totals = counts.agg(sum("n_ref").as("tr"), sum("n_cur").as("tc"))
    val psi = counts.crossJoin(broadcast(totals))
      .select((((col("n_ref") + 1).cast("double") / (col("tr") + 8)
          - (col("n_cur") + 1).cast("double") / (col("tc") + 8))
        * log(((col("n_ref") + 1).cast("double") / (col("tr") + 8))
          / ((col("n_cur") + 1).cast("double") / (col("tc") + 8)))).as("t"))
      .agg(sum("t")).collect()(0).getDouble(0)
    assert(psi > 0.1, s"planted 30% shift only scored PSI $psi")
  }

  test("q112: pair coverage is all source pairs; jaccard within (0,1]") {
    val r = rows(StatQueries.q112.fn(spark, sf))
    val nSrc = graft.Tables.load(spark, sf, "documents")
      .select("source").distinct().count()
    assert(r.length == nSrc * (nSrc - 1) / 2,
      s"${r.length} pairs for $nSrc sources")
    r.foreach { row =>
      val j = row(3).asInstanceOf[Double]
      assert(j > 0.0 && j <= 1.0, s"jaccard $j out of range on $row")
      assert(row(0).asInstanceOf[String] < row(1).asInstanceOf[String])
    }
  }

  test("q113: decay shrinks sums; an all-today cohort is undamped") {
    import spark.implicits._
    val r = StatQueries.q113.fn(spark, sf)
    val plain = graft.Tables.load(spark, sf, "events")
      .groupBy("user_id").agg(sum("value").as("s"))
    val joined = r.join(plain, Seq("user_id"))
      .select(col("decayed_sum"), col("s")).collect()
    joined.foreach(x => assert(x.getDouble(0) <= x.getDouble(1) + 1e-6,
      s"decayed ${x.getDouble(0)} exceeds plain ${x.getDouble(1)}"))
    // all events at the watermark instant → weight exactly 1
    val today = Seq((1L, 10.0, 1000000L), (1L, 5.0, 1000000L)).toDF("user_id", "value", "us")
    val wm = today.agg(max("us").as("mx"))
    val out = today.crossJoin(broadcast(wm))
      .select(round(col("value")
        * pow(lit(0.5), floor((col("mx") - col("us")).cast("double") / 86400e6))
        * 1e6).cast("long").as("_t"))
      .agg(round(sum("_t").cast("double") / 1e6, 6)).collect()(0).getDouble(0)
    assert(out == 15.0, s"undamped sum $out != 15.0")
  }

  test("q110: ranks identical under a different input partitioning") {
    val base = rows(StatQueries.q110.fn(spark, sf))
    val sp2 = spark.newSession()
    sp2.conf.set("spark.sql.shuffle.partitions", "7")
    val alt = rows(StatQueries.q110.fn(sp2, sf))
    assert(base == alt, "q110 not partition-count independent")
  }

  test("q115: CMS never underestimates, and sketches merge by addition") {
    val r = rows(StatQueries.q115.fn(spark, sf))
    assert(r.length == 20)
    r.foreach { row =>
      val (exact, est) = (row(1).asInstanceOf[Long], row(2).asInstanceOf[Long])
      assert(est >= exact, s"CMS underestimated: $est < $exact on $row")
    }
    // mergeability: counter tables of two halves sum to the whole's
    val coeffs = graft.operators.Dedup.minhashCoeffs(4)
    def cms(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(call_function("graft_shingle_hash_list", col("text"), lit(1))).as("uh"))
      .select(explode(array(coeffs.zipWithIndex.map { case ((a, b), i) =>
        struct(lit(i).as("row"),
          pmod(lit(a) * col("uh") + lit(b), lit(graft.operators.Dedup.MinhashP))
            .mod(512).as("bucket"))
      }: _*)).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val docs = graft.Tables.load(spark, sf, "documents")
    val whole = cms(docs).collect().map(x => (x.getInt(0), x.getLong(1)) -> x.getLong(2)).toMap
    val lo = cms(docs.filter(col("doc_id") % 2 === 0))
      .collect().map(x => (x.getInt(0), x.getLong(1)) -> x.getLong(2)).toMap
    val hi = cms(docs.filter(col("doc_id") % 2 === 1))
      .collect().map(x => (x.getInt(0), x.getLong(1)) -> x.getLong(2)).toMap
    whole.foreach { case (k, v) =>
      assert(lo.getOrElse(k, 0L) + hi.getOrElse(k, 0L) == v,
        s"counter $k not additive")
    }
  }

  test("q116: identical planted docs join at distance zero; ratios bounded") {
    val r = rows(StatQueries.q116.fn(spark, sf))
    r.foreach { row =>
      assert(row(0).asInstanceOf[Long] < row(1).asInstanceOf[Long])
      assert(row(3).asInstanceOf[Double] <= 0.5 + 1e-9)
    }
    // dist-zero sanity against a direct computation on one output pair
    if (r.nonEmpty) {
      val (a, b) = (r.head(0).asInstanceOf[Long], r.head(1).asInstanceOf[Long])
      val docs = graft.Tables.load(spark, sf, "documents")
      val d = docs.filter(col("doc_id").isin(a, b))
        .agg(levenshtein(min("text"), max("text"))).collect()(0).getInt(0)
      assert(d == r.head(2).asInstanceOf[Int], s"edit_dist mismatch for ($a,$b)")
    }
  }

  test("q117: exactly k per stratum, stable across partitionings, group-limited plan") {
    val r = rows(StatQueries.q117.fn(spark, sf))
    val bySrc = r.groupBy(_(0))
    bySrc.values.foreach(g =>
      assert(g.map(_(1).asInstanceOf[Int]).sorted == (1 to g.length) && g.length <= 5))
    val sp2 = spark.newSession()
    sp2.conf.set("spark.sql.shuffle.partitions", "5")
    assert(rows(StatQueries.q117.fn(sp2, sf)) == r, "sample not partition independent")
    val plan = StatQueries.q117.fn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k window not compiled to WindowGroupLimit:\n$plan")
  }

  test("q123: splits cover all events and respect the embargo gap") {
    val r = rows(StatQueries.q123.fn(spark, sf))
    val total = graft.Tables.load(spark, sf, "events").count()
    assert(r.map(_(2).asInstanceOf[Long]).sum == total)
    val bySplit = r.groupBy(_(0)).view.mapValues(_.map(_(2).asInstanceOf[Long]).sum).toMap
    val trainFrac = bySplit("train").toDouble / total
    assert(math.abs(trainFrac - 0.8) < 0.02, s"train fraction $trainFrac")
    assert(bySplit.getOrElse("embargo", 0L) > 0, "12h embargo captured no events")
    // the gap is real: no test event within 12h after the cutoff
    val e = graft.Tables.load(spark, sf, "events")
      .select(unix_micros(col("ts")).as("us"))
    val cut = e.agg(expr("percentile(us, 0.8)")).collect()(0).getDouble(0)
    val leaked = e.filter(col("us").cast("double") >= cut
      && col("us").cast("double") < cut + 12L * 3600 * 1000000).count()
    assert(bySplit("train") + bySplit("test") + leaked == total)
  }

  test("q124: anonymity bands partition every individual") {
    val r = rows(StatQueries.q124.fn(spark, sf))
    val total = graft.Tables.load(spark, sf, "customer").count()
    assert(r.map(_(2).asInstanceOf[Long]).sum == total)
    r.foreach { row =>
      val (anon, mn, mx) = (row(0).asInstanceOf[Boolean],
        row(3).asInstanceOf[Long], row(4).asInstanceOf[Long])
      if (anon) assert(mn >= 10, s"anonymous band has group of $mn")
      else assert(mx < 10, s"risky band has group of $mx")
    }
  }

  test("q125: KS is zero on identical samples and large on planted shift") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    def ks(df: org.apache.spark.sql.DataFrame): Double = {
      val byVal = df.groupBy("q").agg(
        sum(when(col("g") === "a", 1L).otherwise(0L)).as("da"),
        sum(when(col("g") === "b", 1L).otherwise(0L)).as("db"))
      val sizes = df.groupBy().agg(
        sum(when(col("g") === "a", 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === "b", 1L).otherwise(0L)).as("nb"))
      val w = Window.orderBy(col("q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byVal.crossJoin(broadcast(sizes))
        .withColumn("_ca", sum("da").over(w))
        .withColumn("_cb", sum("db").over(w))
        .select((abs(col("_ca") * col("nb") - col("_cb") * col("na"))
          .cast("double") / (col("na") * col("nb"))).as("d"))
        .agg(max("d")).collect()(0).getDouble(0)
    }
    val base = (1 to 200).map(i => ("a", (i % 50).toDouble)) ++
      (1 to 200).map(i => ("b", (i % 50).toDouble))
    assert(ks(base.toDF("g", "q")) == 0.0, "identical samples must score 0")
    val shifted = (1 to 200).map(i => ("a", (i % 50).toDouble)) ++
      (1 to 200).map(i => ("b", (i % 50).toDouble + 25))
    assert(ks(shifted.toDF("g", "q")) >= 0.5, "half-range shift must score >= 0.5")
    // the gated query itself: a valid distance in [0, 1]
    val r = rows(StatQueries.q125.fn(spark, sf))
    val d = r.head.head.asInstanceOf[Double]
    assert(d >= 0.0 && d <= 1.0, s"KS distance $d out of range")
  }

  test("q114: one canonical per cluster, and it is the cluster's best doc") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val pairs = graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 2, k = 12, rowsPerBand = 2, threshold = 0.2)
    val clusters = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "doc_id")
    val quality = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.qualityScore(col("text"),
        Seq("the", "a", "of", "and")).as("q"))
    val bestByCluster = clusters.join(quality, Seq("doc_id"))
      .groupBy("cluster_id").agg(max("q").as("maxq"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val r = rows(DataQueries.q114.fn(spark, sf))
    assert(r.length == bestByCluster.size, "cluster count mismatch")
    r.foreach { row =>
      val (cid, n, q) = (row(0).asInstanceOf[Long], row(1).asInstanceOf[Long],
        row(3).asInstanceOf[Double])
      assert(q == bestByCluster(cid)._1, s"cluster $cid canonical q=$q != max ${bestByCluster(cid)._1}")
      assert(n == bestByCluster(cid)._2, s"cluster $cid n_docs=$n != ${bestByCluster(cid)._2}")
    }
  }

  test("q201: Holt recurrence replays exactly on integer state") {
    import org.apache.spark.sql.functions._
    // independent Scala replay of the scaled-long recurrence over the
    // same daily counts
    val daily = graft.Tables.load(spark, sf, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    def rdiv10(x: Long): Long = if (x < 0) -((-x + 5) / 10) else (x + 5) / 10
    val expected = daily.toSeq.flatMap { case (et, days) =>
      var lv = 0L; var tr = 0L
      days.zipWithIndex.map { case ((_, day, y), i) =>
        if (i == 0) { lv = y * 1000000L; tr = 0L; (et, day, y, lv, tr, 0L) }
        else {
          val err = y * 1000000L - (lv + tr)
          val nlv = rdiv10(5 * y * 1000000L + 5 * (lv + tr))
          val ntr = rdiv10(3 * (nlv - lv) + 7 * tr)
          lv = nlv; tr = ntr
          (et, day, y, nlv, ntr, err)
        }
      }
    }.sortBy(t => (t._1, t._2))
    val actual = graft.queries.EventQueries.q201.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(actual == expected)
  }

  test("q202: Adamic-Adar matches a brute-force recomputation") {
    import org.apache.spark.sql.functions._
    val cs = graft.Tables.load(spark, sf, "orders")
      .join(graft.Tables.load(spark, sf, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byCust = cs.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val scores = collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    byCust.foreach { case (_, sups) =>
      val capped = sups.take(50)
      val w = math.round(1000000.0 / math.log(sups.length.toDouble))
      for (i <- capped.indices; j <- i + 1 until capped.length) {
        val k = (capped(i), capped(j))
        val (a, n) = scores.getOrElse(k, (0L, 0L))
        scores(k) = (a + w, n + 1)
      }
    }
    val expected = scores.toSeq.collect { case ((s1, s2), (aa, n)) if n >= 3 =>
      (s1, s2, aa, n) }
      .sortBy(t => (-t._3, t._1, t._2)).take(100)
    val actual = graft.queries.StatQueries.q202.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(actual == expected)
  }

  test("q207: Poisson-bootstrap replicates replay exactly; CI brackets the point") {
    import org.apache.spark.sql.functions._
    val thr = Seq(395007542L, 790015084L, 987518855L, 1053353445L,
      1069812093L, 1073103822L)
    val orders = graft.Tables.load(spark, sf, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def weight(key: Long, b: Int): Long = {
      // replicate b rides digest pb = b/2: top 30 bits for even b,
      // bottom 30 for odd
      val h = graft.functions.Hashing.hash64Local(s"bs|$key|${b / 2}")
      val u = if (b % 2 == 0) h >> 30 else h & ((1L << 30) - 1)
      thr.indexWhere(u < _) match { case -1 => 6L; case i => i.toLong }
    }
    val expected = orders.groupBy(_._1).toSeq.map { case (p, rows) =>
      val point = 1000000L * rows.map(_._3).sum / rows.length
      val means = (0 until 100).flatMap { b =>
        var sw = 0L; var swx = 0L
        rows.foreach { case (_, k, x) =>
          val w = weight(k, b); sw += w; swx += w * x
        }
        if (sw > 0) Some((1000000L * swx / sw, b.toLong)) else None
      }.sorted
      (p, point, means(2)._1, means(97)._1)
    }.sortBy(_._1)
    val actual = StatQueries.q207.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(actual == expected)
    actual.foreach { case (p, point, lo, hi) =>
      assert(lo < hi, s"$p: degenerate CI")
      assert(lo <= point && point <= hi, s"$p: point $point outside [$lo, $hi]")
    }
  }

  test("q210: minimax fit equals a real stack-based PAVA, and is monotone") {
    val rows = graft.queries.StatQueries.q210.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(3), r.getLong(4), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (g, bs) =>
      val sorted = bs.sortBy(_._2)
      // monotone non-decreasing fit
      val fits = sorted.map(_._5)
      assert(fits.zip(fits.drop(1)).forall { case (a, b) => a <= b },
        s"$g: fit not monotone: ${fits.toSeq}")
      // independent pool-adjacent-violators on the same (c, p) bins:
      // pool while the previous pool's mean >= the next's, comparing
      // p/c rationals exactly via cross-multiplication
      var stack = List.empty[(Long, Long, Int)] // (c, p, nbins), top first
      sorted.foreach { case (_, _, c, p, _) =>
        stack = (c, p, 1) :: stack
        var merged = true
        while (merged) stack match {
          case (bc, bp, bn) :: (ac, ap, an) :: rest if ap * bc >= bp * ac =>
            stack = (ac + bc, ap + bp, an + bn) :: rest
          case _ => merged = false
        }
      }
      val pavaFit = stack.reverse.flatMap { case (c, p, n) =>
        Seq.fill(n)(1000000L * p / c)
      }
      assert(pavaFit == fits.toList,
        s"$g: PAVA $pavaFit != minimax ${fits.toSeq}")
    }
  }

  test("q203: Benford digit counts partition each priority's orders") {
    val r = rows(graft.queries.StatQueries.q203.fn(spark, sf))
    assert(r.nonEmpty)
    val perPriority = graft.Tables.load(spark, sf, "orders")
      .groupBy("o_orderpriority").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    r.groupBy(_(0)).foreach { case (p, digitRows) =>
      val obs = digitRows.map(_(2).asInstanceOf[Long]).sum
      assert(obs == perPriority(p.asInstanceOf[String]),
        s"priority $p: digit counts $obs must cover all orders")
      val expSum = digitRows.map(_(3).asInstanceOf[Double]).sum
      // expected sums to n only if all 9 digits appear; allow slack for
      // absent digits but require the bulk
      assert(expSum <= obs * 1.001 && expSum > obs * 0.5, s"$p: $expSum vs $obs")
      digitRows.foreach { row =>
        assert(row(4).asInstanceOf[Double] >= 0.0, s"chi2 term negative: $row")
        val d = row(1).asInstanceOf[Int]
        assert(d >= 1 && d <= 9, s"digit out of range: $row")
      }
    }
  }

  test("q214: HLL registers, harmonic sum, and estimate replay from hash64Local") {
    val ev = graft.Tables.load(spark, sf, "events")
      .select(col("event_type"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = ev.groupBy(_._1).toSeq.map { case (ty, rows) =>
      val regs = collection.mutable.Map.empty[Long, Int]
      rows.map(_._2).distinct.foreach { uid =>
        val h = graft.functions.Hashing.hash64Local(uid.toString)
        val j = h % 64
        val w = h / 64
        val rho = if (w == 0) 55 else 55 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rho > regs.getOrElse(j, 0)) regs(j) = rho
      }
      val t = regs.values.map(m => 1L << (55 - m)).sum +
        (64L - regs.size) * (1L << 55)
      val raw = (BigInt(709374) * 4096 * (BigInt(1) << 55) / t).toLong
      val est = if (regs.size < 64 && raw <= 160000000L)
        math.round(64 * math.log(64.0 / (64 - regs.size)) * 1000000)
      else raw
      val nExact = rows.map(_._2).distinct.length.toLong
      val err = (est - 1000000L * nExact).abs * 100 / (1000000L * nExact)
      (ty, nExact, regs.size.toLong, t, est, err)
    }.sortBy(_._1)
    val actual = StatQueries.q214.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(actual == expected)
    // m=64 gives ~13% relative error; anything past 50% means the
    // register pipeline is broken, not just unlucky
    actual.foreach(r => assert(r._6 <= 50, s"HLL error ${r._6}% for ${r._1}"))
  }

  test("q216: Kendall tau-b components equal the O(n^2) pair scan") {
    val ux = graft.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).toSeq.map { case (_, rs) =>
        (rs.count(_._2 == "click").toLong, rs.count(_._2 == "purchase").toLong)
      }
    var c = 0L; var d = 0L
    for (i <- ux.indices; j <- i + 1 until ux.length) {
      val ((x1, y1), (x2, y2)) = (ux(i), ux(j))
      val sx = (x1 - x2).sign; val sy = (y1 - y2).sign
      if (sx * sy > 0) c += 1 else if (sx * sy < 0) d += 1
    }
    val n = ux.length.toLong
    val n0 = n * (n - 1) / 2
    val n1 = ux.groupBy(_._1).values.map(g => g.length.toLong * (g.length - 1) / 2).sum
    val n2 = ux.groupBy(_._2).values.map(g => g.length.toLong * (g.length - 1) / 2).sum
    val r = StatQueries.q216.fn(spark, sf).collect()
    assert(r.length == 1)
    assert((r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getLong(3),
      r(0).getLong(4)) == ((c, d, n0, n1, n2)))
    val tau2 = (BigInt(1000000000000L) * BigInt(c - d) * BigInt(c - d) /
      (BigInt(n0 - n1) * BigInt(n0 - n2))).toLong * (if (c < d) -1 else 1)
    assert(r(0).getLong(5) == tau2)
  }

  test("q217: mutual information replays from the contingency table") {
    val cells = graft.Tables.load(spark, sf, "events")
      .groupBy(col("event_type"), dayofweek(to_date(col("ts"))).as("d"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    val n = cells.values.sum
    val r = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cc = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    def qln(x: Double): Long = math.round(math.log(x) * 1e9)
    val termSum = cells.map { case ((t, d), c) =>
      c * qln((n.toDouble * c) / (r(t).toDouble * cc(d)))
    }.sum
    def tdiv(x: Long, dv: Long): Long = if (x < 0) -((-x) / dv) else x / dv
    val miNano = tdiv(termSum, n)
    val htNano = r.values.map(v => v * qln(n.toDouble / v)).sum / n
    val hdNano = cc.values.map(v => v * qln(n.toDouble / v)).sum / n
    val out = StatQueries.q217.fn(spark, sf).collect()
    assert(out.length == 1)
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getLong(2),
      out(0).getLong(3), out(0).getLong(4)) ==
      ((n, cells.size.toLong, miNano, htNano, hdNano)))
    assert(out(0).getLong(5) == tdiv(1000000L * miNano, math.min(htNano, hdNano)))
    // MI is bounded by both marginal entropies
    assert(miNano <= math.min(htNano, hdNano) + 1000)
  }

  test("q218: binned Gini replays in BigInt and sits in [0, 1e6)") {
    val rev = graft.Tables.load(spark, sf, "orders")
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = graft.Tables.load(spark, sf, "customer")
      .select("c_custkey", "c_mktsegment")
      .collect().map(r => (r.getString(1), rev.getOrElse(r.getLong(0), 0L)))
    val mx = base.map(_._2).max
    val expected = base.groupBy(_._1).toSeq.map { case (seg, rows) =>
      val bins = rows.map { case (_, v) => ((v * 1000) / (mx + 1), v) }
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (b, vs) => (b, vs.length.toLong, vs.map(_._2).sum) }
      val nC = bins.map(_._2).sum; val tot = bins.map(_._3).sum
      var cum = 0L; var num = BigInt(0); var top = 0L
      bins.foreach { case (b, nB, sB) =>
        num += BigInt(nB) * (2 * BigInt(cum) + sB)
        cum += sB
        if (b >= 900) top += sB
      }
      val gini = (BigInt(1000000) - BigInt(1000000) * num / (BigInt(nC) * tot)).toLong
      (seg, nC, tot, gini, 1000000L * top / tot)
    }.sortBy(_._1)
    val actual = StatQueries.q218.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(actual == expected)
    actual.foreach { r =>
      assert(r._4 >= 0 && r._4 < 1000000, s"gini out of range: $r")
    }
  }

  test("q222: basket lift replays from brute-force co-occurrence counting") {
    val op = graft.Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val supp = op.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nOrders = op.map(_._1).distinct.length.toLong
    val pairCnt = collection.mutable.Map.empty[(Long, Long), Long]
    op.groupBy(_._1).values.foreach { rows =>
      val ps = rows.map(_._2).sorted.take(50)
      for (i <- ps.indices; j <- i + 1 until ps.length)
        pairCnt((ps(i), ps(j))) = pairCnt.getOrElse((ps(i), ps(j)), 0L) + 1
    }
    val expected = pairCnt.toSeq.filter(_._2 >= 3).map { case ((x, y), c) =>
      val lift = (BigInt(1000000) * c * nOrders /
        (BigInt(supp(x)) * supp(y))).toLong
      (x, y, c, supp(x), supp(y), lift)
    }.sortBy(t => (-t._6, t._1, t._2)).take(50)
    val actual = StatQueries.q222.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(actual == expected)
  }

  test("q223: rhythm stats replay; a planted regular series reads CoV2 ~ 0") {
    val ev = graft.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("long").as("sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val gaps = ev.groupBy(r => (r._1, r._3)).values.toSeq.flatMap { rows =>
      val s = rows.sortBy(r => (r._4, r._2)).map(_._4)
      s.zip(s.drop(1)).map { case (a, b) => (rows.head._3, b - a) }
    }
    val expected = gaps.groupBy(_._1).toSeq.map { case (ty, gs) =>
      val n = gs.length.toLong
      val sg = gs.map(_._2).sum
      val sg2 = gs.map(g => BigInt(g._2) * g._2).sum
      (ty, n, sg / n,
        (BigInt(1000000) * (BigInt(n) * sg2 - BigInt(sg) * sg) /
          (BigInt(sg) * sg)).toLong)
    }.filter(t => t._2 >= 2).sortBy(_._1)
    val actual = StatQueries.q223.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(actual == expected)
    // a strictly periodic synthetic series must read as CoV2 == 0
    import spark.implicits._
    val regular = (1 to 50).map(i => (1L, i.toLong, "tick",
      new java.sql.Timestamp(i * 60000L)))
      .toDF("user_id", "event_id", "event_type", "ts")
    val wu = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("_sec").asc, col("event_id").asc)
    val cov2 = regular
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("long").as("_sec"))
      .withColumn("_gap", col("_sec") - lag(col("_sec"), 1).over(wu))
      .filter(col("_gap").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("_gap").as("sg"),
        sum(expr("CAST(_gap AS DECIMAL(38,0)) * _gap")).as("sg2"))
      .select(expr("CAST((1000000 * (n * sg2 - CAST(sg AS DECIMAL(38,0)) * sg)) div (CAST(sg AS DECIMAL(38,0)) * sg) AS BIGINT)"))
      .collect()(0).getLong(0)
    assert(cov2 == 0L, s"periodic series scored CoV2 $cov2")
  }

  test("q226: propagated registers equal a 2-hop ball replay; error bounded") {
    val cs = graft.Tables.load(spark, sf, "orders")
      .join(graft.Tables.load(spark, sf, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byCust = cs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val balls = cs.groupBy(_._2).view.mapValues { rows =>
      rows.map(_._1).toSet.flatMap((c: Long) => byCust(c))
    }.toMap
    val expected = balls.toSeq.map { case (sp, ball) =>
      val regs = collection.mutable.Map.empty[Long, Int]
      ball.foreach { nb =>
        val h = graft.functions.Hashing.hash64Local(s"hb|$nb")
        val j = h % 64
        val w = h / 64
        val rho = if (w == 0) 55 else 55 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rho > regs.getOrElse(j, 0)) regs(j) = rho
      }
      val t = regs.values.map(m => 1L << (55 - m)).sum +
        (64L - regs.size) * (1L << 55)
      val raw = (BigInt(709374) * 4096 * (BigInt(1) << 55) / t).toLong
      val est = if (regs.size < 64 && raw <= 160000000L)
        math.round(64 * math.log(64.0 / (64 - regs.size)) * 1000000)
      else raw
      (sp, regs.size.toLong, t, est, ball.size)
    }.sortBy(_._1)
    val actual = StatQueries.q226.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(actual == expected.map(e => (e._1, e._2, e._3, e._4)))
    // estimate quality: median relative error of an m=64 HLL with the
    // LC branch should sit well under 50%
    val errs = expected.map { case (_, _, _, est, exact) =>
      math.abs(est / 1000000.0 - exact) / exact
    }.sorted
    assert(errs(errs.length / 2) <= 0.5,
      s"median HLL ball error ${errs(errs.length / 2)}")
  }

  test("q234: weighted quantiles replay; weighting actually moves the median") {
    val rows = graft.Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) div 1000").as("bin"),
        expr("CAST(l_quantity AS BIGINT)").as("w"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = rows.groupBy(_._1).toSeq.map { case (flag, rs) =>
      val grid = rs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
      val tot = grid.map(_._2).sum
      var cum = 0L; var med = -1L; var p90 = -1L
      grid.foreach { case (bin, bw) =>
        cum += bw
        if (med < 0 && 2 * cum >= tot) med = bin
        if (p90 < 0 && 10 * cum >= 9 * tot) p90 = bin
      }
      (flag, tot, med * 10, p90 * 10)
    }.sortBy(_._1)
    val actual = StatQueries.q234.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(actual == expected)
    // sanity: p90 >= median for every group
    actual.foreach(r => assert(r._4 >= r._3))
  }
}
