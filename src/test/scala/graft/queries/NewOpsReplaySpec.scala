package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables

/** Brute-force replays and invariants for the round-8 continuation
  * batch (q280–q300). The oracle gate proves engine-vs-engine
  * equality; these pin the MATH against independent in-process
  * reimplementations (plain Scala collections at sf0.001) and the
  * axioms a wrong-but-consistent implementation would break
  * (Shapley efficiency, EM mean preservation, conformal coverage).
  */
class NewOpsReplaySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q280: tie-corrected H matches a direct average-rank brute force") {
    val out = rows(InferQueries.q280.fn(spark, sf)).head
    val data = Tables.load(spark, sf, "lineitem")
      .select(col("l_quantity").cast("long"), col("l_returnflag"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val sorted = data.map(_._1).sorted
    val rankOf = sorted.distinct.map { v =>
      val below = sorted.count(_ < v); val c = sorted.count(_ == v)
      v -> (below + (c + 1) / 2.0)
    }.toMap
    val n = data.length.toDouble
    val groups = Seq("A", "N", "R").map(g => data.filter(_._2 == g))
    val hRaw = 12.0 / (n * (n + 1)) * groups.map { g =>
      val r = g.map(t => rankOf(t._1)).sum; r * r / g.length
    }.sum - 3 * (n + 1)
    val ties = sorted.groupBy(identity).values
      .map(c => { val s = c.size.toLong; s * s * s - s }).sum.toDouble
    val hc = hRaw / (1.0 - ties / (n * n * n - n))
    assert(math.abs(out(3).asInstanceOf[Double] - hRaw) < 1e-5, s"$out vs $hRaw")
    assert(math.abs(out(4).asInstanceOf[Double] - hc) < 1e-5, s"$out vs $hc")
  }

  test("q292: W1 matches a direct two-sample CDF-walk brute force") {
    val out = rows(InferQueries.q292.fn(spark, sf)).head
    val data = Tables.load(spark, sf, "lineitem")
      .filter(col("l_returnflag").isin("A", "R"))
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"), col("l_returnflag"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val a = data.filter(_._2 == "R").map(_._1).sorted
    val b = data.filter(_._2 == "A").map(_._1).sorted
    val grid = (a ++ b).distinct.sorted
    var w1 = BigInt(0)
    grid.zip(grid.tail).foreach { case (v, nxt) =>
      val c1 = a.count(_ <= v).toLong; val c2 = b.count(_ <= v).toLong
      w1 += BigInt((b.length * c1 - a.length * c2).abs) * (nxt - v)
    }
    val expect = w1.toDouble / a.length / b.length / 1e4
    assert(math.abs(out(2).asInstanceOf[Double] - expect) < 1e-5,
      s"$out vs $expect")
  }

  test("q293: Shapley credits satisfy the efficiency axiom (sum to v(N) − v(∅))") {
    val out = rows(EventQueries.q293.fn(spark, sf))
    assert(out.size == 4)
    // Σᵢ φᵢ telescopes to v(full mask) − v(empty mask) for the
    // exactly-T empirical value function
    val masks = Tables.load(spark, sf, "events")
      .groupBy("user_id")
      .agg(Seq(("click", 1), ("error", 2), ("signup", 4), ("view", 8)).map {
          case (t, bb) => max(when(col("event_type") === t, bb).otherwise(0))
        }.reduce(_ + _).as("mask"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    def vU(mask: Int): Double = {
      val in = masks.filter(_._1 == mask)
      if (in.isEmpty) 0.0
      // mirror the query's exact integer micro rounding of conv/users
      else ((2L * in.map(_._2).sum * 1000000L + in.length) / (2L * in.length)) / 1e6
    }
    val total = out.map(_(1).asInstanceOf[Long]).sum / 24.0 / 1e6
    assert(math.abs(total - (vU(15) - vU(0))) < 1e-4,
      s"efficiency: $total vs ${vU(15) - vU(0)}")
  }

  test("q294: DTW matches a direct O(nm) DP brute force") {
    val out = rows(EventQueries.q294.fn(spark, sf))
    val daily = Tables.load(spark, sf, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    def series(t: String) = daily.filter(_._1 == t).sortBy(_._2).map(_._3)
    def dtw(a: Seq[Long], b: Seq[Long]): Long = {
      val inf = 9000000000000000L
      var prev = 0L +: Seq.fill(b.length)(inf)
      a.foreach { av =>
        val row = new Array[Long](b.length + 1); row(0) = inf
        b.indices.foreach { j =>
          row(j + 1) = (av - b(j)).abs +
            math.min(prev(j + 1), math.min(prev(j), row(j)))
        }
        prev = row.toSeq
      }
      prev.last
    }
    out.foreach { r =>
      val expect = dtw(series(r(0).asInstanceOf[String]), series(r(1).asInstanceOf[String]))
      assert(r(4).asInstanceOf[Long] == expect, s"$r vs $expect")
    }
  }

  test("q296: selection matches a direct greedy MMR brute force") {
    val out = rows(DataQueries.q296.fn(spark, sf))
    val embs = Tables.load(spark, sf, "embeddings")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def norm(a: Array[Float]) = math.sqrt(dot(a, a))
    val (qid, qv) = embs.head
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.round(dot(a, b) / (norm(a) * norm(b)) * 1e6)
    val short = embs.filter(_._1 != qid)
      .map { case (id, v) => (id, v, cosU(v, qv)) }
      .sortBy(t => (-t._3, t._1)).take(30)
    var sel = List.empty[Int] // positions 0-based
    (1 to 10).foreach { _ =>
      val best = short.indices.filterNot(sel.contains).maxBy { i =>
        val pen = if (sel.isEmpty) 0L
          else sel.map(s => cosU(short(i)._2, short(s)._2)).max
        (7 * short(i)._3 - 3 * pen, -i) // max score, tie → earlier position
      }
      sel = sel :+ best
    }
    val expectIds = sel.map(short(_)._1)
    assert(out.map(_(1).asInstanceOf[Long]) == expectIds,
      s"${out.map(_(1))} vs $expectIds")
  }

  test("q295: integer PPR replays exactly in Scala") {
    val out = rows(StatQueries.q295.fn(spark, sf))
    // rebuild the graph brute-force
    val items = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairInstances = items.groupBy(_._1).values.toSeq.flatMap { basket =>
      val ids = basket.map(_._2).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
    }
    val pcnt = scala.collection.mutable.Map.empty[(Long, Long), Int]
    pairInstances.foreach(pp => pcnt(pp) = pcnt.getOrElse(pp, 0) + 1)
    val pairs = pcnt.iterator.collect { case (pp, c) if c >= 2 => pp }.toSeq
    val edges = pairs.flatMap(p => Seq(p, p.swap))
    val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    val seeds = deg.keys.filter(_ % 97 == 0).toSeq.sorted
    val r0 = 1000000000000L / seeds.length
    val restart = 15L * r0 / 100L
    var ranks: Map[Long, Long] = seeds.map(_ -> r0).toMap
    (1 to 3).foreach { _ =>
      val inflow = edges.flatMap { case (s, d) =>
        ranks.get(s).map(r => d -> r / deg(s))
      }.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
      val nodes = inflow.keySet ++ seeds
      ranks = nodes.map { v =>
        v -> ((if (seeds.contains(v)) restart else 0L)
          + 85L * inflow.getOrElse(v, 0L) / 100L)
      }.toMap
    }
    val expect = ranks.toSeq.sortBy(t => (-t._2, t._1)).take(20)
    assert(out.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])) == expect,
      s"$out vs $expect")
  }

  test("q299: EM M-step preserves the sample mean (π₁μ₁ + π₂μ₂ = x̄)") {
    val out = rows(InferQueries.q299.fn(spark, sf)).head
    val xs = Tables.load(spark, sf, "orders")
      .select((expr("CAST(round(o_totalprice * 100) AS BIGINT)").cast("double") / 1e7))
      .collect().map(_.getDouble(0))
    val mean = xs.sum / xs.length
    val mu1 = out(1).asInstanceOf[Long] / 1e9
    val mu2 = out(2).asInstanceOf[Long] / 1e9
    val p1 = out(4 + 1).asInstanceOf[Long] / 1e9
    assert(p1 > 0 && p1 < 1, s"pi1 $p1")
    assert(out(3).asInstanceOf[Long] > 0 && out(4).asInstanceOf[Long] > 0)
    assert(mu1 < mu2, s"ordered means: $mu1 $mu2")
    assert(math.abs(p1 * mu1 + (1 - p1) * mu2 - mean) < 1e-4,
      s"mean preservation: ${p1 * mu1 + (1 - p1) * mu2} vs $mean")
  }

  test("q289: empirical test coverage is near the 90% conformal target") {
    val out = rows(InferQueries.q289.fn(spark, sf)).head
    val cov = out(3).asInstanceOf[Double]
    assert(cov >= 0.82 && cov <= 1.0, s"coverage $cov")
  }

  test("q286: Croston state replays a hand fold for every part") {
    val out = rows(AnalyticsQueries.q286.fn(spark, sf))
      .map(r => r(0).asInstanceOf[Long] ->
        (r(1).asInstanceOf[Int], r(2).asInstanceOf[Long], r(3).asInstanceOf[Long]))
      .toMap
    val daily = Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_partkey"), to_date(col("l_shipdate")).as("day"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    def rdiv10(x: Long) = (x + 5) / 10
    val expect = daily.groupBy(_._1).flatMap { case (pk, rows0) =>
      val es = rows0.sortBy(_._2.toString)
      var z = 0L; var g = 0L; var k = 0; var last: java.time.LocalDate = null
      es.foreach { case (_, day, q) =>
        val dd = if (k == 0) 0L
          else java.time.temporal.ChronoUnit.DAYS.between(last, day)
        k match {
          case 0 => z = q * 1000000L
          case 1 => z = rdiv10(2 * q * 1000000L + 8 * z); g = dd * 1000000L
          case _ => z = rdiv10(2 * q * 1000000L + 8 * z)
                    g = rdiv10(2 * dd * 1000000L + 8 * g)
        }
        k += 1; last = day
      }
      if (k >= 3) Some(pk -> ((k, z, g))) else None
    }
    assert(out == expect, s"${out.size} vs ${expect.size}")
  }

  test("q300: per-user factors match a direct 2x2 ridge solve") {
    val out = rows(TrainQueries.q300.fn(spark, sf))
    assert(out.nonEmpty)
    // replay the first output user from raw data
    val u0 = out.head(0).asInstanceOf[Long]
    val facs = rows(Tables.load(spark, sf, "part").select(col("p_brand")).distinct()
      .select(col("p_brand"),
        (graft.functions.Hashing.hash64(concat(lit("alsv1|"), col("p_brand"))) % 2001 - 1000),
        (graft.functions.Hashing.hash64(concat(lit("alsv2|"), col("p_brand"))) % 2001 - 1000)))
      .map(r => r(0).asInstanceOf[String] ->
        (r(1).asInstanceOf[Long], r(2).asInstanceOf[Long])).toMap
    val ratings = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "part").select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.load(spark, sf, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_custkey") === u0)
      .groupBy("p_brand").agg(sum(col("l_quantity").cast("long")).as("r"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var (a11, a12, a22, c1, c2) = (0L, 0L, 0L, 0L, 0L)
    ratings.foreach { case (b, r) =>
      val (v1, v2) = facs(b)
      a11 += v1 * v1; a12 += v1 * v2; a22 += v2 * v2
      c1 += r * v1; c2 += r * v2
    }
    val (a11d, a12d, a22d) = ((a11 + 100000) / 1e6, a12 / 1e6, (a22 + 100000) / 1e6)
    val (c1d, c2d) = (c1 / 1e3, c2 / 1e3)
    val det = a11d * a22d - a12d * a12d
    val u1 = math.round(1e9 * ((a22d * c1d - a12d * c2d) / det))
    val u2 = math.round(1e9 * ((a11d * c2d - a12d * c1d) / det))
    assert(math.abs(out.head(2).asInstanceOf[Long] - u1) <= 1,
      s"${out.head} vs $u1")
    assert(math.abs(out.head(3).asInstanceOf[Long] - u2) <= 1,
      s"${out.head} vs $u2")
  }

  test("q308: Borůvka MST matches a union-find Kruskal brute force") {
    // third algorithm: the query runs Borůvka, the oracle runs Prim;
    // unique weights make all three agree edge-for-edge
    val out = rows(StatQueries.q308.fn(spark, sf))
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long], r(2).asInstanceOf[Long]))
    val li = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    val ord = Tables.load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    val cn = Tables.load(spark, sf, "customer")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val sn = Tables.load(spark, sf, "supplier")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val oc = ord.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trade = li.collect()
      .map(r => (cn(oc(r.getLong(0))), sn(r.getLong(1))))
      .filter(t => t._1 != t._2)
      .map(t => (math.min(t._1, t._2), math.max(t._1, t._2)))
      .groupBy(identity).map { case ((a, b), xs) =>
        (a, b) -> ((1000000000L - xs.length) * 1000 + a * 30 + b)
      }
    val ring = (0 to 23).map(i => (i, i + 1) -> (2000000000L * 1000 + i * 30 + i + 1))
    val edges = (trade.toSeq ++ ring).groupBy(_._1)
      .map { case (k, vs) => (k._1, k._2, vs.map(_._2).min) }
      .toSeq.sortBy(_._3)
    val parent = Array.tabulate(25)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    val kruskal = edges.filter { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; true } else false
    }.map { case (a, b, w) => (a.toLong, b.toLong, w) }
    assert(out == kruskal, s"spark=$out\nkruskal=$kruskal")
  }

  test("q309: t-closeness matches a direct CDF-gap brute force") {
    val out = rows(AnalyticsQueries.q309.fn(spark, sf))
      .map(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Int]) ->
        (r(2).asInstanceOf[Long], r(3).asInstanceOf[Long])).toMap
    val data = Tables.load(spark, sf, "customer").collect().map { r =>
      (r.getString(4), math.floor(r.getDouble(3) / 1000.0).toInt, (r.getInt(2) % 5))
    }
    val n = data.length.toLong
    val gcum = (0 to 3).map(i => data.count(_._3 <= i).toLong)
    val expect = data.groupBy(t => (t._1, t._2)).map { case (g, xs) =>
      val ng = xs.length.toLong
      val tnum = (0 to 3).map(i =>
        (BigInt(xs.count(_._3 <= i)) * n - BigInt(gcum(i)) * ng).abs).sum
      g -> (ng, (tnum * 1000000000 / (BigInt(ng) * n * 4)).toLong)
    }
    out.foreach { case (g, v) => assert(expect(g) == v, s"$g: ${expect(g)} vs $v") }
    // the query returns the TOP-15 by t: nothing unreturned may beat the floor
    val floor = out.values.map(_._2).min
    val returned = out.keySet
    expect.filterNot(kv => returned(kv._1)).foreach { case (g, (_, t)) =>
      assert(t <= floor, s"unreturned $g has t=$t above returned floor $floor")
    }
  }

  test("q310/q311: IV and DID match direct cell-mean arithmetic") {
    val iv = rows(InferQueries.q310.fn(spark, sf)).head
    val cust = Tables.load(spark, sf, "customer").collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val ords = Tables.load(spark, sf, "orders").collect()
      .map(r => (r.getLong(1), math.round(r.getDouble(3) * 100),
        r.getTimestamp(4).getTime >= java.sql.Timestamp.valueOf("1998-01-01 00:00:00").getTime))
    val per = cust.keys.toSeq.map { ck =>
      val mine = ords.filter(_._1 == ck)
      (ck % 2, mine.length.toLong, mine.map(_._2).sum)
    }
    def cells(z: Long) = {
      val g = per.filter(_._1 == z)
      (g.length.toLong, g.map(_._2).sum, g.map(_._3).sum)
    }
    val ((n1, sx1, sy1), (n0, sx0, sy0)) = (cells(1), cells(0))
    val itt = (BigInt(sy1) * n0 - BigInt(sy0) * n1).toDouble / (n1.toDouble * n0) / 100
    val beta = (BigInt(sy1) * n0 - BigInt(sy0) * n1).toDouble /
      (BigInt(sx1) * n0 - BigInt(sx0) * n1).toDouble
    assert(math.abs(iv(2).asInstanceOf[Double] - itt * 100) < 1e-4, s"$iv vs ${itt * 100}")
    assert(math.abs(iv(4).asInstanceOf[Double] - beta) < 1e-4, s"$iv vs $beta")

    val did = rows(InferQueries.q311.fn(spark, sf)).head
    def cell(treat: Int, post: Boolean) = {
      val g = ords.filter(o => cust(o._1) % 2 == treat && o._3 == post)
      (g.length.toLong, g.map(_._2).sum)
    }
    val (na, sa) = cell(1, post = true); val (nb, sb) = cell(1, post = false)
    val (nc, sc) = cell(0, post = true); val (nd, sd) = cell(0, post = false)
    val expDid = (sa.toDouble / na - sb.toDouble / nb) - (sc.toDouble / nc - sd.toDouble / nd)
    assert(did(0) == na && did(1) == nb && did(2) == nc && did(3) == nd, did)
    assert(math.abs(did(8).asInstanceOf[Double] - expDid) < 1e-4, s"$did vs $expDid")
  }

  test("q340: BT fit recovers the planted ladder and replays a float MM") {
    val out = rows(AnalyticsQueries.q340.fn(spark, sf))
    assert(out.size == 8)
    val theta = out.map(_(3).asInstanceOf[Long])
    // renormalization invariant: Σθ = 8e9 nanos up to per-player rounding
    assert(math.abs(theta.sum - 8000000000L) <= 8, theta)
    // the winner rule plants θ_i ∝ i+1 — the fit must recover the order
    assert(theta == theta.sorted, s"not monotone: $theta")
    assert(out.map(_(4).asInstanceOf[Long]) == (8L to 1L by -1L), "rank")
    // independent replay: unquantized float MM from the raw order keys
    val okeys = Tables.load(spark, sf, "orders")
      .select("o_orderkey").collect().map(_.getLong(0))
    val nij = Array.ofDim[Double](8, 8); val wins = new Array[Double](8)
    okeys.foreach { k =>
      val a = (k % 8).toInt; val b = ((a + 1 + (k / 8) % 7) % 8).toInt
      val lo = math.min(a, b); val hi = math.max(a, b)
      val w = if ((k / 56) % (a + b + 2) <= hi) hi else lo
      nij(lo)(hi) += 1; nij(hi)(lo) += 1; wins(w) += 1
    }
    var th = Array.fill(8)(1.0)
    for (_ <- 1 to 5) {
      val raw = (0 until 8).map { i =>
        val den = (0 until 8).filter(j => j != i && nij(i)(j) > 0)
          .map(j => nij(i)(j) / (th(i) + th(j))).sum
        wins(i) / den
      }.toArray
      val s = raw.sum
      th = raw.map(_ * 8 / s)
    }
    out.zipWithIndex.foreach { case (r, i) =>
      assert(math.abs(r(3).asInstanceOf[Long] / 1e9 - th(i)) < 1e-4,
        s"player $i: ${r(3)} vs ${th(i)}")
    }
  }

  test("q341: packing folds replay a hand fold and conserve bin capacity") {
    val out = rows(TrainQueries.q341.fn(spark, sf))
    assert(out.nonEmpty)
    // independent replay: per-shard greedy fills over collected counts
    val toks = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        least(graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"),
          lit(128L)).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def pack(ts: Seq[Long]): (Long, Long) = {
      var bins = 0L; var fill = 0L; var waste = 0L
      ts.foreach { t =>
        if (bins == 0L) { bins = 1; fill = t }
        else if (fill + t <= 128L) fill += t
        else { bins += 1; waste += 128L - fill; fill = t }
      }
      if (bins > 0) waste += 128L - fill
      (bins, waste)
    }
    val byShard = toks.groupBy(_._1 / 64)
    out.foreach { r =>
      val Seq(shard, nDocs, nTok, _, binsA, wasteA, binsS, wasteS) =
        r.map(_.asInstanceOf[Long])
      val docs = byShard(shard).sortBy(_._1)
      assert(nDocs == docs.length && nTok == docs.map(_._2).sum)
      // capacity conservation: every opened bin is tokens + padding
      assert(binsA * 128 == nTok + wasteA, s"shard $shard arrival")
      assert(binsS * 128 == nTok + wasteS, s"shard $shard sorted")
      assert((binsA, wasteA) == pack(docs.map(_._2)), s"shard $shard arrival")
      val sorted = docs.sortBy { case (id, t) => (-t, id) }
      assert((binsS, wasteS) == pack(sorted.map(_._2)), s"shard $shard sorted")
    }
  }

  test("q344: pass@k matches a BigInt falling-factorial replay") {
    val out = rows(EventQueries.q344.fn(spark, sf))
    assert(out.nonEmpty)
    val ev = Tables.load(spark, sf, "events")
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byUser = ev.groupBy(_._1).map { case (u, g) =>
      u -> (g.length.toLong, g.count(_._2 % 3 == 0).toLong)
    }
    assert(out.map(_(0).asInstanceOf[Long]).toSet ==
      byUser.filter(_._2._1 >= 5).keySet)
    out.foreach { r =>
      val Seq(u, n, c, p1, p5) = r.map(_.asInstanceOf[Long])
      assert((n, c) == byUser(u), s"user $u counts")
      assert(p1 == (BigInt(c) * 1000000 / n).toLong, s"user $u pass@1")
      val f = n - c
      val exp5 =
        if (f < 5) 1000000L
        else {
          val num = (0 until 5).map(i => BigInt(f - i)).product * 1000000
          val den = (0 until 5).map(i => BigInt(n - i)).product
          (1000000 - num / den).toLong
        }
      assert(p5 == exp5, s"user $u pass@5: $p5 vs $exp5")
      // unbiasedness sanity: pass@5 ≥ pass@1, both in [0, 1e6]
      assert(p5 >= p1 && p1 >= 0 && p5 <= 1000000L, s"user $u bounds")
    }
  }

  test("q345: prefix-cache census matches a per-group replay") {
    val out = rows(CorpusQueries.q345.fn(spark, sf))
    assert(out.nonEmpty)
    // collect each doc's (source, first-8-token prefix, plen) once via the
    // same tokenizer column, then redo ALL grouping/rollup math in Scala
    val toks = graft.operators.TextAnalysis.tokens(col("text"))
    val docs = Tables.load(spark, sf, "documents")
      .select(col("source"), concat_ws(" ", slice(toks, 1, 8)).as("pfx"),
        least(size(toks).cast("long"), lit(8L)).as("plen"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val bySource = docs.groupBy(_._1)
    assert(out.map(_(0).asInstanceOf[String]) == bySource.keys.toSeq.sorted)
    out.foreach { r =>
      val src = r(0).asInstanceOf[String]
      val Seq(nDocs, nGroups, shared, cacheable, prefix, ratio) =
        r.drop(1).map(_.asInstanceOf[Long])
      val groups = bySource(src).groupBy(d => (d._2, d._3)).values.toSeq
      assert(nDocs == bySource(src).length && nGroups == groups.length)
      assert(shared == nDocs - nGroups, s"$src shared")
      val expCache = groups.map(g => (g.length - 1).toLong * g.head._3).sum
      val expPrefix = groups.map(g => g.length.toLong * g.head._3).sum
      assert(cacheable == expCache && prefix == expPrefix, s"$src tokens")
      assert(ratio == (BigInt(expCache) * 1000000 / expPrefix).toLong, src)
      // every cached token is a stored token: cacheable < prefix strictly
      // (each group's first member is always a miss)
      assert(cacheable < prefix, s"$src: cache cannot cover the first visit")
    }
  }

  test("q346: int8 quant errors match a scalar Scala replay of both schemes") {
    val out = rows(DataQueries.q346.fn(spark, sf))
    assert(out.nonEmpty)
    val vecs = Tables.load(spark, sf, "embeddings")
      .select(col("label").cast("long"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val dims = vecs.head._2.indices.map { d =>
      vecs.map(v => math.abs(v._2(d))).max / 127.0
    }.toArray
    def errPico(x: Double, s: Double): Long =
      if (s == 0.0) 0L
      else {
        val q = math.max(-127.0, math.min(127.0, math.floor(x / s + 0.5)))
        val e = x - q * s
        math.floor(1e12 * e * e + 0.5).toLong
      }
    val byLabel = vecs.groupBy(_._1)
    out.foreach { r =>
      val Seq(label, n, pv, pd, pvPer, pdPer, avgScale) =
        r.map(_.asInstanceOf[Long])
      val g = byLabel(label)
      assert(n == g.length, s"label $label count")
      val expPv = g.map { case (_, v) =>
        val sv = v.map(math.abs).max / 127.0
        v.map(errPico(_, sv)).sum
      }.sum
      val expPd = g.map(_._2.zip(dims).map { case (x, s) => errPico(x, s) }.sum).sum
      assert(pv == expPv, s"label $label per-vector: $pv vs $expPv")
      assert(pd == expPd, s"label $label per-dim: $pd vs $expPd")
      val ne = g.map(_._2.length.toLong).sum
      assert(pvPer == pv / ne && pdPer == pd / ne, s"label $label means")
      val expScale = g.map { case (_, v) =>
        math.floor(1e9 * v.map(math.abs).max / 127.0 + 0.5).toLong
      }.sum / n
      assert(avgScale == expScale, s"label $label scale")
      // both schemes round to ≤ half a step per element: err ≤ (s/2)²
      assert(pv >= 0 && pd >= 0)
    }
  }

  test("q347: truncation sweep matches a per-(source,ctx) replay") {
    val out = rows(TrainQueries.q347.fn(spark, sf))
    val docs = Tables.load(spark, sf, "documents")
      .select(col("source"),
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val bySource = docs.groupBy(_._1)
    assert(out.size == bySource.size * 3)
    out.foreach { r =>
      val src = r(0).asInstanceOf[String]
      val Seq(ctx, nDocs, nTok, nTrunc, lost, ratio) =
        r.drop(1).map(_.asInstanceOf[Long])
      val g = bySource(src).map(_._2)
      assert(nDocs == g.length && nTok == g.sum, s"$src/$ctx counts")
      assert(nTrunc == g.count(_ > ctx), s"$src/$ctx trunc")
      assert(lost == g.map(t => math.max(t - ctx, 0L)).sum, s"$src/$ctx lost")
      assert(ratio == (BigInt(lost) * 1000000 / nTok).toLong, s"$src/$ctx ratio")
    }
    // loss is monotone non-increasing in the budget
    out.groupBy(_(0)).values.foreach { g =>
      val byCtx = g.sortBy(_(1).asInstanceOf[Long]).map(_(5).asInstanceOf[Long])
      assert(byCtx == byCtx.sorted.reverse, s"non-monotone loss: $byCtx")
    }
  }

  test("q348: attention leak matches a hand fold and conserves pair mass") {
    val out = rows(TrainQueries.q348.fn(spark, sf))
    assert(out.nonEmpty)
    val toks = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        least(graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"),
          lit(128L)).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byShard = toks.groupBy(_._1 / 64)
    out.foreach { r =>
      val Seq(shard, nDocs, nTok, kept, leaked, ratio) =
        r.map(_.asInstanceOf[Long])
      val docs = byShard(shard).sortBy(_._1).map(_._2)
      assert(nDocs == docs.length && nTok == docs.sum, s"shard $shard counts")
      assert(kept == docs.map(t => t * (t + 1) / 2).sum, s"shard $shard kept")
      // replay the fold and record every bin's final fill
      var fill = 0L; var lk = 0L; val fills = scala.collection.mutable.Buffer[Long]()
      docs.foreach { t =>
        if (fill + t <= 128L) { lk += t * fill; fill += t }
        else { fills += fill; fill = t }
      }
      if (fill > 0) fills += fill
      assert(leaked == lk, s"shard $shard leaked: $leaked vs $lk")
      // conservation: within-doc + cross-doc = total causal pairs per bin
      assert(leaked + kept == fills.map(f => f * (f + 1) / 2).sum,
        s"shard $shard pair mass")
      assert(ratio == (BigInt(leaked) * 1000000 / (leaked + kept)).toLong)
    }
  }

  test("q349: shuffle-quality adjacency matches a sequential replay") {
    val out = rows(CorpusQueries.q349.fn(spark, sf))
    assert(out.nonEmpty)
    val seq = Tables.load(spark, sf, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).map(_._2)
    val n = seq.length.toLong
    val lead = seq.init.zip(seq.tail)
    val bySrc = seq.groupBy(identity).map { case (s, g) => s -> g.length.toLong }
    out.foreach { r =>
      val src = r(0).asInstanceOf[String]
      val Seq(nDocs, leadPairs, samePairs, expMicro, ratio) =
        r.drop(1).map(_.asInstanceOf[Long])
      assert(nDocs == bySrc(src), s"$src n_docs")
      val mine = lead.filter(_._1 == src)
      assert(leadPairs == mine.length, s"$src lead")
      assert(samePairs == mine.count(p => p._2 == src), s"$src same")
      assert(expMicro ==
        (BigInt(leadPairs) * (nDocs - 1) * 1000000 / (n - 1)).toLong, src)
      assert(ratio == (BigInt(samePairs) * 1000000 * (n - 1) /
        (BigInt(leadPairs) * (nDocs - 1))).toLong, src)
    }
    // conservation: every adjacent pair is led by exactly one source
    assert(out.map(_(2).asInstanceOf[Long]).sum == n - 1, "lead pairs sum")
  }

  test("q350: mojibake census matches a Scala replay and every branch fires") {
    val out = rows(CorpusQueries.q350.fn(spark, sf))
    assert(out.nonEmpty)
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val damaged = docs.map { case (id, src, text) =>
      val k = id % 60
      val t =
        if (k % 7 == 0) text.replace("e", "Ã©")
        else if (k % 11 == 0) text + "�"
        else if (k % 13 == 0) "" + text
        else text
      (src, t.count(_ == 'Ã').toLong, t.count(_ == '�').toLong,
        t.count(_ == '').toLong)
    }
    val bySrc = damaged.groupBy(_._1)
    out.foreach { r =>
      val src = r(0).asInstanceOf[String]
      val Seq(n, nm, nr, nc, nd, mc, rc, cc, ratio) =
        r.drop(1).map(_.asInstanceOf[Long])
      val g = bySrc(src)
      assert(n == g.length)
      assert(nm == g.count(_._2 > 0) && nr == g.count(_._3 > 0) &&
        nc == g.count(_._4 > 0), s"$src doc counts")
      assert(nd == g.count(d => d._2 > 0 || d._3 > 0 || d._4 > 0), s"$src damaged")
      assert(mc == g.map(_._2).sum && rc == g.map(_._3).sum &&
        cc == g.map(_._4).sum, s"$src char mass")
      assert(ratio == (BigInt(n - nd) * 1000000 / n).toLong, s"$src ratio")
    }
    // the injection must actually exercise all three damage categories
    assert(out.map(_(2).asInstanceOf[Long]).sum > 0, "no latin-1 mojibake docs")
    assert(out.map(_(3).asInstanceOf[Long]).sum > 0, "no replacement-char docs")
    assert(out.map(_(4).asInstanceOf[Long]).sum > 0, "no C1-control docs")
  }

  test("q351: quantization recall matches a brute-force double replay") {
    // brute force over the full index for the audit-sample probes
    // (sampled ≡ exact-restricted is pinned in MutualNNSpec)
    val out = rows(DataQueries.q351.fn(spark, sf))
    assert(out.nonEmpty)
    val vecs = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def top1(vs: Array[(Long, Long, Array[Float])]): Map[Long, (Long, Double)] =
      vs.map { case (id, _, v) =>
        val best = vs.filter(_._1 != id).map { case (nb, _, w) =>
          (dot(v, w) / (math.sqrt(dot(v, v)) * math.sqrt(dot(w, w))), nb)
        }.maxBy { case (c, nb) => (c, -nb) }
        id -> (best._2, best._1)
      }.toMap
    val quant = vecs.map { case (id, l, v) =>
      val sv = v.map(x => math.abs(x.toDouble)).max / 127.0
      (id, l, v.map { x =>
        (math.max(-127.0, math.min(127.0,
          math.floor(x.toDouble / sv + 0.5))) * sv).toFloat
      })
    }
    val (tf, tq) = (top1(vecs), top1(quant))
    val sample = graft.operators.ExactNN.auditSample(vecs.map(_._1).toSeq)
    val byLabel = vecs.filter(v => sample(v._1)).groupBy(_._2)
    assert(out.map(_.head.asInstanceOf[Long]).toSet == byLabel.keySet)
    out.foreach { r =>
      val Seq(label, n, same, cf, cq, recall) = r.map(_.asInstanceOf[Long])
      val ids = byLabel(label).map(_._1)
      assert(n == ids.length)
      assert(same == ids.count(id => tf(id)._1 == tq(id)._1), s"label $label")
      assert(cf == ids.map(id => math.round(1e9 * tf(id)._2)).sum, s"label $label cf")
      assert(cq == ids.map(id => math.round(1e9 * tq(id)._2)).sum, s"label $label cq")
      assert(recall == (BigInt(same) * 1000000 / n).toLong)
    }
    // int8-at-64-dims should preserve most top-1 neighbors
    val (tot, agree) = (out.map(_(1).asInstanceOf[Long]).sum,
      out.map(_(2).asInstanceOf[Long]).sum)
    assert(agree * 2 > tot, s"recall collapsed: $agree/$tot")
  }

  test("q352: Fleiss kappa matches the textbook per-item formula") {
    val r = rows(InferQueries.q352.fn(spark, sf)).head
    val docs = Tables.load(spark, sf, "documents")
      .select(col("n_chars").cast("long"), col("text")).collect()
      .map(x => (x.getLong(0), x.getString(1)))
    val ratings = docs.map { case (nc, text) =>
      val toks = text.trim.split("\\s+")
      val (nt, dt) = (toks.length.toLong, toks.distinct.length.toLong)
      val a = if (nc < 200) 0 else if (nc < 500) 1 else 2
      val b = if (nt < 40) 0 else if (nt < 100) 1 else 2
      val c = if (dt * 10 / nt < 5) 0 else if (dt * 10 / nt < 8) 1 else 2
      Seq(a, b, c)
    }
    val n = ratings.length
    // textbook route: per-item category counts, P_i, category shares
    val pis = ratings.map { rs =>
      val counts = (0 to 2).map(j => rs.count(_ == j))
      (counts.map(c => c * c).sum - 3).toDouble / 6.0
    }
    val po = pis.sum / n
    val pj = (0 to 2).map(j => ratings.map(_.count(_ == j)).sum.toDouble / (3.0 * n))
    val pe = pj.map(p => p * p).sum
    val kappa = (po - pe) / (1.0 - pe)
    assert(r(0) == n.toLong)
    (0 to 2).foreach { j =>
      assert(r(1 + j) == ratings.map(_.count(_ == j)).sum.toLong, s"c$j")
    }
    assert(math.abs(r(5).asInstanceOf[Double] - po) < 1e-6, s"po ${r(5)} vs $po")
    assert(math.abs(r(6).asInstanceOf[Double] - pe) < 1e-6, s"pe ${r(6)} vs $pe")
    assert(math.abs(r(7).asInstanceOf[Double] - kappa) < 1e-6,
      s"kappa ${r(7)} vs $kappa")
    // at sf0.001 the diversity rater anti-correlates with the length
    // raters (long docs repeat tokens) → kappa is legitimately BELOW
    // zero — exactly the ensemble-your-judges failure the metric
    // exists to expose; only pin the mathematical range
    assert(!kappa.isNaN && kappa > -1.0 && kappa < 1.0, s"kappa $kappa")
  }

  test("q354: dataset card agrees with its component audits and a replay") {
    val out = rows(CorpusQueries.q354.fn(spark, sf))
    assert(out.nonEmpty)
    // cross-query consistency: the card's composite fields must equal
    // the standalone audits they compose
    val p345 = rows(CorpusQueries.q345.fn(spark, sf))
      .map(r => r(0).asInstanceOf[String] -> r(6).asInstanceOf[Long]).toMap
    val p347 = rows(TrainQueries.q347.fn(spark, sf))
      .filter(_(1).asInstanceOf[Long] == 2048L)
      .map(r => r(0).asInstanceOf[String] ->
        (r(5).asInstanceOf[Long], r(6).asInstanceOf[Long])).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val keeper = docs.groupBy(d => d._3).map { case (_, g) => g.map(_._1).min }.toSet
    val bySrc = docs.groupBy(_._2)
    out.foreach { r =>
      val src = r(0).asInstanceOf[String]
      val Seq(n, nt, dup, dupShare, short, shortShare, lost, lostMicro,
        pfxShare, qlo, qmid, qhi) = r.drop(1).map(_.asInstanceOf[Long])
      val g = bySrc(src)
      assert(n == g.length && nt == g.map(_._4).sum, s"$src size")
      assert(dup == g.count(d => !keeper.contains(d._1)), s"$src dup")
      assert(short == g.count(_._4 < 30), s"$src short")
      assert(lost == g.map(d => math.max(d._4 - 2048L, 0L)).sum, s"$src lost")
      assert(qlo + qmid + qhi == n, s"$src quality buckets partition")
      assert(dupShare == (BigInt(dup) * 1000000 / n).toLong)
      assert(shortShare == (BigInt(short) * 1000000 / n).toLong)
      assert((lost, lostMicro) == p347(src), s"$src truncation ≠ q347")
      assert(pfxShare == p345(src), s"$src prefix share ≠ q345")
    }
  }

  test("q356: MRL truncation recall matches a brute-force replay") {
    val out = rows(DataQueries.q356.fn(spark, sf))
    assert(out.nonEmpty)
    val vecs = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getSeq[Float](2).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def top1(vs: Array[(Long, Array[Float])]): Map[Long, (Long, Double)] =
      vs.map { case (id, v) =>
        val best = vs.filter(_._1 != id).map { case (nb, w) =>
          (dot(v, w) / (math.sqrt(dot(v, v)) * math.sqrt(dot(w, w))), nb)
        }.maxBy { case (c, nb) => (c, -nb) }
        id -> (best._2, best._1)
      }.toMap
    val full = top1(vecs.map(v => (v._1, v._3)))
    val sample = graft.operators.ExactNN.auditSample(vecs.map(_._1).toSeq)
    val byLabel = vecs.filter(v => sample(v._1)).groupBy(_._2)
    assert(out.map(_.head.asInstanceOf[Long]).toSet == byLabel.keySet)
    Seq(16, 32).foreach { d =>
      val trunc = top1(vecs.map(v => (v._1, v._3.take(d))))
      out.filter(_(1).asInstanceOf[Long] == d.toLong).foreach { r =>
        val Seq(label, _, n, same, ct, recall) = r.map(_.asInstanceOf[Long])
        val ids = byLabel(label).map(_._1)
        assert(n == ids.length)
        assert(same == ids.count(id => full(id)._1 == trunc(id)._1),
          s"label $label dims $d")
        assert(ct == ids.map(id => math.round(1e9 * trunc(id)._2)).sum)
        assert(recall == (BigInt(same) * 1000000 / n).toLong)
      }
    }
    // halving to 32 dims must preserve some neighbors somewhere
    assert(out.filter(_(1).asInstanceOf[Long] == 32L)
      .map(_(3).asInstanceOf[Long]).sum > 0, "32-dim recall collapsed to zero")
  }

  test("q357: ES weighted sample matches an exact per-source replay") {
    val out = rows(CorpusQueries.q357.fn(spark, sf))
    assert(out.nonEmpty)
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def esKey(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      math.log((h.toDouble + 0.5) / 1152921504606846976.0) / w.toDouble
    }
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, g) =>
      g.map(d => (src, d._1, d._3, esKey(d._1, d._3)))
        .sortBy { case (_, id, _, k) => (-k, id) }.take(5).toSeq
    }.sortBy(e => (e._1, e._2))
    val got = out.map(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Long],
      r(2).asInstanceOf[Long], r(3).asInstanceOf[Double]))
    assert(got.map(g => (g._1, g._2, g._3)) ==
      expected.map(e => (e._1, e._2, e._3)), "sample membership")
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) < 1e-6, s"key ${g._2}")
    }
    // without replacement: all sampled ids distinct, exactly 5 per source
    assert(got.map(_._2).distinct.size == got.size)
    assert(got.groupBy(_._1).values.forall(_.size == 5))
  }

  test("q359: dup histogram matches a replay and conserves doc/token mass") {
    val out = rows(CorpusQueries.q359.fn(spark, sf))
    assert(out.size >= 2, s"histogram degenerate: $out")
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"),
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val audited = docs ++ docs.filter(_._1 % 50 % 7 == 0) ++
      docs.filter(_._1 % 50 % 21 == 0)
    val clusters = audited.groupBy(_._2).values
      .map(g => (g.size.toLong, g.map(_._3).sum, g.map(_._3).min)).toSeq
    out.foreach { r =>
      val Seq(s2, nc, nt, rd, rt) = r.map(_.asInstanceOf[Long])
      val mine = clusters.filter(_._1 == s2)
      assert(nc == mine.size, s"size $s2 clusters")
      assert(nt == mine.map(_._2).sum && rd == nc * (s2 - 1), s"size $s2 mass")
      assert(rt == mine.map(c => c._2 - c._3).sum, s"size $s2 reclaim")
    }
    // conservation: histogram covers every audited doc exactly once
    assert(out.map(r => r(0).asInstanceOf[Long] * r(1).asInstanceOf[Long]).sum ==
      audited.length.toLong)
  }

  test("q360: char entropy matches a textbook Shannon replay") {
    val out = rows(CorpusQueries.q360.fn(spark, sf))
    assert(out.nonEmpty)
    val docs = Tables.load(spark, sf, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySrc = docs.groupBy(_._1)
    out.foreach { r =>
      val src = r(0).asInstanceOf[String]
      val Seq(n, d, h, hmax) = r.drop(1).map(_.asInstanceOf[Long])
      val freq = bySrc(src).flatMap(_._2.toCharArray)
        .groupBy(identity).map { case (_, g) => g.length.toLong }.toSeq
      assert(n == freq.sum && d == freq.size, s"$src counts")
      // textbook H (plain double sum) vs the engine's quantized route —
      // they agree to the micro-bit within quantization error
      val hExp = freq.map { c =>
        val p = c.toDouble / n
        -p * math.log(p) / math.log(2.0)
      }.sum
      assert(math.abs(h / 1e6 - hExp) < 1e-4, s"$src H: ${h / 1e6} vs $hExp")
      assert(hmax == math.round(1e6 * math.log(d.toDouble) / math.log(2.0)))
      // entropy is bounded by the alphabet and positive on real text
      assert(h > 0 && h <= hmax, s"$src bounds")
      // natural prose sits in a narrow band — binary junk would not
      assert(h > 3000000L && h < 6000000L, s"$src ${h / 1e6} bits/char")
    }
  }

  test("q361: speculative speedup matches a BigInt geometric-sum replay") {
    val out = rows(EventQueries.q361.fn(spark, sf))
    assert(out.nonEmpty)
    val ev = Tables.load(spark, sf, "events")
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byUser = ev.groupBy(_._1).map { case (u, g) =>
      u -> (g.length.toLong, g.count(_._2 % 4 != 0).toLong)
    }
    out.foreach { r =>
      val Seq(u, n, c, am, em) = r.map(_.asInstanceOf[Long])
      assert((n, c) == byUser(u), s"user $u counts")
      assert(am == (BigInt(c) * 1000000 / n).toLong)
      val exp =
        if (c == n) 5000000L
        else ((BigInt(n).pow(5) - BigInt(c).pow(5)) * 1000000 /
          (BigInt(n).pow(4) * (n - c))).toLong
      assert(em == exp, s"user $u: $em vs $exp")
      // the identity really is the geometric sum Σ_{i=0..4} p^i: replay
      // it term-by-term as exact rationals over the common denominator n⁴
      val sumNum = (0 to 4).map(i => BigInt(c).pow(i) * BigInt(n).pow(4 - i)).sum
      assert(exp == (sumNum * 1000000 / BigInt(n).pow(4)).toLong ||
        c == n, s"user $u geometric identity")
      // bounds: 1 ≤ E[tokens/step] ≤ γ+1
      assert(em >= 1000000L && em <= 5000000L, s"user $u bounds")
    }
  }

  test("q362: moment-identity anisotropy matches the literal pairwise mean") {
    val out = rows(DataQueries.q362.fn(spark, sf))
    assert(out.nonEmpty)
    val vecs = Tables.load(spark, sf, "embeddings")
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0).toLong, r.getSeq[Float](1).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val byLabel = vecs.groupBy(_._1)
    assert(out.size == byLabel.size)
    out.foreach { r =>
      val Seq(label, n, normMicro) = r.take(3).map(_.asInstanceOf[Long])
      val g = byLabel(label).map(_._2)
      assert(n == g.length, s"label $label n")
      val units = g.map { v =>
        val d = v.map(_.toDouble)
        val nm = math.sqrt(dot(d, d)); d.map(_ / nm)
      }
      if (g.length < 2) assert(r(3) == null, s"label $label: single vector must be NULL")
      else {
        val mpc = r(3).asInstanceOf[Double]
        // the literal O(n²) mean the moment identity replaces
        val pairs = for {
          i <- units.indices; j <- units.indices if i != j
        } yield dot(units(i), units(j))
        val lit = pairs.sum / pairs.length
        assert(math.abs(mpc - lit) < 1e-4, s"label $label: $mpc vs $lit")
      }
      val d0 = g.map(_.map(_.toDouble))
      val nmm = d0.map(v => math.floor(math.sqrt(dot(v, v)) * 1e6 + 0.5).toLong).sum / n
      assert(normMicro == nmm, s"label $label norm")
    }
  }

  test("q363: sorted-neighborhood shortlist matches a full replay; clones at Hamming 0") {
    val out = rows(DataQueries.q363.fn(spark, sf))
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long], r(2).asInstanceOf[Long]))
    val docs0 = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val docs = docs0 ++ docs0.filter(_._1 % 50 == 0)
      .map { case (id, t) => (id + 1000000000L, t) }
    def simhash48(text: String): Long = {
      val toks = text.trim.split("\\s+").distinct
      (0 until 48).map { b =>
        val bal = toks.map(w => ((graft.functions.Hashing.hash64Local(w) >> b) & 1L) * 2 - 1).sum
        if (bal > 0) 1L << b else 0L
      }.sum
    }
    val ranked = docs.map { case (id, t) => (id, simhash48(t)) }
      .sortBy { case (id, sh) => (sh, id) }
    val adj = ranked.sliding(2).collect { case Array((ia, sa), (ib, sb)) =>
      (ia, ib, java.lang.Long.bitCount(sa ^ sb).toLong)
    }.toSeq
    val want = adj.sortBy { case (a, _, h) => (h, a) }.take(20)
      .map { case (a, b, h) => (a, b, h) }
    assert(out == want, s"got $out\nwant $want")
    // every planted clone is its original's sort neighbor at distance 0
    assert(out.exists { case (a, b, h) =>
      h == 0L && (b - a == 1000000000L || a - b == 1000000000L) },
      "no clone pair surfaced at Hamming 0")
  }

  test("q364: source containment matrix matches a Scala set replay") {
    val out = rows(DataQueries.q364.fn(spark, sf))
    assert(out.nonEmpty)
    val docs = Tables.load(spark, sf, "documents")
      .select("source", "text").collect().map(r => (r.getString(0), r.getString(1)))
    def shingles(t: String): Set[Long] =
      graft.expressions.MinhashKernel
        .shingleHashes(org.apache.spark.unsafe.types.UTF8String.fromString(t), 3)
        .toLongArray().toSet
    val bySrc = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.flatMap(d => shingles(d._2)).toSet
    }
    val want = (for {
      (a, sa) <- bySrc; (b, sb) <- bySrc if a != b
      shared = (sa & sb).size if shared > 0
    } yield (a, b) -> (shared.toLong, sa.size.toLong,
      (BigInt(shared) * 1000000 / sa.size).toLong)).toMap
    assert(out.size == want.size, s"${out.size} rows vs ${want.size}")
    out.foreach { r =>
      val key = (r(0).asInstanceOf[String], r(1).asInstanceOf[String])
      val got = (r(2).asInstanceOf[Long], r(3).asInstanceOf[Long], r(4).asInstanceOf[Long])
      assert(got == want(key), s"$key: $got vs ${want(key)}")
    }
  }

  test("q365: F2 sketch estimate replays exactly and is one-sided") {
    val out = rows(ScaleQueries.q365.fn(spark, sf)).head.map(_.asInstanceOf[Long])
    val Seq(nRows, nKeys, f2Exact, f2Est, overMicro) = out
    val keys = Tables.load(spark, sf, "lineitem")
      .select("l_partkey").collect().map(_.getLong(0))
    val counts = keys.groupBy(identity).map(_._2.length.toLong)
    assert(nRows == keys.length && nKeys == counts.size)
    assert(f2Exact == counts.map(c => c * c).sum)
    // replay the d=4, w=4096 count-min inner product with the same
    // affine md5-coefficient hashes
    val coeffs = graft.operators.Dedup.minhashCoeffs(4)
    val est = coeffs.map { case (a, b) =>
      val buckets = new Array[Long](4096)
      keys.foreach { k =>
        val h = (((a % graft.operators.Dedup.MinhashP) * k + b) %
          graft.operators.Dedup.MinhashP % 4096).toInt
        buckets(h) += 1
      }
      buckets.map(c => c * c).sum
    }.min
    assert(f2Est == est, s"$f2Est vs $est")
    // one-sided estimator: collision cross-terms only ADD
    assert(f2Est >= f2Exact)
    assert(overMicro == (BigInt(f2Est - f2Exact) * 1000000 / f2Exact).toLong)
  }

  test("q375: HLL registers replay exactly and the estimate lands within 5 sigma") {
    val out = rows(ScaleQueries.q375.fn(spark, sf))
    assert(out.nonEmpty)
    val data = Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for (row <- out) {
      val flag = row(0).asInstanceOf[String]
      val nExact = row(1).asInstanceOf[Long]
      val vZero = row(2).asInstanceOf[Long]
      val sScaled = row(3).asInstanceOf[Long]
      val estHll = row(5).asInstanceOf[Double]
      val ks = data.filter(_._1 == flag).map(_._2)
      assert(nExact == ks.distinct.length.toLong)
      // replay registers with the same md5-prefix hash
      val regs = new Array[Int](4096)
      ks.foreach { k =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(k.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        val h = java.lang.Long.parseLong(hex, 16)
        val j = (h % 4096).toInt
        val w = h / 4096
        val rho = if (w == 0) 49 else 49 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rho > regs(j)) regs(j) = rho
      }
      assert(vZero == regs.count(_ == 0).toLong, s"$flag v_zero")
      val s = regs.map(m => 1L << (49 - m)).sum
      assert(sScaled == s, s"$flag s_scaled $sScaled vs $s")
      // HLL standard error is 1.04/sqrt(4096) ~ 1.63%; 5 sigma bound
      assert(math.abs(estHll - nExact) <= 5 * 0.0163 * nExact,
        s"$flag estimate $estHll vs exact $nExact")
    }
    // mergeability: max-merging per-partition register arrays equals the
    // single-pass sketch (the property that lets 1000 executors sketch
    // locally and union by max)
    val ks = data.map(_._2)
    def sketch(xs: Array[Long]): Array[Int] = {
      val r = new Array[Int](4096)
      xs.foreach { k =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(k.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        val h = java.lang.Long.parseLong(hex, 16)
        val j = (h % 4096).toInt
        val w = h / 4096
        val rho = if (w == 0) 49 else 49 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rho > r(j)) r(j) = rho
      }
      r
    }
    val whole = sketch(ks)
    val merged = ks.grouped(math.max(1, ks.length / 7)).map(g => sketch(g.toArray))
      .reduce((x, y) => x.zip(y).map { case (p, q) => math.max(p, q) })
    assert(whole.toSeq == merged.toSeq)
  }

  test("q376: KS statistic replays against a direct ECDF sup-difference") {
    val out = rows(StatQueries.q376.fn(spark, sf)).head
    val n1 = out(0).asInstanceOf[Long]
    val n2 = out(1).asInstanceOf[Long]
    val dNum = out(2).asInstanceOf[Long]
    val dStat = out(3).asInstanceOf[Double]
    val pValue = out(5).asInstanceOf[Double]
    val docs = Tables.load(spark, sf, "documents")
      .select(col("lang"), col("n_chars"))
      .collect().map(r => (r.getString(0) == "en", r.getLong(1)))
    val s1 = docs.filter(_._1).map(_._2).sorted
    val s2 = docs.filterNot(_._1).map(_._2).sorted
    assert(n1 == s1.length.toLong && n2 == s2.length.toLong)
    // direct sup over the union of observed values, as exact integers
    val want = (s1 ++ s2).distinct.map { v =>
      val c1 = s1.count(_ <= v).toLong; val c2 = s2.count(_ <= v).toLong
      math.abs(c1 * n2 - c2 * n1)
    }.max
    assert(dNum == want, s"$dNum vs $want")
    assert(math.abs(dStat - want.toDouble / (n1 * n2)) < 1e-6)
    assert(pValue >= 0.0 && pValue <= 1.0)
    // self-comparison sanity: equal samples give D = 0 in the same math
    val self = s1.distinct.map { v =>
      val c = s1.count(_ <= v).toLong
      math.abs(c * n1 - c * n1)
    }.max
    assert(self == 0L)
  }
}
