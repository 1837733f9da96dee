package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables

/** Behavioral properties of the inference batch (q237–q244) — the
  * oracle gate proves engine-vs-engine equality; these pin the math
  * against independent in-process brute-force replays (collected at
  * sf0.001, computed with plain Scala collections) plus the
  * invariants a wrong-but-consistent implementation would break
  * (bounds, symmetry).
  */
class InferQueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q237: z and U match a direct average-rank brute force") {
    val out = rows(InferQueries.q237.fn(spark, sf)).head
    val data = Tables.load(spark, sf, "lineitem")
      .filter(col("l_returnflag").isin("A", "R"))
      .select(col("l_quantity").cast("long"), col("l_returnflag"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val sorted = data.map(_._1).sorted
    val rankOf = sorted.distinct.map { v =>
      val below = sorted.count(_ < v); val c = sorted.count(_ == v)
      v -> (below + (c + 1) / 2.0)
    }.toMap
    val n1 = data.count(_._2 == "R").toDouble
    val n2 = data.count(_._2 == "A").toDouble
    val r1 = data.filter(_._2 == "R").map(t => rankOf(t._1)).sum
    val u1 = r1 - n1 * (n1 + 1) / 2.0
    val ties = sorted.groupBy(identity).values.map(_.size.toLong)
      .map(c => c * c * c - c).sum.toDouble
    val nn = n1 + n2
    val sigma = math.sqrt(n1 * n2 / 12.0 * (nn + 1.0 - ties / (nn * (nn - 1.0))))
    val z = (u1 - n1 * n2 / 2.0) / sigma
    assert(out(0).asInstanceOf[Long].toDouble == n1)
    assert(math.abs(out(2).asInstanceOf[Double] - u1) < 1e-6, s"u1 $out vs $u1")
    assert(math.abs(out(3).asInstanceOf[Double] - z) < 1e-5, s"z $out vs $z")
  }

  test("q238: t and df match a direct two-sample brute force") {
    val out = rows(InferQueries.q238.fn(spark, sf)).head
    val data = Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)"), col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def stats(p: String): (Double, Double, Double) = {
      val xs = data.filter(_._2 == p).map(_._1.toDouble)
      val n = xs.length.toDouble
      val m = xs.sum / n
      val v = xs.map(x => (x - m) * (x - m)).sum / (n - 1)
      (n, m, v)
    }
    val (na, ma, va) = stats("1-URGENT"); val (nb, mb, vb) = stats("5-LOW")
    val t = (ma - mb) / math.sqrt(va / na + vb / nb)
    val df = math.pow(va / na + vb / nb, 2) /
      (math.pow(va / na, 2) / (na - 1) + math.pow(vb / nb, 2) / (nb - 1))
    assert(math.abs(out(4).asInstanceOf[Double] - t) < 1e-4, s"t $out vs $t")
    assert(math.abs(out(5).asInstanceOf[Double] - df) < 1e-2, s"df $out vs $df")
  }

  test("q239: F matches a direct one-way ANOVA brute force") {
    val out = rows(InferQueries.q239.fn(spark, sf)).head
    val data = Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"), expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1).toDouble))
    val groups = data.groupBy(_._1).values.map(_.map(_._2)).toSeq
    val n = data.length.toDouble; val k = groups.size.toDouble
    val grand = data.map(_._2).sum / n
    val ssb = groups.map(g => g.length * math.pow(g.sum / g.length - grand, 2)).sum
    val ssw = groups.map(g => { val m = g.sum / g.length; g.map(x => (x - m) * (x - m)).sum }).sum
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    assert(out(0).asInstanceOf[Long] == 3L)
    assert(math.abs(out(2).asInstanceOf[Double] / f - 1.0) < 1e-6, s"F $out vs $f")
  }

  test("q240: Brown-Forsythe F matches brute force on |x - group median|") {
    val out = rows(InferQueries.q240.fn(spark, sf)).head
    val data = Tables.load(spark, sf, "orders")
      .select(col("o_orderpriority"), expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val devG = data.groupBy(_._1).values.map { vs =>
      val xs = vs.map(_._2).sorted
      // lower median: min v with 2*cum >= n over the sorted values
      val med = xs((xs.length - 1) / 2)
      vs.map(t => math.abs(t._2 - med).toDouble)
    }.toSeq
    val devs = devG.flatten
    val n = devs.length.toDouble; val k = devG.size.toDouble
    val grand = devs.sum / n
    val ssb = devG.map(g => g.length * math.pow(g.sum / g.length - grand, 2)).sum
    val ssw = devG.map(g => { val m = g.sum / g.length; g.map(x => (x - m) * (x - m)).sum }).sum
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    assert(out(0).asInstanceOf[Long] == 5L)
    assert(math.abs(out(2).asInstanceOf[Double] / f - 1.0) < 1e-5, s"F_bf $out vs $f")
  }

  test("q241: per-nation slope is the lower median of all pairwise slopes") {
    val out = rows(InferQueries.q241.fn(spark, sf))
      .map(r => r(0).asInstanceOf[String] -> r(2).asInstanceOf[Double]).toMap
    val monthly = Tables.load(spark, sf, "orders")
      .join(Tables.load(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, sf, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1).as("m"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val byNation = monthly.groupBy(_._1)
    byNation.foreach { case (nation, pts) =>
      val slopes = (for {
        a <- pts; b <- pts if a._2 < b._2
      } yield (b._3 - a._3).toDouble / (b._2 - a._2).toDouble).sorted
      if (slopes.nonEmpty) {
        val med = slopes((slopes.length - 1) / 2)
        assert(math.abs(out(nation) - med) < 1e-5, s"$nation: ${out(nation)} vs $med")
      }
    }
  }

  test("q242: log-rank brute force from raw events, chi2 >= 0") {
    val out = rows(InferQueries.q242.fn(spark, sf)).head
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("long").as("sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val wmax = ev.map(_._4).max
    val lives = ev.groupBy(_._1).values.flatMap { es =>
      val cohort = es.minBy(e => (e._4, e._2))._3
      if (cohort == "click" || cohort == "view") {
        val first = es.map(_._4).min; val last = es.map(_._4).max
        Some((if (cohort == "click") 1 else 0,
          (last - first) / 3600, if (last < wmax - 48L * 3600) 1 else 0))
      } else None
    }.toSeq
    val durs = lives.filter(_._3 == 1).map(_._2).distinct.sorted
    var (o1, e1u, vu) = (0L, 0L, 0L)
    durs.foreach { t =>
      val at = lives.filter(_._2 >= t)
      val r1 = at.count(_._1 == 1).toLong; val r2 = at.count(_._1 == 0).toLong
      val d1 = lives.count(l => l._2 == t && l._1 == 1 && l._3 == 1).toLong
      val d2 = lives.count(l => l._2 == t && l._1 == 0 && l._3 == 1).toLong
      val d = d1 + d2; val nn = r1 + r2
      o1 += d1
      e1u += math.round(1e6 * (d * r1).toDouble / nn.toDouble)
      if (nn >= 2)
        vu += math.round(1e6 * (d * r1).toDouble / nn.toDouble
          * (r2.toDouble / nn.toDouble) * ((nn - d).toDouble / (nn - 1).toDouble))
    }
    if (durs.isEmpty) {
      // zero deaths (sf0.001 is this degenerate): the statistic is
      // undefined and the query must say so with a NULL row — matching
      // the oracle's aggregate-over-empty-set behavior — not a 0 or NaN
      assert(out == Seq(null, null, null), s"expected NULL row, got $out")
    } else {
      val chi2 = math.pow(o1.toDouble - e1u / 1e6, 2) / (vu / 1e6)
      assert(out(0).asInstanceOf[Long] == o1)
      assert(math.abs(out(1).asInstanceOf[Double] - e1u / 1e6) < 1e-5)
      assert(math.abs(out(2).asInstanceOf[Double] - chi2) < 1e-4)
      assert(out(2).asInstanceOf[Double] >= 0.0)
    }
  }

  test("q242: non-degenerate at sf0.01 — deaths observed, chi2 finite") {
    val out = rows(InferQueries.q242.fn(spark, "/root/testdata/sf0.01")).head
    assert(out(0).asInstanceOf[Long] > 0)
    val chi2 = out(2).asInstanceOf[Double]
    assert(!chi2.isNaN && chi2 >= 0.0, s"chi2 $chi2")
  }

  test("q243: kappa matches brute force and is bounded by po") {
    val out = rows(InferQueries.q243.fn(spark, sf)).head
    val docs = Tables.load(spark, sf, "documents")
      .select(col("n_chars"), col("text")).collect()
      .map(r => (r.getLong(0) >= 300, r.getString(1).trim.split("\\s+").length >= 50))
    val n = docs.length.toDouble
    val n11 = docs.count(t => t._1 && t._2).toDouble
    val n10 = docs.count(t => t._1 && !t._2).toDouble
    val n01 = docs.count(t => !t._1 && t._2).toDouble
    val n00 = docs.count(t => !t._1 && !t._2).toDouble
    val po = (n11 + n00) / n
    val pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / (n * n)
    val kappa = (po - pe) / (1 - pe)
    assert(out(1).asInstanceOf[Long].toDouble == n11)
    assert(math.abs(out(7).asInstanceOf[Double] - kappa) < 1e-6)
    assert(out(7).asInstanceOf[Double] <= 1.0 + 1e-9)
  }

  test("q254: S matches a brute-force pairwise sign count per nation") {
    val out = rows(InferQueries.q254.fn(spark, sf))
      .map(r => r(0).asInstanceOf[String] -> (r(1).asInstanceOf[Long], r(2).asInstanceOf[Long])).toMap
    val monthly = Tables.load(spark, sf, "orders")
      .join(Tables.load(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, sf, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1).as("m"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    monthly.groupBy(_._1).foreach { case (nation, pts) =>
      val s = (for { a <- pts; b <- pts if a._2 < b._2 }
        yield java.lang.Long.signum(b._3 - a._3).toLong).sum
      assert(out(nation) == ((pts.length.toLong, s)), s"$nation: ${out(nation)} vs ($s)")
    }
  }

  test("q255: chosen split maximizes the brute-force between-segment gain") {
    val out = rows(InferQueries.q255.fn(spark, sf))
      .map(r => r(0).asInstanceOf[String] -> (r(2).asInstanceOf[Long], r(5).asInstanceOf[Double])).toMap
    val daily = Tables.load(spark, sf, "events")
      .groupBy(col("event_type"), expr("CAST(ts AS LONG) div 86400").as("d"))
      .agg(count(lit(1)).as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    daily.groupBy(_._1).foreach { case (et, pts0) =>
      val pts = pts0.sortBy(_._2)
      val n = pts.length
      if (n >= 2) {
        val gains = (1 until n).map { k =>
          val s1 = pts.take(k).map(_._3).sum; val s2 = pts.drop(k).map(_._3).sum
          val d = (s1 * (n - k) - s2 * k).toDouble
          (pts(k - 1)._2, math.round(1e6 * d * d / (n.toDouble * k * (n - k))))
        }
        val best = gains.minBy { case (day, g) => (-g, day) }
        assert(out(et)._1 == best._1, s"$et: split ${out(et)._1} vs ${best._1}")
        assert(math.abs(out(et)._2 - best._2 / 1e6) < 1e-5)
      }
    }
  }

  test("q256: MASE is the exact ratio of the two integer error sums") {
    val out = rows(InferQueries.q256.fn(spark, sf))
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r(1).asInstanceOf[Long].toDouble
      val mae1 = r(2).asInstanceOf[Double]; val mae7 = r(3).asInstanceOf[Double]
      val mase = r(4).asInstanceOf[Double]
      assert(mae1 >= 0 && mae7 >= 0)
      assert(math.abs(mase - mae1 / mae7) < 1e-4, s"inconsistent row $r")
      assert(n > 0 && n <= 23, s"eval region must be days 8..30: $r")
    }
  }

  test("q257: jackknife SE matches a direct leave-one-out replay") {
    val out = rows(InferQueries.q257.fn(spark, sf)).head
    val g = Tables.load(spark, sf, "orders")
      .join(Tables.load(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("si"),
        count(lit(1)).as("ni"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val st = g.map(_._1).sum; val nt = g.map(_._2).sum; val k = g.length
    val reps = g.map { case (si, ni) => math.round(1e9 * (st - si).toDouble / (nt - ni)) }
    val mean = reps.sum.toDouble / k
    val sse = reps.map(r => (r - mean) * (r - mean)).sum
    val se = math.sqrt((k - 1.0) / k * sse) / 1e9
    assert(out(0).asInstanceOf[Long] == k.toLong)
    assert(math.abs(out(1).asInstanceOf[Double] - st.toDouble / nt) < 1e-4)
    assert(math.abs(out(2).asInstanceOf[Double] / se - 1.0) < 1e-6, s"se $out vs $se")
  }

  test("q258: Chapman estimate is consistent with its inputs and bounded below by the overlap identity") {
    val out = rows(InferQueries.q258.fn(spark, sf)).head
    val (n1, n2, m, u) = (out(0).asInstanceOf[Long], out(1).asInstanceOf[Long],
      out(2).asInstanceOf[Long], out(3).asInstanceOf[Long])
    assert(u == n1 + n2 - m, "inclusion-exclusion violated")
    val chapman = (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0
    assert(math.abs(out(4).asInstanceOf[Double] - chapman) < 1e-4)
    assert(chapman >= u - 1e-9, "estimate below the observed union")
  }

  test("q259: gains table is consistent — counts conserve, lift ends at 1") {
    val out = rows(InferQueries.q259.fn(spark, sf))
    val n = out.map(_(1).asInstanceOf[Long]).sum
    val r = out.map(_(2).asInstanceOf[Long]).sum
    val emb = Tables.load(spark, sf, "embeddings")
    assert(n == emb.count())
    assert(r == emb.filter(col("label") === 0).count())
    val last = out.maxBy(_(0).asInstanceOf[Int])
    assert(math.abs(last(5).asInstanceOf[Double] - 1.0) < 1e-6,
      s"cumulative lift at decile 10 must be 1: $last")
    // deciles near-balanced: boundaries are exact-CDF quantiles
    val sizes = out.map(_(1).asInstanceOf[Long])
    assert(sizes.max - sizes.min <= math.max(4, n / 5),
      s"deciles badly unbalanced: $sizes")
  }

  test("q275: weighted Jaccard bounded by binary Jaccard of the supports") {
    val out = rows(InferQueries.q275.fn(spark, sf)).head
    val (n, smin, smax) = (out(0).asInstanceOf[Long], out(1).asInstanceOf[Long],
      out(2).asInstanceOf[Long])
    val wj = out(3).asInstanceOf[Double]
    assert(smin <= smax && wj >= 0.0 && wj <= 1.0)
    assert(math.abs(wj - smin.toDouble / smax) < 1e-6)
    assert(n > 0)
  }

  test("q276: partial correlation matches a brute-force residualization") {
    val out = rows(InferQueries.q276.fn(spark, sf)).head
    val data = Tables.load(spark, sf, "lineitem")
      .select(col("l_quantity").cast("long"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"),
        expr("CAST(round(l_discount * 100) AS BIGINT)"))
      .collect().map(r => (r.getLong(0).toDouble, r.getLong(1).toDouble, r.getLong(2).toDouble))
    def corr(a: Seq[Double], b: Seq[Double]): Double = {
      val n = a.length
      val ma = a.sum / n; val mb = b.sum / n
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      cov / math.sqrt(a.map(x => (x - ma) * (x - ma)).sum * b.map(y => (y - mb) * (y - mb)).sum)
    }
    val (xs, ys, zs) = (data.map(_._1).toSeq, data.map(_._2).toSeq, data.map(_._3).toSeq)
    val (rxy, rxz, ryz) = (corr(xs, ys), corr(xs, zs), corr(ys, zs))
    val want = (rxy - rxz * ryz) / math.sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
    assert(math.abs(out(1).asInstanceOf[Double] - rxy) < 1e-4)
    assert(math.abs(out(2).asInstanceOf[Double] - want) < 1e-4,
      s"partial r ${out(2)} vs $want")
  }

  test("q277: RBO equals a direct per-depth overlap walk and sits in [0,1]") {
    val out = rows(InferQueries.q277.fn(spark, sf)).head
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars"),
        size(split(trim(col("text")), "\\s+")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val listA = docs.sortBy(d => (-d._2, d._1)).take(50).map(_._1)
    val listB = docs.sortBy(d => (-d._3, d._1)).take(50).map(_._1)
    val p = 0.9
    var rbo = 0.0
    (1 to 50).foreach { d =>
      val x = listA.take(d).toSet.intersect(listB.take(d).toSet).size
      rbo += math.pow(p, d - 1) * x / d
    }
    rbo *= (1 - p)
    assert(out(1).asInstanceOf[Double] >= 0.0 && out(1).asInstanceOf[Double] <= 1.0)
    // the engine uses the quantized W table; agreement within its grain
    assert(math.abs(out(1).asInstanceOf[Double] - rbo) < 1e-3,
      s"rbo ${out(1)} vs $rbo")
  }

  test("q278: triple supports match brute-force basket enumeration") {
    val out = rows(InferQueries.q278.fn(spark, sf))
      .map(r => ((r(0).asInstanceOf[String], r(1).asInstanceOf[String],
        r(2).asInstanceOf[String]), r(3).asInstanceOf[Long]))
    assert(out.nonEmpty && out.size <= 20)
    val rowsB = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "part"), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val freq1 = rowsB.groupBy(_._2).collect { case (b, o) if o.size >= 3 => b }.toSet
    val cnt = scala.collection.mutable.Map.empty[(String, String, String), Long]
      .withDefaultValue(0L)
    rowsB.filter(t => freq1(t._2)).groupBy(_._1).values.foreach { g =>
      val bs = g.map(_._2).sorted
      for (i <- bs.indices; j <- (i + 1) until bs.length; k <- (j + 1) until bs.length)
        cnt((bs(i), bs(j), bs(k))) += 1
    }
    val want = cnt.toSeq.filter(_._2 >= 3)
      .sortBy { case ((a, b, c), s) => (-s, a, b, c) }.take(20)
    assert(out == want, s"got ${out.take(3)}..., want ${want.take(3)}...")
  }

  test("q244: JSD bounded by ln 2 and symmetric under source swap") {
    val out = rows(InferQueries.q244.fn(spark, sf)).head
    val jsd = out(3).asInstanceOf[Double]
    assert(jsd >= 0.0 && jsd <= math.log(2.0) + 1e-9, s"jsd $jsd")
    // swap: relabel src1 as the P side — identical pipeline, P/Q roles
    // exchanged; JSD must be unchanged (it is symmetric by definition)
    val tok = Tables.load(spark, sf, "documents")
      .filter(col("source").isin("src0", "src1"))
      .select(when(col("source") === "src1", 1L).otherwise(0L).as("p"),
        explode(call_function("graft_shingle_hash_list", col("text"), lit(1))).as("uh"))
    val grid = tok.groupBy("uh").agg(sum("p").as("cp"), sum(lit(1) - col("p")).as("cq"))
    val tot = grid.groupBy().agg(sum("cp").as("np"), sum("cq").as("nq"))
    val t = grid.crossJoin(broadcast(tot))
      .select(
        when(col("cp") > 0, col("cp")
          * expr("""CAST(round(ln(2.0 * CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
                    / (CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
                       + CAST(cq AS DOUBLE) * CAST(np AS DOUBLE))) * 1e9) AS BIGINT)"""))
          .otherwise(0L).as("tp"),
        when(col("cq") > 0, col("cq")
          * expr("""CAST(round(ln(2.0 * CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)
                    / (CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)
                       + CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE))) * 1e9) AS BIGINT)"""))
          .otherwise(0L).as("tq"),
        col("np"), col("nq"))
    val sw = t.groupBy("np", "nq").agg(sum("tp").as("sp"), sum("tq").as("sq")).collect()(0)
    val swapped = (sw.getLong(2).toDouble / sw.getLong(0).toDouble
      + sw.getLong(3).toDouble / sw.getLong(1).toDouble) / 2.0 / 1e9
    assert(math.abs(jsd - (math.rint(swapped * 1e6) / 1e6)) < 2e-6,
      s"asymmetric: $jsd vs $swapped")
  }
}
