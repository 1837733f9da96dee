package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.SparkSpec

class CorpusQueriesSpec extends SparkSpec {

  test("contaminationOverlap: AQE converts the eval join to broadcast when it fits") {
    import spark.implicits._
    // overlapping 7-word docs so trigram shingles collide across the
    // eval (doc_id % 10 == 0) / training split
    val docs = (0L until 60L).map { i =>
      (i, (0 to 6).map(j => s"w${(i * 7 + j * 3) % 23}").mkString(" "))
    }.toDF("doc_id", "text")
    val pred = pmod(col("doc_id"), lit(10)) === 0
    val out = CorpusQueries.contaminationOverlap(docs, pred)
    val rows = out.collect()
    assert(rows.nonEmpty, "spec needs actual shingle overlap")
    // broadcast-vs-shuffle is decided by ADAPTIVE execution from the
    // eval side's true materialized size, not a plan-time count (there
    // must be NO eager job at construction — asserted below). After
    // execution the final adaptive plan must have converted the tiny
    // eval side to a broadcast join.
    val finalPlan = out.queryExecution.executedPlan.collectFirst {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
    }.getOrElse(out.queryExecution.executedPlan.toString)
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
  }

  test("q196 dup spans == brute-force maximal shared-window spans") {
    val sf = "/root/testdata/sf0.001"
    // Brute force: literal 8-token windows (gram strings, no hashing),
    // windows shared by >=2 distinct docs, merged into maximal runs.
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
    val wins = docs.flatMap { case (id, toks) =>
      if (toks.length < 8) Seq((id, 0, toks.mkString(" ")))
      else toks.sliding(8).zipWithIndex.map { case (w, i) => (id, i, w.mkString(" ")) }
    }
    val shared = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.length > 1).keySet
    val expected = wins.filter(w => shared(w._3)).groupBy(_._1).toSeq.flatMap {
      case (id, ws) =>
        val ps = ws.map(_._2).sorted
        // split sorted positions into consecutive runs
        val runs = ps.foldLeft(List.empty[List[Int]]) {
          case (acc @ (h :: t), p) if h.nonEmpty && p == h.head + 1 => (p :: h) :: t
          case (acc, p) => List(p) :: acc
        }.map(_.reverse).reverse
        runs.map(r => (id, r.head.toLong, r.last.toLong + 7,
          r.last.toLong + 7 - r.head + 1, r.length.toLong))
    }.sortBy(r => (r._1, r._2))
    val actual = CorpusQueries.q196.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(actual.nonEmpty, "sf0.001 must contain planted shared spans")
    assert(actual.toSeq == expected.toSeq)
  }

  test("contaminationOverlap runs no job at plan construction") {
    import spark.implicits._
    val docs = Seq((0L, "a b c d e"), (1L, "a b c d e")).toDF("doc_id", "text")
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    CorpusQueries.contaminationOverlap(docs, col("doc_id") === 0L) // NOT executed
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before,
      s"plan construction launched ${after - before} job(s); must be lazy")
  }

  test("q221: PMI replays from brute-force bigram and unigram counts") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("text").collect().map(_.getString(0))
    val toks = docs.map(_.trim.split("\\s+").toSeq)
    val pairCnt = collection.mutable.Map.empty[(String, String), Long]
    toks.foreach(w => w.zip(w.drop(1)).foreach { p =>
      pairCnt(p) = pairCnt.getOrElse(p, 0L) + 1
    })
    val uniCnt = toks.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nt = uniCnt.values.sum
    val np = pairCnt.values.sum
    val expected = pairCnt.toSeq.filter(_._2 >= 5).map { case ((x, y), c) =>
      val pmi = math.round(math.log((c.toDouble * nt * nt)
        / (np.toDouble * uniCnt(x) * uniCnt(y))) * 1e9)
      (x, y, c, uniCnt(x), uniCnt(y), pmi)
    }.sortBy(t => (-t._6, t._1, t._2)).take(20)
    val actual = graft.queries.CorpusQueries.q221.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(actual == expected)
  }

  test("q224: Zipf OLS replays in BigInt; natural-ish corpus slopes negative") {
    val sf = "/root/testdata/sf0.001"
    val tf = graft.Tables.load(spark, sf, "documents")
      .select("text").collect().flatMap(_.getString(0).trim.split("\\s+"))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (t, f) => (-f, t) }.take(1000)
    val xy = tf.zipWithIndex.map { case ((_, f), i) =>
      (math.round(math.log((i + 1).toDouble) * 1e6),
        math.round(math.log(f.toDouble) * 1e6))
    }
    val n = BigInt(xy.length)
    val sx = BigInt(xy.map(_._1).sum); val sy = BigInt(xy.map(_._2).sum)
    val sxy = xy.map { case (x, y) => BigInt(x) * y }.sum
    val sxx = xy.map { case (x, _) => BigInt(x) * x }.sum
    val syy = xy.map { case (_, y) => BigInt(y) * y }.sum
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    val dyy = n * syy - sy * sy
    def tdiv(a: BigInt, b: BigInt): BigInt = if (a < 0) -((-a) / b) else a / b
    val slope = tdiv(BigInt(1000000) * num, den).toLong
    val (numm, denm, dyym) = (tdiv(num, 1000000), den / 1000000, dyy / 1000000)
    val r2 = (BigInt(1000000) * numm * numm / (denm * dyym)).toLong
    val out = graft.queries.CorpusQueries.q224.fn(spark, sf).collect()
    assert(out.length == 1)
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getLong(2)) ==
      ((n.toLong, slope, r2)))
    assert(slope < 0, s"Zipf slope must be negative, got $slope")
    assert(r2 >= 0 && r2 <= 1000000L, s"r2 out of range: $r2")
  }

  test("q231: held-out perplexity replays from a brute-force bigram LM") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).trim.split("\\s+").toSeq))
    val tr = docs.filter(_._1 % 5 != 0)
    val ev = docs.filter(_._1 % 5 == 0)
    val cxy = collection.mutable.Map.empty[(String, String), Long]
    tr.foreach(d => d._3.zip(d._3.drop(1)).foreach { p =>
      cxy(p) = cxy.getOrElse(p, 0L) + 1
    })
    val cx = tr.flatMap(_._3).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val v = cx.size.toLong
    val expected = ev.flatMap(d => d._3.zip(d._3.drop(1)).map(p => (d._2, p)))
      .groupBy(_._1).toSeq.map { case (src, rows) =>
        val nlls = rows.map { case (_, (x, y)) =>
          math.round(-math.log((cxy.getOrElse((x, y), 0L) + 1.0)
            / (cx.getOrElse(x, 0L) + v)) * 1e9)
        }
        val n = nlls.length.toLong
        val avg = nlls.sum / n
        (src, n, avg, BigDecimal(math.exp(avg.toDouble / 1e9))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy(_._1)
    val actual = graft.queries.CorpusQueries.q231.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(actual == expected)
    // perplexity must exceed 1 and unseen-heavy sources must not be NaN
    actual.foreach(r => assert(r._4 > 1.0 && !r._4.isNaN))
  }

  test("q232: algebraic ablation equals literally rebuilding each reduced corpus") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("source", "n_chars", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    def fp(t: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val sources = docs.map(_._1).distinct.sorted
    val expected = sources.map { s =>
      // the naive way: actually rebuild the corpus without s
      val rem = docs.filter(_._1 != s)
      val nd = rem.length.toLong
      val nt = rem.map(_._3.trim.split("\\s+").length.toLong).sum
      val dups = rem.groupBy(r => fp(r._3)).values
        .filter(_.size >= 2).map(_.size.toLong).sum
      (s, nd, nt, 1000000L * nt / nd, dups, 1000000L * dups / nd)
    }.toSeq
    val actual = graft.queries.CorpusQueries.q232.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(actual == expected)
    // the synthetic corpus has no exact duplicates, which would leave
    // the dup-correction leg vacuous — plant cross-source twins in a
    // doctored copy and check the non-additive decomposition there
    val dir = java.nio.file.Files.createTempDirectory("graft-loo").toString
    graft.Tables.names.foreach { t =>
      val df = graft.Tables.load(spark, sf, t)
      val doctored =
        if (t == "documents")
          df.withColumn("text",
            when(col("doc_id") < 10, lit("planted twin body")).otherwise(col("text")))
        else df
      doctored.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val docs2 = graft.Tables.load(spark, dir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected2 = docs2.map(_._1).distinct.sorted.map { s =>
      val rem = docs2.filter(_._1 != s)
      rem.groupBy(r => fp(r._2)).values.filter(_.size >= 2).map(_.size.toLong).sum
    }.toSeq
    assert(expected2.exists(_ > 0), "planting produced no duplicates")
    val actual2 = graft.queries.CorpusQueries.q232.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(4))).sortBy(_._1).map(_._2).toSeq
    assert(actual2 == expected2)
  }
}
