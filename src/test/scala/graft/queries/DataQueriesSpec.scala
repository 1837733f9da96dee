package graft.queries

import graft.SparkSpec

class DataQueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q204: fused score is exactly the RRF of the two shortlist ranks") {
    val out = DataQueries.q204.fn(spark, sf).collect()
    assert(out.length == 50)
    def contrib(rank: Any): Long = rank match {
      case null => 0L
      case r: Int => math.round(1000000.0 / (60 + r))
    }
    out.foreach { row =>
      val rrf = row.getLong(row.fieldIndex("rrf_micro"))
      val expected = contrib(if (row.isNullAt(1)) null else row.getInt(1)) +
        contrib(if (row.isNullAt(2)) null else row.getInt(2))
      assert(rrf == expected, s"RRF arithmetic mismatch: $row")
      assert(!(row.isNullAt(1) && row.isNullAt(2)),
        s"doc in fusion output but on neither shortlist: $row")
    }
    // output is sorted by fused score desc, then doc_id
    val keys = out.map(r => (-r.getLong(3), r.getLong(0))).toSeq
    assert(keys == keys.sorted, "fusion output must be rank-sorted")
    // ranks within each shortlist are distinct and within bounds
    Seq(1, 2).foreach { c =>
      val ranks = out.filterNot(_.isNullAt(c)).map(_.getInt(c))
      assert(ranks.distinct.length == ranks.length)
      assert(ranks.forall(r => r >= 1 && r <= 200))
    }
  }

  test("q230: reliability bins replay from a driver-side centroid scorer") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.load(spark, sf, "embeddings")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, if (r.getInt(2) == 0) 1L else 0L))
    val pos = emb.filter(e => e._1 % 2 == 0 && e._3 == 1L)
    val dims = pos.head._2.length
    val cent = (0 until dims).map { d =>
      // per-value integer micro quantization, then the quantized mean —
      // mirrors the query's cross-engine determinism recipe
      // away-from-zero half rounding (Scala math.round is floor(x+.5),
      // which differs on negative ties)
      val sm = BigInt(pos.map(e => BigDecimal(e._2(d).toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum)
      val cm = if (sm < 0) -((-sm) / pos.length) else sm / pos.length
      (cm.toDouble / 1e6).toFloat
    }.toArray
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def rnd(x: Double, p: Int): Double =
      BigDecimal(x).setScale(p, BigDecimal.RoundingMode.HALF_UP).toDouble
    val binsExp = emb.filter(_._1 % 2 == 1).map { case (_, v, y) =>
      val s = rnd(dot(v, cent) / (math.sqrt(dot(v, v)) * math.sqrt(dot(cent, cent))), 6)
      val pmh = math.round(s * 1e6) + 1000000L
      val bin = math.min((pmh / 200000).toInt, 9)
      val pm = pmh / 2
      (bin, y, pm, (pm - 1000000L * y) * (pm - 1000000L * y))
    }
    val expected = binsExp.groupBy(_._1).toSeq.map { case (bin, rows) =>
      val n = rows.length.toLong
      val npos = rows.map(_._2).sum
      (bin, n, npos, rows.map(_._3).sum / n, 1000000L * npos / n, rows.map(_._4).sum)
    }.sortBy(_._1)
    val actual = DataQueries.q230.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(actual == expected)
  }
}
