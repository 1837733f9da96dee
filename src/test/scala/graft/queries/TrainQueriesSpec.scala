package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Behavioral properties of the round-3 training-corpus operators —
  * the DuckDB oracle gate proves engine-vs-engine equality; these pin
  * the semantics the oracle can't express (invariants, determinism,
  * drop-rule soundness).
  */
class TrainQueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q77: every scored document has negative avg log-prob and >= 1 bigram") {
    val out = TrainQueries.q77.fn(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("n_bigrams") >= 1))
    // add-one smoothing keeps every probability < 1 → ln < 0
    assert(out.forall(_.getAs[Double]("avg_logprob") < 0.0))
  }

  test("q78: drop rule is sound — every dropped vector has a smaller kept-or-dropped cell-mate above threshold") {
    val out = TrainQueries.q78.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    val emb = graft.Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val byCell = out.groupBy(_._2)
    for ((_, members) <- byCell; (vid, _, dropped) <- members if dropped) {
      val hasSmallerNeighbor = members.exists { case (o, _, _) =>
        o < vid && cos(emb(o), emb(vid)) >= 0.40
      }
      assert(hasSmallerNeighbor, s"vec $vid dropped without a qualifying smaller cell-mate")
    }
    // and at least one drop actually happens on the synthetic corpus
    assert(out.exists(_._3), "no vector dropped — threshold dead")
  }

  test("q79: shared fraction is 1 for exact-duplicate docs, bounded in [0,1] everywhere") {
    val out = TrainQueries.q79.fn(spark, sf).collect()
    assert(out.forall { r =>
      val f = r.getAs[Double]("shared_frac"); f >= 0.0 && f <= 1.0
    })
    // the synthetic corpus plants exact duplicates (q35 drops some rows):
    // an exact pair shares every 8-gram, so shared_frac = 1 rows exist
    assert(out.exists(_.getAs[Double]("shared_frac") == 1.0))
  }

  test("q80: weighted sample is deterministic across runs and partitionings") {
    val a = TrainQueries.q80.fn(spark, sf).collect().map(_.toSeq)
    val b = TrainQueries.q80.fn(spark, sf).collect().map(_.toSeq)
    assert(a.sameElements(b))
    assert(a.length == 100)
    // ES keys are sorted ascending — the selection really is the k smallest
    val keys = a.map(_(2).asInstanceOf[Double])
    assert(keys.zip(keys.tail).forall { case (x, y) => x <= y })
  }

  test("q81: surviving batch rows are absent from the store and unique by fingerprint") {
    val out = TrainQueries.q81.fn(spark, sf)
    val docs = graft.Tables.load(spark, sf, "documents")
      .withColumn("fp", graft.operators.TextAnalysis.contentFingerprint(col("text")))
    val storeFps = docs.filter(col("doc_id") % 5 =!= 0)
      .select("fp").collect().map(_.getString(0)).toSet
    val rowsOut = out.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rowsOut.nonEmpty)
    assert(rowsOut.forall { case (id, _) => id % 5 == 0 })
    assert(rowsOut.forall { case (_, fp) => !storeFps.contains(fp) })
    assert(rowsOut.map(_._2).distinct.length == rowsOut.length)
  }

  test("q83: PQ self-query ranks the query vector first at distance 0") {
    val out = TrainQueries.q83.fn(spark, sf).collect()
    assert(out.length == 10)
    // vec 0 seeds the codebook, so its codes reproduce itself exactly
    assert(out.head.getLong(0) == 0L && out.head.getDouble(1) == 0.0)
    val dists = out.map(_.getDouble(1))
    assert(dists.zip(dists.tail).forall { case (a, b) => a <= b })
  }

  test("q84: packed offsets are contiguous — each doc starts where the previous ended") {
    val out = TrainQueries.q84.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.head._3 == 0L)
    out.sliding(2).foreach {
      case Array((_, n1, o1, _, _), (_, _, o2, _, _)) => assert(o2 == o1 + n1)
      case _ =>
    }
    assert(out.forall { case (_, _, _, first, last) => first <= last })
  }

  test("q85: coverage curve is non-decreasing and reaches 1 when the vocab fits the cap") {
    val out = TrainQueries.q85.fn(spark, sf).collect()
    val cov = out.map(_.getAs[Double]("coverage"))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b })
    if (out.length < 200) assert(cov.last == 1.0) // whole vocab listed
  }

  test("q86: temperature weights normalize and favor small domains over proportional share") {
    val out = TrainQueries.q86.fn(spark, sf).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(math.abs(out.map(_._2).sum - 1.0) < 1e-3)
    // τ < 1 compresses: per-doc weight must be higher for smaller domains
    val perDoc = out.map { case (n, w) => (n, w / n) }.sortBy(_._1)
    perDoc.sliding(2).foreach {
      case Array((n1, d1), (n2, d2)) if n1 < n2 => assert(d1 > d2, s"$n1:$d1 vs $n2:$d2")
      case _ =>
    }
  }

  test("q87: chunks cover every document with the declared window/stride") {
    val out = TrainQueries.q87.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val docs = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), size(graft.operators.TextAnalysis.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.forall(_._3 <= 64))
    val byDoc = out.groupBy(_._1)
    assert(byDoc.keySet == docs.keySet)
    for ((doc, chunks) <- byDoc) {
      val idxs = chunks.map(_._2).sorted
      assert(idxs.head == 0 && idxs.length == 1 + (docs(doc) - 1) / 48)
    }
  }

  test("q88: simhash pairs are ordered, within threshold, and actually near-duplicates") {
    val out = TrainQueries.q88.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.nonEmpty, "no near-dup pairs found — banding dead")
    assert(out.forall { case (a, b, h) => a < b && h >= 0 && h <= 6 })
    // the flagged pairs overwhelmingly share vocabulary: spot-check via
    // exact bigram Jaccard of the worst (highest-hamming) pair
    val (wa, wb, _) = out.maxBy(_._3)
    val texts = graft.Tables.load(spark, sf, "documents")
      .filter(col("doc_id").isin(wa, wb))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def bigrams(t: String): Set[String] =
      t.trim.split("\\s+").sliding(2).map(_.mkString(" ")).toSet
    val (ba, bb) = (bigrams(texts(wa)), bigrams(texts(wb)))
    val jac = ba.intersect(bb).size.toDouble / ba.union(bb).size
    assert(jac >= 0.5, s"pair ($wa,$wb) jaccard $jac — not a near-dup")
  }

  test("q89: funnel stages only shrink and the first stage has rate 1") {
    val out = TrainQueries.q89.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getDouble(3)))
    assert(out.length == 3)
    assert(out.head._3 == 1.0)
    val users = out.map(_._2)
    assert(users.zip(users.tail).forall { case (a, b) => b <= a })
  }

  test("q90: retention rates are bounded and every cohort has a week-0 row") {
    val out = TrainQueries.q90.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    assert(out.forall { case (_, w, u, rt) => w >= 0 && u >= 1 && rt > 0 && rt <= 1.0 })
    val cohorts = out.map(_._1).distinct
    assert(cohorts.forall(c => out.exists(r => r._1 == c && r._2 == 0L)))
  }

  test("q91: containment is bounded and covers exactly the eval docs") {
    val out = TrainQueries.q91.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val nEval = graft.Tables.load(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(97)) === 0).count()
    assert(out.length == nEval)
    assert(out.forall { case (id, n, c, f) =>
      id % 97 == 0 && c <= n && f >= 0.0 && f <= 1.0
    })
  }

  test("q84: shard-width decomposition is exact at any width (a 49-doc corpus packs at width 7)") {
    val nTokens = TrainQueries.q84.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("q84-width").toString
    graft.Tables.load(spark, sf, "documents").orderBy("doc_id").limit(49)
      .write.parquet(s"$dir/documents.parquet")
    val out = TrainQueries.q84.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.map(_._1).toSeq == nTokens.keys.toSeq.sorted.take(49))
    // replay: offsets are the prefix sums of n_tokens in doc_id order
    var offset = 0L
    out.foreach { case (id, n, o, first, last) =>
      assert(n == nTokens(id), s"doc $id n_tokens")
      assert(o == offset, s"doc $id offset")
      assert(first == o / 512 && last == (o + math.max(n, 1L) - 1) / 512, s"doc $id seqs")
      offset += n
    }
  }

  test("q82: pairs are adjacent lowercase 2-grams ranked by count") {
    val out = TrainQueries.q82.fn(spark, sf).collect()
    assert(out.length == 20)
    assert(out.forall(_.getString(0).matches("[a-z]{2}")))
    val counts = out.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (x, y) => x >= y })
  }

  test("q184: quotas sum EXACTLY to the budget and follow largest remainders") {
    val out = TrainQueries.q184.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    val wTot = out.map(_._2).sum
    val budget = wTot / 3
    assert(out.map(_._3).sum == budget, "Hamilton apportionment must hit B exactly")
    // every quota is the floor share or floor+1, never further away
    out.foreach { case (src, nt, q) =>
      val base = (BigInt(budget) * nt / wTot).toLong
      assert(q == base || q == base + 1, s"$src: quota $q vs base $base")
    }
    // and the +1s go to the LARGEST remainders: no bumped source may
    // have a strictly smaller remainder than an unbumped one (ties
    // break by source name, asc)
    val byRem = out.map { case (src, nt, q) =>
      val p = BigInt(budget) * nt
      (src, (p % wTot).toLong, q - (p / wTot).toLong)
    }
    for ((s1, r1, b1) <- byRem; (s2, r2, b2) <- byRem
         if b1 == 1 && b2 == 0)
      assert(r1 > r2 || (r1 == r2 && s1 < s2), s"$s1 bumped over $s2")
  }

  test("q183: diff statuses partition both snapshots; checksums pin membership") {
    val rows = graft.queries.CorpusQueries.q183.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val ids = graft.Tables.load(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    def inOld(i: Long) = i % 11 != 0
    def inNew(i: Long) = i % 13 != 0
    val want = ids.groupBy { i =>
      if (!inOld(i) && inNew(i)) "added"
      else if (inOld(i) && !inNew(i)) "removed"
      else if (inOld(i) && inNew(i) && i % 7 == 0) "changed"
      else if (inOld(i) && inNew(i)) "unchanged"
      else "absent"
    }.collect { case (k, v) if k != "absent" => k -> ((v.length.toLong, v.sum)) }
    assert(rows.map(r => r._1 -> ((r._2, r._3))).toMap == want)
  }
}
