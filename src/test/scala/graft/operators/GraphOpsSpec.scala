package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {

  test("bfsDistances: exact hops on a path, unreachable nodes absent") {
    import spark.implicits._
    // undirected path 1-2-3-4-5 plus isolated edge 6-7
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
    val sym = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val d = GraphOps.bfsDistances(sym, "src", "dst",
        Seq(1L).toDF("id"), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("bfsDistances: multi-source takes the minimum over sources") {
    import spark.implicits._
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val sym = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val d = GraphOps.bfsDistances(sym, "src", "dst",
        Seq(1L, 5L).toDF("id"), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("bfsDistances: maxIter caps the explored radius") {
    import spark.implicits._
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val sym = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val d = GraphOps.bfsDistances(sym, "src", "dst",
        Seq(1L).toDF("id"), "id", maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L)) // 4, 5 beyond the cap
  }

  test("connectedComponentsAlternating matches min-label CC on mixed topology") {
    import spark.implicits._
    val chain = (10L to 15L).map(i => (i, i + 1))
    val pairs = (Seq((2L, 1L), (2L, 3L), (4L, 3L), (7L, 8L), (20L, 20L)) ++ chain)
      .toDF("id_a", "id_b")
    val alt = GraphOps.connectedComponentsAlternating(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ml = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(alt == ml, s"alternating $alt vs min-label $ml")
    assert(alt(20L) == 20L) // self-loop-only node keeps its own label
    assert(Seq(1L, 2L, 3L, 4L).forall(alt(_) == 1L))
    assert((10L to 16L).forall(alt(_) == 10L))
  }

  test("connectedComponentsAlternating converges in O(log n) rounds on a deep chain") {
    import spark.implicits._
    // a 60-edge path: diameter 60. Min-label propagation needs 60
    // rounds (its default 25-round budget throws — proving why the
    // alternating form is the scale shape); large/small-star halves
    // depth every round and converges inside a tight budget.
    val deep = (100L to 160L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(deep, "id_a", "id_b")
    }
    val out = GraphOps.connectedComponentsAlternating(deep, "id_a", "id_b", maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 61 && (100L to 160L).forall(out(_) == 100L))
  }

  test("kCore peels a pendant chain off a clique over multiple rounds") {
    import spark.implicits._
    // K5 (nodes 0-4) + appendage 5,6,7: node 7 (deg 2) dies in round 1,
    // which drops 5 and 6 to degree 2 so they die in round 2 — degrees
    // that only fall below k AFTER a neighbor peels, a genuinely
    // multi-round cascade for k=3.
    val clique = for { a <- 0 to 4; b <- 0 to 4 if a != b } yield (a.toLong, b.toLong)
    val extra = Seq((5L, 6L), (5L, 7L), (6L, 7L), (5L, 0L), (6L, 0L))
    val sym = (clique ++ extra.flatMap { case (a, b) => Seq((a, b), (b, a)) })
      .toDF("src", "dst")
    val core = GraphOps.kCore(sym, "src", "dst", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(core == clique.toSet, s"3-core of K5+chain must be exactly K5, got $core")
    // k above the max degree: peel cascades to empty, still converges
    assert(GraphOps.kCore(sym, "src", "dst", k = 10).isEmpty)
  }

  test("labelPropagation: two planted communities, deterministic labels") {
    import spark.implicits._
    // two triangles {0,1,2} and {10,11,12} bridged by one edge 2-10.
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L), (10L, 12L),
      (2L, 10L))
    val sym = tri.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val out = GraphOps.labelPropagation(sym, "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-replay: min-label tie-breaking floods 0 through the left
    // triangle; the bridge briefly pulls node 10 to label 2 in round 1,
    // but its own triangle's majority reclaims it — the planted split
    assert(Set(0L, 1L, 2L).forall(v => out(v) == 0L), out.toString)
    assert(Set(10L, 11L, 12L).forall(v => out(v) == 10L), out.toString)
    // determinism: a second run is identical
    val again = GraphOps.labelPropagation(sym, "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out)
  }

  test("ssspDistances == Dijkstra on a planted weighted graph") {
    import spark.implicits._
    val edges = Seq(
      (0L, 1L, 4L), (0L, 2L, 1L), (2L, 1L, 2L), (1L, 3L, 1L),
      (2L, 3L, 5L), (3L, 4L, 3L), (0L, 4L, 100L), (5L, 6L, 1L),
      (0L, 2L, 9L)) // parallel edge: must collapse to min weight 1
    val df = edges.toDF("src", "dst", "w")
    val out = GraphOps.ssspDistances(df, "src", "dst", "w",
        Seq(0L).toDF("id"), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Dijkstra by hand: 0->0, 2->1, 1->3 (via 2), 3->4, 4->7 (via 3)
    assert(out == Map(0L -> 0L, 2L -> 1L, 1L -> 3L, 3L -> 4L, 4L -> 7L),
      out.toString) // 5,6 unreachable: absent
  }

  /** In-memory Kruskal with union-find — the independent MST reference. */
  private def kruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.sortBy(_._3).flatMap { case e @ (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra == rb) None else { parent(ra) = rb; Some(e) }
    }.toSet
  }

  test("boruvkaMst == Kruskal on a random graph with distinct weights") {
    import spark.implicits._
    // ring of 200 nodes (guaranteed connectivity) + 400 hashed chords;
    // weights packed with the edge id so every weight is distinct and
    // the MST is unique — Borůvka and Kruskal must agree edge-for-edge
    val n = 200L
    val ring = (0L until n).map(i => (i, (i + 1) % n))
    val chords = (0L until 2 * n).map { k =>
      val u = (k * 48271) % n
      val v = (k * 69621 + 7) % n
      (u, v)
    }.filter { case (u, v) => u != v }
    val all = (ring ++ chords).zipWithIndex.map { case ((u, v), i) =>
      (u, v, ((u * 7 + v * 13) % 1000) * 100000 + i) // distinct packed weights
    }
    var rounds = 0
    val got = GraphOps.boruvkaMst(all.toDF("a", "b", "w"), "a", "b", "w",
        onRound = (r, _) => rounds = r)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = kruskal(all)
    assert(got.size == n - 1, s"spanning tree must have ${n - 1} edges, got ${got.size}")
    assert(got == want, s"missed ${want -- got}, invented ${got -- want}")
    // components at least halve per round: ⌈log₂ 200⌉ = 8 rounds max
    assert(rounds <= 8, s"Borůvka took $rounds rounds on 200 nodes")
  }

  test("bench scaling generator: hashed weights give a multi-round Borůvka run") {
    // a Borůvka scaling-input generator: ring + hashed chords, pseudorandom
    // high bits. A monotone-in-id weight degenerates to ONE round (all
    // min-edges point at low ids — caught live in round 10); the hashed
    // form must take ≥2 and ≤ ⌈log₂ 512⌉ = 9 merge rounds, and still
    // span (the ring guarantees connectivity)
    val v = 512L
    val ring = spark.range(0L, v).select(col("id").as("a"),
      pmod(col("id") + 1, lit(v)).as("b"))
    val chords = spark.range(0L, 2 * v).select(
      pmod(col("id") * 48271, lit(v)).as("a"),
      pmod(col("id") * 69621 + 7, lit(v)).as("b"))
    val edges = ring.unionByName(chords)
      .filter(col("a") =!= col("b"))
      .withColumn("w",
        pmod(xxhash64(col("a"), col("b")), lit(1000000L)) * lit(16777216L)
          + col("a") * lit(4096L) + col("b"))
    var rounds = 0
    val n = GraphOps.boruvkaMst(edges, "a", "b", "w",
      onRound = (r, _) => rounds = r).count()
    assert(n == v - 1, s"expected a spanning tree of ${v - 1} edges, got $n")
    assert(rounds >= 2 && rounds <= 9, s"rounds=$rounds — degenerate or diverging")
  }

  test("boruvkaMst is invariant under input partitioning") {
    import spark.implicits._
    val ring = (0L until 60L).map(i => (i, (i + 1) % 60))
    val all = ring.zipWithIndex.map { case ((u, v), i) =>
      (u, v, ((u * 31 + v * 17) % 997) * 1000 + i)
    }
    def run(parts: Int) =
      GraphOps.boruvkaMst(all.toDF("a", "b", "w").repartition(parts), "a", "b", "w")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val base = run(1)
    assert(base.size == 59)
    assert(run(7) == base && run(32) == base)
  }

  test("boruvkaMst yields the spanning FOREST on disconnected input") {
    import spark.implicits._
    // two triangles, no bridge: 2 components → 4 MST edges
    val edges = Seq(
      (0L, 1L, 10L), (1L, 2L, 20L), (0L, 2L, 30L),
      (5L, 6L, 11L), (6L, 7L, 21L), (5L, 7L, 31L))
    val got = GraphOps.boruvkaMst(edges.toDF("a", "b", "w"), "a", "b", "w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 1L, 10L), (1L, 2L, 20L), (5L, 6L, 11L), (6L, 7L, 21L)))
  }

  test("boruvkaMst == Kruskal across seeded random graphs (5 trials)") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 60L + rnd.nextInt(80)
      val ring = (0L until n).map(i => (i, (i + 1) % n))
      val chords = (0 until 2 * n.toInt).map { _ =>
        (rnd.nextInt(n.toInt).toLong, rnd.nextInt(n.toInt).toLong)
      }.filter { case (u, v) => u != v }
      val all = (ring ++ chords).zipWithIndex.map { case ((u, v), i) =>
        // random high bits + the edge index low bits: distinct weights
        (u, v, (rnd.nextInt(1 << 20).toLong << 20) | i.toLong)
      }
      val got = GraphOps.boruvkaMst(all.toDF("a", "b", "w"), "a", "b", "w")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = kruskal(all)
      assert(got.size == n - 1, s"seed $seed: ${got.size} edges")
      assert(got == want, s"seed $seed: missed ${want -- got}, invented ${got -- want}")
    }
  }
}
