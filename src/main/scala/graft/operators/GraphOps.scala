package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph propagation on edge-list DataFrames. The unit step
  * (one sparse matrix-vector product) is what q110 gates against the
  * oracle; this object iterates it — the same loop discipline as
  * [[Dedup.connectedComponents]]: every round is one join + one
  * groupBy on the same shuffle key, intermediate frames cut from
  * lineage with localCheckpoint, no driver-side graph state beyond
  * one scalar per round.
  */
object GraphOps {

  /** PageRank over a directed edge list, `iters` rounds from a uniform
    * start. rank(v) = (1−d)/N + d·(Σ_{u→v} rank(u)/deg(u) + dangling/N),
    * dangling = Σ rank over out-degree-0 nodes, redistributed uniformly
    * so total mass stays 1 every round.
    *
    * Determinism: per-edge contributions round to 1e-12 fixed-point
    * longs and sum exactly — results are partition-order independent,
    * the invariant every operator here holds. The one driver-side value
    * per round is the dangling-mass scalar (a single-row aggregate,
    * like the q58 convergence counter).
    *
    * Scale: per round, one shuffle of the edge list on `dst` plus one
    * broadcast-sized scalar; ranks and degrees stay partitioned by node
    * id. 100 TB web graphs run exactly this loop with the iteration
    * count (or a rank-delta threshold) as the knob.
    */
  /** Connected components by alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", 2014) — the label-doubling algorithm that converges in
    * O(log n) rounds regardless of component diameter, where
    * [[Dedup.connectedComponents]]'s min-label propagation needs
    * O(diameter) rounds. On web-scale near-dup graphs (quote chains,
    * mirror families) diameters of hundreds are routine, so this is
    * the 100 TB shape; the min-label version stays as the simpler
    * oracle-shaped twin (specs pin both to the same output).
    *
    *  - large-star: each node u attaches every LARGER neighbor to
    *    m(u) = min(Γ(u) ∪ {u})   — one symmetric groupBy + one join.
    *  - small-star: with edges oriented child>parent, each u attaches
    *    its smaller neighbors and itself to m(u) — one groupBy + join.
    *
    * Both steps keep edges oriented (child > parent) and strictly
    * shrink the potential Σ depth; the fixpoint is a disjoint union of
    * stars centered at component minima. Convergence is detected by an
    * exact order-independent signature (edge count + XOR of per-edge
    * xxhash64) and then SEALED by a full set-equality check
    * (`except` both ways), so a signature collision can never return
    * early with wrong labels — it just costs one more round.
    *
    * @return (id, cluster_id) for every id present in `pairs`;
    *         cluster_id = smallest id in the component (identical
    *         contract to [[Dedup.connectedComponents]]).
    */
  def connectedComponentsAlternating(pairs: DataFrame, aCol: String, bCol: String,
                                     maxIter: Int = 50,
                                     onRound: (Int, DataFrame) => Unit = (_, _) => ()): DataFrame = {
    val allNodes = pairs.select(col(aCol).as("id"))
      .union(pairs.select(col(bCol).as("id")))
      .distinct().localCheckpoint(false)
    // canonical child>parent orientation; self-loops carry no
    // connectivity (their nodes re-enter via allNodes at the end)
    val edges = pairs
      .select(col(aCol).as("x"), col(bCol).as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"), least(col("x"), col("y")).as("v"))
      .distinct().localCheckpoint(false)

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("_mn"))
        .select(col("u").as("_c"), least(col("_mn"), col("u")).as("m"))
      // the distinct is load-bearing for cost, not correctness:
      // without it the duplicated (v, m) edges fan out again through
      // smallStar's join and its round-end distinct — measured ~35%
      // slower on the q126 pair graph than paying one dedup here
      sym.join(mins, sym("u") === col("_c"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min("v").as("m"))
      e.join(mins.select(col("u").as("_c"), col("m")), e("u") === col("_c"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }

    var sig = signature(edges) // cross-round scalar lives in the closure
    val fixed = FixpointLoop.iterateUntilFixpoint(edges, maxIter,
        "connectedComponentsAlternating", onRound = onRound) { cur =>
      val next = smallStar(largeStar(cur)).localCheckpoint(false)
      val nextSig = signature(next)
      // exact seal: the signature says fixpoint — prove it (both
      // difference directions evaluated in one job), so a collision
      // can never return early with wrong labels
      val done = nextSig == sig &&
        next.exceptAll(cur).union(cur.exceptAll(next)).isEmpty
      sig = nextSig
      (next, done)
    }
    val labels = fixed.select(col("u").as("id"), col("v").as("cluster_id"))
    allNodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** Borůvka minimum spanning forest over a weighted undirected edge
    * list — the distributed MST algorithm (every component picks its
    * minimum outgoing edge simultaneously, so components at least
    * HALVE per round and O(log V) rounds suffice at any scale; Prim/
    * Kruskal's sequential edge picks cannot fan out). Generalizes
    * q308's inline 25-node loop (StatQueries.scala q308) to arbitrary
    * graphs with an early-quiescence stop and an `onRound` hook, so
    * Bench can measure rounds-vs-|V| empirically.
    *
    * Weights must be DISTINCT longs (pack a tiebreak into low bits as
    * q308 does) — distinctness makes the MSF unique and each round's
    * min-edge pick deterministic. Per round: two component-label
    * joins + a map-side-combinable `min(struct)` per component +
    * relabeling via the audited O(log n)
    * [[connectedComponentsAlternating]] on the ≤|components| picked
    * edges. Disconnected inputs yield the spanning forest.
    *
    * @return (a, b, w) — the picked edges (|V| − #components rows).
    */
  def boruvkaMst(edges0: DataFrame, aCol: String, bCol: String, wCol: String,
                 maxRounds: Int = 48,
                 onRound: (Int, DataFrame) => Unit = (_, _) => ()): DataFrame = {
    val edges = edges0.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"), col(wCol).cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      .localCheckpoint(false) // every round re-reads the edge list
    var comp = edges.select(col("a").as("v"))
      .union(edges.select(col("b").as("v")))
      .distinct().select(col("v"), col("v").as("c"))
      .localCheckpoint(false)
    var mst = edges.limit(0)
    var round = 0
    var quiesced = false
    while (!quiesced && round < maxRounds) {
      val ec = edges
        .join(comp.select(col("v").as("_va"), col("c").as("ca")), col("a") === col("_va"))
        .join(comp.select(col("v").as("_vb"), col("c").as("cb")), col("b") === col("_vb"))
        .filter(col("ca") =!= col("cb"))
        .select(col("a"), col("b"), col("w"), col("ca"), col("cb"))
      val sel = ec.select(col("ca").as("g"), struct(col("w"), col("a"), col("b"),
          col("ca"), col("cb")).as("e"))
        .unionByName(ec.select(col("cb").as("g"), struct(col("w"), col("a"), col("b"),
          col("ca"), col("cb")).as("e")))
        .groupBy("g").agg(call_function("graft_min_any", col("e")).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"), col("e.w").as("w"),
          col("e.ca").as("ca"), col("e.cb").as("cb"))
        .distinct()
        .localCheckpoint(false)
      if (sel.isEmpty) quiesced = true
      else {
        round += 1
        mst = mst.unionByName(sel.select("a", "b", "w")).localCheckpoint(false)
        val relabel = connectedComponentsAlternating(
          sel.select("ca", "cb"), "ca", "cb")
        comp = comp.join(relabel, comp("c") === relabel("id"), "left")
          .select(col("v"), coalesce(col("cluster_id"), col("c")).as("c"))
          .localCheckpoint(false)
        onRound(round, mst)
      }
    }
    require(quiesced, s"boruvkaMst did not quiesce in $maxRounds rounds")
    mst
  }

  /** Multi-source BFS: exact minimum hop distance from ANY source node,
    * by frontier expansion — the distributed unweighted-shortest-path
    * primitive (landmark distances, seed-set reach, blast-radius
    * queries). Each round is one equi-join of the CURRENT FRONTIER
    * (not the whole visited set) against the edge list, a min-groupBy
    * on the destination, and an anti-join that keeps only never-seen
    * nodes — so per-round work is proportional to the frontier's edge
    * neighborhood and the loop runs O(diameter) rounds (frontier
    * empties ⇒ done, short-circuiting `maxIter`). Distances are exact
    * because BFS visits in nondecreasing depth: a node's first
    * discovery IS its minimum distance, so no relaxation/re-visit
    * rounds are ever needed.
    *
    * Pass a symmetrized edge list for undirected distance. Nodes not
    * reachable within `maxIter` hops are absent from the result (the
    * caller left-joins and fills, q190 pins them at -1).
    *
    * @param edges0  directed edge list (deduplicated internally)
    * @param sources distinct source node ids, distance 0
    * @return (id, dist) for every node reached within maxIter hops
    */
  def bfsDistances(edges0: DataFrame, srcCol: String, dstCol: String,
                   sources: DataFrame, idCol: String,
                   maxIter: Int = 30): DataFrame = {
    // stationary edge list pre-partitioned+sorted on the join key (r15
    // opt): each round's frontier join then moves only frontier rows
    val edges = org.apache.spark.sql.graft.GraftSqlBridge.localCheckpointByKey(
      edges0.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct(),
      Seq("src"))
    val init = sources.select(col(idCol).as("id")).distinct()
      .select(col("id"), lit(0L).as("dist"), lit(true).as("_fr"))
      .localCheckpoint(false)
    // fixed hop budget, early-exit on an empty frontier; a capped BFS
    // is a partial MAP, not a wrong one (unreached = absent), so
    // convergence is not mandatory
    FixpointLoop.iterateUntilFixpoint(init, maxIter, "bfsDistances",
        requireConvergence = false) { cur =>
      val fresh = cur.filter(col("_fr"))
        .join(edges, col("id") === col("src"))
        .select(col("dst").as("id"), (col("dist") + 1).as("dist"))
        .groupBy("id").agg(min("dist").as("dist"))
        .join(cur.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("dist"), lit(true).as("_fr"))
        .localCheckpoint(false)
      val next = cur.select(col("id"), col("dist"), lit(false).as("_fr"))
        .union(fresh)
        .localCheckpoint(false)
      (next, fresh.isEmpty)
    }.select(col("id"), col("dist"))
  }

  /** The k-core of an undirected graph: the maximal subgraph in which
    * every node has degree ≥ k — the standard "dense part" extractor
    * (spam/link-farm mining, community seeding, graph sparsification
    * before an expensive all-pairs stage).
    *
    * Algorithm: iterative peeling. Each round drops every edge with an
    * endpoint of current degree < k; the surviving edge set shrinks
    * monotonically to a fixpoint. The k-core is UNIQUE and
    * order-independent (peeling is confluent), so simultaneous edge
    * peeling reaches the same fixpoint as the textbook node-at-a-time
    * formulation — which is what makes the result engine-checkable.
    *
    * Scale: each round is one degree groupBy on `src` plus two
    * semi-join-shaped filters against the (shrinking) survivor set —
    * shuffle volume is O(|E_surviving|) per round, no pairwise work;
    * rounds are bounded by the peel depth (small in practice: most
    * mass leaves in the first rounds). Convergence is mandatory — a
    * partial peel is a WRONG k-core, not an approximation.
    *
    * @param edges0 symmetrized edge list (both directions present);
    *               degrees are per-`src` counts of the distinct set.
    * @return the k-core's surviving (src, dst) edge set.
    */
  def kCore(edges0: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIter: Int = 40): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val edges = edges0.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint(false)
    var prevCount = edges.count()
    FixpointLoop.iterateUntilFixpoint(edges, maxIter, "kCore") { cur =>
      if (prevCount == 0L) (cur, true)
      else {
        val ok = cur.groupBy("src").agg(count(lit(1)).as("_deg"))
          .filter(col("_deg") >= k).select("src")
          .localCheckpoint(false) // feeds both endpoint filters
        val next = cur
          .join(ok.select(col("src").as("_oks")), col("src") === col("_oks"))
          .drop("_oks")
          .join(ok.select(col("src").as("_okd")), col("dst") === col("_okd"))
          .drop("_okd")
          .localCheckpoint(false)
        val n = next.count()
        val done = n == prevCount
        prevCount = n
        (next, done)
      }
    }
  }

  /** Synchronous label propagation (Raghavan et al. 2007) with a
    * deterministic vote: after `rounds` full rounds, each node carries
    * the label that won the plurality of its neighborhood's votes,
    * ties broken toward the SMALLEST label. Every node also casts one
    * vote for its own current label (a self-loop in the vote graph) —
    * the standard damping that stops the two sides of a bipartite
    * graph from swapping labels forever.
    *
    * Determinism is the whole design: synchronous rounds + exact
    * integer vote counts + min-label tie-break make the result a pure
    * function of the edge set, independent of partitioning and engine
    * — each round's argmax is `max(struct(votes, -label))`, a
    * lexicographic comparison both Spark and the oracle's SQL evaluate
    * identically. (Classic randomized-order LPA is irreproducible by
    * construction — useless in a pipeline that must be auditable.)
    *
    * Scale: per round, one shuffle of the edge list keyed on the vote
    * target plus a groupBy on (node, label) with map-side partials;
    * state is one row per node. A fixed round budget (not convergence)
    * bounds the cost.
    *
    * @param edges0 symmetrized edge list (both directions present).
    * @return (id, community) — community = the surviving label.
    */
  def labelPropagation(edges0: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val edges = edges0.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint(false)
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct().localCheckpoint(false)
    // self-loops carry the self-vote through the same join as
    // neighbor votes — one code path, and the oracle mirrors it.
    // Checkpointed PRE-PARTITIONED+SORTED on the join key (r15 opt):
    // the stationary edge list is re-joined every round, and a plain
    // localCheckpoint forgets its layout under AQE — this keeps the
    // per-round join from re-exchanging (and re-sorting) the big side;
    // only the one-row-per-node label frame moves each round.
    val voteEdges = org.apache.spark.sql.graft.GraftSqlBridge.localCheckpointByKey(
      edges.union(nodes.select(col("id").as("src"), col("id").as("dst"))),
      Seq("src"))
    // graft_max_any: max(struct) is the deterministic argmax, but a
    // struct-typed buffer silently forces SortAggregate (two sorts per
    // round); the typed-imperative twin hash-aggregates it (r15 opt)
    FixpointLoop.iterateUntilFixpoint(
        nodes.select(col("id"), col("id").as("lab")),
        rounds, "labelPropagation", requireConvergence = false) { cur =>
      val votes = cur.join(voteEdges, col("id") === col("src"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("_cnt"))
      val next = votes
        .select(col("dst").as("id"),
          struct(col("_cnt"), (-col("lab")).as("_nl")).as("_v"))
        .groupBy("id").agg(call_function("graft_max_any", col("_v")).as("_v"))
        .select(col("id"), (-col("_v._nl")).as("lab"))
        .localCheckpoint(false)
      (next, false)
    }.select(col("id"), col("lab").as("community"))
  }

  /** Single-source (or multi-source) shortest paths with non-negative
    * integer edge weights — frontier-pruned Bellman-Ford, the
    * map-reduce SSSP: per round only nodes whose distance IMPROVED
    * last round relax their out-edges (join + min-groupBy + compare),
    * so work per round is O(frontier·degree), and the loop stops when
    * no distance improves. Weighted generalization of
    * [[bfsDistances]]; with all weights 1 they coincide.
    *
    * Convergence is mandatory: a Bellman-Ford stopped early reports
    * WRONG (over-estimated) distances, not approximate ones. With
    * non-negative weights the improvement loop always terminates.
    *
    * @param edges0 directed weighted edges; parallel edges collapse to
    *               their minimum weight.
    * @return (id, dist) for every node reachable from `sources`.
    */
  def ssspDistances(edges0: DataFrame, srcCol: String, dstCol: String,
                    wCol: String, sources: DataFrame, idCol: String,
                    maxIter: Int = 30): DataFrame = {
    // stationary edge list pre-partitioned+sorted on the join key (r15
    // opt): per-round relaxation joins move only the frontier side
    val edges = org.apache.spark.sql.graft.GraftSqlBridge.localCheckpointByKey(
      edges0
        .select(col(srcCol).as("src"), col(dstCol).as("dst"), col(wCol).as("w"))
        .groupBy("src", "dst").agg(min("w").as("w")),
      Seq("src"))
    val init = sources.select(col(idCol).as("id")).distinct()
      .select(col("id"), lit(0L).as("dist"), lit(true).as("_fr"))
      .localCheckpoint(false)
    FixpointLoop.iterateUntilFixpoint(init, maxIter, "ssspDistances") { cur =>
      val cand = cur.filter(col("_fr"))
        .join(edges, col("id") === col("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
        .groupBy("id").agg(min("dist").as("dist"))
      val improved = cand
        .join(cur.select(col("id"), col("dist").as("_old")), Seq("id"), "left")
        .filter(col("_old").isNull || col("dist") < col("_old"))
        .select(col("id"), col("dist"), lit(true).as("_fr"))
        .localCheckpoint(false)
      val next = cur.select("id", "dist")
        .join(improved.select(col("id").as("_iid")),
          col("id") === col("_iid"), "left_anti")
        .select(col("id"), col("dist"), lit(false).as("_fr"))
        .union(improved)
        .localCheckpoint(false)
      (next, improved.isEmpty)
    }.select(col("id"), col("dist"))
  }
}
