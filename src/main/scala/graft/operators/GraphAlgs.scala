package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointShim
import org.apache.spark.storage.StorageLevel

/** Whole-graph analytics beyond [[PageRank]]: triangle counting and
  * multi-source BFS — the two classic building blocks the reference's
  * graph stage (graph.py's adjacency statistics) implies but computes
  * only degree-deep. Both are pure DataFrame dataflows: equi-joins and
  * hash aggregates, no driver-side adjacency and no nested-loop node.
  *
  * Triangle counting uses the degree-ordered orientation (each
  * undirected edge points from its lower-(degree, id) endpoint to the
  * higher): every triangle is generated exactly once, and a node's
  * oriented out-degree is O(sqrt(|E|)) even on power-law graphs, so
  * the wedge self-join's fan-out is bounded where a naive id-ordered
  * join would square the hottest hub's degree. This is the standard
  * MapReduce formulation (Suri & Vassilvitskii, WWW'11) expressed as
  * two joins + one aggregate.
  *
  * BFS is the PageRank-style iterated dataflow: a `(node, dist)` state
  * frame, one frontier equi-join + min-aggregate per hop, with
  * per-iteration plan truncation (checkpoint) so the lineage stays
  * flat — identical executor-side shape at any graph size.
  */
object GraphAlgs {

  /** Canonicalize an undirected edge list: drop self-loops, dedup both
    * orientations into `a < b`.
    */
  def canonical(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()

  /** All triangles of an undirected graph, one row per triangle with
    * vertices sorted ascending — the exactly-once enumeration the
    * per-node counts and the clustering-coefficient numerator both
    * consume.
    *
    * @param edges undirected edges (any orientation/dup mix)
    */
  def triangles(edges: DataFrame, srcCol: String = "a", dstCol: String = "b"): DataFrame = {
    val e = canonical(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = e.select(col("a").as("node")).unionAll(e.select(col("b")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      // orient each edge from lower (deg, id) to higher (deg, id)
      val oriented = e
        .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
        .select(
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("u"),
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("b")).otherwise(col("a")).as("v"))
      // wedges u→v, u→w with (v, w) ordered in the SAME total order the
      // orientation uses, so the closing edge is probed exactly once
      val ov = oriented.select(col("u"), col("v"))
      val ow = oriented.select(col("u").as("u"), col("v").as("w"))
      val wedges = ov.join(ow, Seq("u")).where(col("v") < col("w"))
      // the closing edge (v, w) exists oriented either v→w or w→v;
      // canonical probe on (min, max) covers both — and since (v, w)
      // is already id-canonical here, the probe is a plain equi-join
      val closing = e.select(col("a").as("v"), col("b").as("w"))
      wedges
        .join(closing, Seq("v", "w"))
        .select(array_sort(array(col("u"), col("v"), col("w"))).as("__t"))
        .select(col("__t")(0).as("t1"), col("__t")(1).as("t2"), col("__t")(2).as("t3"))
    } finally e.unpersist()
  }

  /** Per-node triangle participation counts (only nodes in ≥ 1
    * triangle appear).
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "a", dstCol: String = "b"): DataFrame =
    // explode, not a 3-way union of selects: a union would re-run the
    // whole wedge join once per branch (only exchanges get reused)
    triangles(edges, srcCol, dstCol)
      .select(explode(array(col("t1"), col("t2"), col("t3"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))

  /** Local clustering coefficient per node:
    * `2·triangles(v) / (deg(v)·(deg(v)-1))` — how close each node's
    * neighborhood is to a clique, the standard community-structure
    * signal. Pure composition: [[triangleCounts]] (degree-oriented, so
    * wedge fan-out stays bounded) plus one degree aggregate over a
    * checkpointed canonical edge set shared by both consumers — the
    * expensive part IS the triangle join; the coefficient adds one
    * keys-sized join. Degree-1 and isolated-in-triangle nodes get
    * coefficient 0 (no possible wedge), never a division by zero.
    */
  def clusteringCoefficients(edges: DataFrame, srcCol: String = "a",
      dstCol: String = "b", scale: Int = 4): DataFrame = {
    val e = canonical(edges, srcCol, dstCol).localCheckpoint(true)
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    deg.join(triangleCounts(e), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
            round(lit(2.0) * coalesce(col("n_tri"), lit(0L))
              / (col("deg") * (col("deg") - lit(1))), scale))
          .otherwise(lit(0.0)).as("coeff"))
  }

  /** Bounded single/multi-source shortest paths (Bellman-Ford rounds):
    * minimum total edge weight from any seed over paths of at most
    * `rounds` edges. Unlike [[bfs]], a settled node can still improve
    * in a later round, so every round relaxes the FULL distance table
    * against the adjacency — one equi-join + one min-aggregate, the
    * same single-exchange-per-iteration shape as [[PageRank]]. Integer
    * weights keep every cost exact and engine/retry-invariant.
    * Parallel edges collapse to their cheapest weight up front.
    */
  def ssspBounded(edges: DataFrame, seeds: DataFrame, rounds: Int,
      srcCol: String = "src", dstCol: String = "dst", wCol: String = "w",
      nodeCol: String = "node"): DataFrame = {
    require(rounds >= 0, s"need rounds >= 0; got $rounds")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("w"))
      .repartition(col("src"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      Iterate(seeds.select(col(nodeCol).as("node")).distinct()
          .withColumn("cost", lit(0L)), rounds) { (dist, _) =>
        val relaxed = dist.join(e, dist("node") === e("src"))
          .select(e("dst").as("node"), (dist("cost") + e("w")).as("cost"))
        dist.unionAll(relaxed)
          .groupBy(col("node")).agg(min(col("cost")).as("cost"))
      }
    } finally e.unpersist()
  }

  /** Bounded k-core peeling: iteratively delete nodes of degree < k
    * (with the edge set shrinking as their edges vanish) for `rounds`
    * iterations — the density filter that separates a graph's cohesive
    * core from its tendrils (spam/bot subgraph triage, community
    * pre-filtering). Full decomposition runs until fixpoint; bounded
    * rounds are the distributed contract (same as [[bfs]]/
    * [[ssspBounded]]) — each round is one degree aggregate + two
    * semi-joins over a monotonically SHRINKING edge set, checkpointed
    * per round so lineage stays flat. On most graphs the peel
    * converges in a handful of rounds (each round removes every node
    * whose degree fell below k, not one node at a time).
    *
    * @return (node, deg) for nodes surviving `rounds` peels, with
    *         their degree in the surviving subgraph
    */
  def kCoreBounded(edges: DataFrame, k: Int, rounds: Int,
      srcCol: String = "a", dstCol: String = "b"): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1; got k=$k rounds=$rounds")
    val e = Iterate(canonical(edges, srcCol, dstCol), rounds) { (e, _) =>
      val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val survivors = deg.where(col("deg") >= k)
      e.join(survivors.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(survivors.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
    // report nodes of the SURVIVING edge set with their final degrees —
    // a node whose edges all vanished in the last round is already gone
    // here (the next round would peel it anyway)
    e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }

  /** Bounded k-truss peeling (Cohen 2008) — the edge-strength sibling
    * of [[kCoreBounded]]: each round computes every edge's triangle
    * SUPPORT (how many triangles contain it) and deletes edges
    * supported by fewer than k−2, shrinking the graph for the next
    * round. Where k-core keeps well-connected NODES, k-truss keeps
    * edges embedded in dense mutual neighborhoods — the community
    * scaffold, much more noise-robust than degree.
    *
    * Bounded rounds are the distributed contract (the kCore/SSSP
    * discipline — full decomposition iterates to fixpoint); each round
    * is one [[triangles]] enumeration (degree-oriented wedge join, the
    * same bounded fan-out) + one support aggregate + one pruning join,
    * all exact integers. A final support pass prices the SURVIVING
    * edges, so the output is consistent with the emitted graph.
    *
    * @return (a, b, support) — canonical surviving edges with their
    *         triangle support in the final graph
    */
  def kTrussBounded(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3; got $k")
    require(rounds >= 1, s"need >= 1 round; got $rounds")
    def support(e: DataFrame): DataFrame =
      triangles(e, "a", "b")
        .select(explode(array(
          struct(col("t1").as("a"), col("t2").as("b")),
          struct(col("t2").as("a"), col("t3").as("b")),
          struct(col("t1").as("a"), col("t3").as("b")))).as("__e"))
        .select(col("__e.a").as("a"), col("__e.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    val e = Iterate(canonical(edges, srcCol, dstCol), rounds) { (e, _) =>
      e.join(support(e), Seq("a", "b"), "left")
        .where(coalesce(col("support"), lit(0L)) >= k - 2)
        .select(col("a"), col("b"))
    }
    val out = e.join(support(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
      .localCheckpoint(true)
    CheckpointShim.freeLocalCheckpointIfAny(e)
    out
  }

  /** Sampled-source betweenness dependencies (Brandes 2001, the
    * pivot-sampling form of Bader et al.) — "which nodes do shortest
    * paths FUNNEL through": exact single-source shortest-path DAGs from
    * a pinned seed set, then the backward dependency accumulation
    * δ(v) = Σ_{w: succ} σ(v)/σ(w) · (1 + δ(w)). Full betweenness is
    * all-sources (O(nm) — the known lower bound); pivot sampling is THE
    * standard scale treatment, and the seed set is explicit in the
    * contract rather than hidden in an estimator.
    *
    * Determinism: path counts σ are exact integers (per-level sums over
    * the BFS DAG); δ is carried at ppm scale with ONE integral division
    * per DAG edge — `(σ_v · (10⁶ + δ_w)) div σ_w` — so the oracle
    * replays every level bit for bit (truncation < #succ/10⁶ per node,
    * the PSI-family discipline). The product widens to DECIMAL(38,0):
    * σ·δ_ppm holds while σ · 10⁶·(downstream count) < 10³⁸.
    *
    * Scale shape: level frames are (seed, node)-keyed and grow with the
    * hop-bounded ball, never the whole graph times levels; each level
    * is one keyed edge join + one anti-join against the visited set +
    * one sum aggregate, and the backward pass re-joins the SAME level
    * frames. `maxHops` bounds both passes (hop-limited betweenness —
    * state the bound when comparing to exact BC).
    *
    * @return (node, dependency_ppm) — Σ over seeds of 10⁶·δ, nodes
    *         reached at level ≥ 1 (a source's own δ is not counted,
    *         per Brandes)
    */
  def betweennessFromSeeds(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"need >= 1 hop; got $maxHops")
    val e = canonical(edges, srcCol, dstCol)
    val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .select(col("a").as("src"), col("b").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val lvl0 = seeds.select(col(seedCol).as("seed")).distinct()
      .withColumn("node", col("seed")).withColumn("sig", lit(1L))
    // hop count is a small FIXED bound: level frames carry a LAZY
    // persist (each is consumed by the next level, the visited chain,
    // and twice by the backward pass — caching beats both re-evaluation
    // and the eager-checkpoint discipline, whose ~14 sequential
    // materializations of tiny frames cost 2 s extra at sf0.1);
    // Verify/Bench unpersist per query
    val levels = collection.mutable.ArrayBuffer(lvl0)
    var visited = lvl0.select(col("seed"), col("node"))
    for (_ <- 1 to maxHops) {
      val next = levels.last
        .join(und, levels.last("node") === und("src"))
        .select(col("seed"), col("dst").as("node"), col("sig"))
        .join(visited, Seq("seed", "node"), "left_anti")
        .groupBy(col("seed"), col("node")).agg(sum(col("sig")).as("sig"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      levels += next
      visited = visited.unionByName(next.select(col("seed"), col("node")))
    }
    // backward: deepest level has delta = 0; each level's delta sums over
    // its DAG successors one level down
    var below = levels.last.withColumn("dppm", lit(0L))
    val contribs = collection.mutable.ArrayBuffer(
      below.select(col("node"), col("dppm")))
    for (l <- (maxHops - 1) to 0 by -1) {
      val cur = levels(l)
      val succ = below.select(col("seed"), col("node").as("__w"),
        col("sig").as("__wsig"), col("dppm").as("__wd"))
      val d = cur
        .join(und, cur("node") === und("src"))
        .select(col("seed"), col("node"), col("sig"), col("dst").as("__w"))
        .join(succ, Seq("seed", "__w"))
        .groupBy(col("seed"), col("node"), col("sig"))
        .agg(sum(expr(
          """(CAST(sig AS DECIMAL(38,0)) * (1000000 + __wd)) div __wsig"""))
          .as("dppm"))
      // nodes of this level with NO successors below keep delta = 0 but
      // are still emitted (they carry no dependency). Each `below` is
      // consumed TWICE — by the next level's successor join AND by the
      // contribs union — so without the lazy persist the whole deeper
      // backward subtree re-evaluates once per extra consumer (r20:
      // level l's plan contained every level > l; measured ~2× backward
      // work). Same lazy-persist discipline as the forward `levels`.
      below = cur.join(d.select(col("seed"), col("node"), col("dppm")),
          Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("sig"),
          coalesce(col("dppm"), lit(0L)).as("dppm"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (l >= 1) contribs += below.select(col("node"), col("dppm"))
    }
    contribs.reduce(_ unionByName _)
      .groupBy(col("node")).agg(sum(col("dppm")).as("dependency_ppm"))
  }

  /** node2vec-biased random walks (Grover & Leskovec 2016) — the
    * second-order upgrade to [[randomWalks]]: each hop weights a
    * candidate neighbor x of the current node v by where it sits
    * relative to the PREVIOUS node u — return (x = u) at 1/p, common
    * neighbor (x ~ u) at 1, outward at 1/q — so p, q tune the walk
    * between BFS-like (community) and DFS-like (structural) corpora,
    * the knob that makes walk-based embeddings tunable.
    *
    * Determinism contract: weights are the INTEGER triple (q, p·q, p)
    * (the 1/p, 1, 1/q profile scaled by p·q), the draw is 48 bits of
    * md5 over (start:prev:cur:step) mod the weight total, and the pick
    * is the first dst-ordered candidate whose running weight exceeds
    * the draw — a pure function of the edge set, replayed bit for bit
    * by the unrolled SQL oracle (the [[randomWalks]] discipline carried
    * to weighted sampling). The first hop has no previous node: the
    * sentinel `prev = "-"` matches no neighbor and no adjacency row, so
    * every candidate weighs p — uniform, no special case (node ids must
    * not equal `"-"`).
    *
    * Scale shape per hop: the frontier (≤ |starts| rows) broadcasts
    * into the adjacency join; the common-neighbor test is ONE keyed
    * (prev, nbr) equi-join against the edge set (edges shuffle on the
    * probe key — the second-order price); one start-partitioned window
    * pair prices the weighted draw. Walks that reach a sink end there.
    *
    * @param edges directed edge list — pass both orientations for an
    *              undirected walk (the [[randomWalks]] convention)
    * @return (start, step, node) for step 0..steps
    */
  def node2vecWalks(edges: DataFrame, srcCol: String, dstCol: String,
      starts: DataFrame, startCol: String, steps: Int,
      p: Long, q: Long): DataFrame = {
    require(steps >= 1, s"need >= 1 step; got $steps")
    require(p >= 1 && q >= 1, s"p and q must be positive integers; got $p, $q")
    // cumulative weights are deg·p·q longs; cap the product so a hub's
    // running sum can never wrap silently (10¹² leaves 10⁶ degrees)
    require(p * q <= 1000000000000L,
      s"p*q must be <= 1e12 (weight-sum headroom); got ${p * q}")
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct()
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("start")).orderBy(col("nbr"))
    var state = starts
      .select(col(startCol).cast("string").as("start"))
      .distinct()
      .withColumn("prev", lit("-"))
      .withColumn("node", col("start"))
    val out = collection.mutable.ArrayBuffer(
      state.select(col("start"), lit(0L).as("step"), col("node")))
    // per-hop frames stay EAGER checkpoints: lazy persists for `hop`
    // and/or `state` were measured ADDING jobs (29 → 32–34; AQE runs
    // extra stage-jobs once the LogicalRDD truncation is gone) at flat
    // wall time — experiment rejected, r20
    val hops = collection.mutable.ArrayBuffer.empty[DataFrame]
    for (t <- 1 to steps) {
      val hop = broadcast(state)
        .join(e.select(col("src").as("node"), col("dst").as("nbr")),
          Seq("node"))
        .localCheckpoint(true)
      // common-neighbor test WITHOUT shuffling the edge set: stream e
      // once against the broadcast (prev, nbr) candidate pairs (a LEFT
      // join on e's side would force a sort-merge exchange of the whole
      // edge list every hop — the semi-then-broadcast-back shape keeps
      // each hop at two e scans and zero e exchanges)
      val adjHits = e.join(broadcast(hop.select(col("prev").as("src"),
          col("nbr").as("dst")).distinct()), Seq("src", "dst"), "left_semi")
        .select(col("src").as("prev"), col("dst").as("nbr"),
          lit(1).as("__adj"))
      val cand = hop
        .join(broadcast(adjHits), Seq("prev", "nbr"), "left")
        .withColumn("__w",
          when(col("nbr") === col("prev"), lit(q))
            .when(col("__adj").isNotNull, lit(p * q))
            .otherwise(lit(p)))
      val priced = cand
        .withColumn("__cw", sum(col("__w"))
          .over(w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
        .withColumn("__tw", sum(col("__w"))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("start"))))
        .withColumn("__r", pmod(conv(substring(md5(concat(
          col("start"), lit(":"), col("prev"), lit(":"), col("node"),
          lit(":"), lit(t))), 1, 12), 16, 10).cast("long"), col("__tw")))
      state = priced.where(col("__cw") > col("__r"))
        .groupBy(col("start"), col("node"))
        .agg(min(col("nbr")).as("__next"))
        .select(col("start"), col("node").as("prev"),
          col("__next").as("node"))
        .localCheckpoint(true)
      CheckpointShim.freeLocalCheckpointIfAny(hop)
      hops += state
      out += state.select(col("start"), lit(t.toLong).as("step"), col("node"))
    }
    val walks = out.reduce(_ unionByName _).localCheckpoint(true)
    CheckpointShim.freeLocalCheckpointIfAny(e)
    hops.foreach(CheckpointShim.freeLocalCheckpointIfAny(_))
    walks
  }

  /** Common-neighbor link prediction — rank NON-adjacent node pairs by
    * how much neighborhood they already share (the classic local
    * predictors: common-neighbor count and neighborhood Jaccard), the
    * candidate generator for "suggest an edge" / related-item tasks on
    * the co-occurrence graphs this suite builds.
    *
    * Scale shape: candidate pairs come from the SAME wedge join the
    * [[triangles]] counter uses — two copies of the undirected edge
    * list equi-joined on the shared middle node — then one (a, b)
    * count aggregate, an anti-join against the existing edge set, and
    * two node-keyed degree joins. The wedge volume is Σ deg(m)², so
    * middles above `maxDegree` are EXCLUDED up front (a hub connects
    * everyone to everyone — quadratic cost for near-zero signal; the
    * cap is the standard mitigation and the bias is visible in this
    * contract, not silent). `minCommon` prunes the pair table before
    * the joins — at scale the 1-common-neighbor tail is the bulk of
    * the volume and never ranks.
    *
    * Jaccard is ONE integral division at ppm scale over exact integers:
    * |Γa∩Γb| = common, |Γa∪Γb| = deg(a)+deg(b)−common (degrees over the
    * FULL graph — the hub cap only limits which middles generate
    * candidates, not the sets being compared).
    *
    * @return (a, b, common, deg_a, deg_b, jaccard_ppm), a < b,
    *         non-adjacent pairs with ≥ minCommon shared neighbors
    */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Long = 2L, maxDegree: Long = 10000L): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1; got $minCommon")
    val e = canonical(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      // wedges through bounded-degree middles: m—a, m—b with a < b
      val okMid = deg.where(col("deg") <= maxDegree)
        .select(col("node").as("m"))
      val half = und.select(col("b").as("m"), col("a"))
        .join(okMid, Seq("m"))
      val pairs = half.join(half.select(col("m"), col("a").as("b")), Seq("m"))
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
        .where(col("common") >= minCommon)
        // non-adjacent only: the predictor proposes NEW edges
        .join(e, Seq("a", "b"), "left_anti")
      pairs
        .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
        .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
          expr("""(1000000 * common) div (deg_a + deg_b - common)""")
            .as("jaccard_ppm"))
    } finally e.unpersist()
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007,
    * deterministic form): every node starts as its own label; each
    * round a node adopts the most-voted label among its neighbors,
    * ties broken by the SMALLEST label. The classic formulation
    * shuffles node order and breaks ties randomly — irreproducible by
    * design; synchronous rounds + min-label ties make the algorithm a
    * pure function of the edge set, so an unrolled SQL oracle replays
    * it bit for bit (the [[markovStationary]] determinism discipline
    * applied to community detection). A fixed round count also
    * sidesteps the oscillation the synchronous variant is known for —
    * the caller picks the budget, convergence is observable in the
    * output.
    *
    * Scale shape: per round ONE keyed label⋈edge equi-join (labels are
    * node-sized — no broadcast assumption, both sides hash-partition
    * on the join key), one (node, label) vote count, and one per-node
    * argmin aggregate over (−votes, label) structs — an aggregate, not
    * a window, so no per-node sort. Each round checkpoints and frees
    * its predecessor ([[kCoreBounded]]'s loop hygiene). Isolated nodes
    * never appear (no edges → no votes → not in the node set).
    *
    * @return (node, label) — label is the community representative
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"need >= 1 round; got $rounds")
    val e = canonical(edges, srcCol, dstCol)
    val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    val nodes = und.select(col("a").as("node")).distinct()
      .localCheckpoint(true)
    // the first labels are a projection over the nodes checkpoint, so
    // Iterate must not free them
    val labels = Iterate(nodes.withColumn("label", col("node")), rounds,
        ownInit = false) { (labels, _) =>
      val votes = und
        .join(labels.select(col("node").as("b"), col("label")), Seq("b"))
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("__v"))
      val best = votes.groupBy(col("a"))
        .agg(min(struct((-col("__v")).as("nv"), col("label").as("l")))
          .as("__m"))
        .select(col("a").as("node"), col("__m").getField("l").as("__best"))
      labels.join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("__best"), col("label")).as("label"))
    }
    // the final labels frame is itself checkpointed — loop inputs free
    CheckpointShim.freeLocalCheckpointIfAny(und)
    CheckpointShim.freeLocalCheckpointIfAny(nodes)
    labels
  }

  /** Time-respecting earliest arrival over a temporal edge list
    * `(src, dst, t)`: the minimum time at which each node can be
    * reached from any seed along a path whose edge times never
    * decrease — an edge is usable only at `t ≥` the arrival time at
    * its source. The temporal-graph reachability primitive (information
    * / contagion / supply propagation), where static BFS overcounts:
    * a path through an edge that fired BEFORE you arrived does not
    * exist.
    *
    * Same bounded-round dataflow as [[ssspBounded]] — one equi-join +
    * one min aggregate per round, arrival table checkpointed per round
    * so the lineage stays flat. Times are exact longs (epoch µs or any
    * integral clock): min() over int64 is partition-order-invariant,
    * so results are engine/retry-identical and a SQL oracle unrolls
    * the rounds bit-for-bit.
    *
    * @param startTime seeds become active at this time (their arrival)
    * @return (node, arrival) for every node reachable within `rounds`
    *         time-respecting hops
    */
  def earliestArrival(edges: DataFrame, seeds: DataFrame, rounds: Int,
      startTime: Long = 0L, srcCol: String = "src", dstCol: String = "dst",
      tCol: String = "t", nodeCol: String = "node"): DataFrame = {
    require(rounds >= 0, s"need rounds >= 0; got $rounds")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(tCol).cast("long").as("t"))
      .repartition(col("src"))
      .dropDuplicates("src", "dst", "t")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      Iterate(seeds.select(col(nodeCol).as("node")).distinct()
          .withColumn("arrival", lit(startTime)), rounds) { (arr, _) =>
        val stepped = arr.join(e, arr("node") === e("src") && e("t") >= arr("arrival"))
          .select(e("dst").as("node"), e("t").as("arrival"))
        arr.unionAll(stepped)
          .groupBy(col("node")).agg(min(col("arrival")).as("arrival"))
      }
    } finally e.unpersist()
  }

  /** Multi-source BFS: minimum hop distance from any seed, bounded by
    * `maxHops`. Edges are treated as DIRECTED (`src → dst`); pass a
    * symmetrized frame for undirected semantics.
    *
    * Frontier-only dataflow: each hop joins ONLY the newly-discovered
    * nodes against the adjacency (not the whole distance table), then
    * anti-joins the known set — per-hop work is frontier-adjacency-
    * sized, which is what keeps a 4-hop sweep cheap when the reached
    * set has already saturated. Terminates early once a frontier comes
    * back empty (the emptiness probe is free: the frontier is an eager
    * checkpoint, so it is a driver-side metadata question, not a
    * recompute).
    *
    * @return (node, dist) for every node reachable within `maxHops`
    */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      srcCol: String = "src", dstCol: String = "dst",
      nodeCol: String = "node"): DataFrame = {
    require(maxHops >= 0, s"need maxHops >= 0; got $maxHops")
    // ONE shuffle for the adjacency: repartition on src, then dedup —
    // hashpartitioning(src) already clusters (src, dst), so the
    // dropDuplicates aggregate runs in place (no second exchange), and
    // the layout is exactly what every hop's equi-join needs
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .dropDuplicates(Seq("src", "dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // each hop's frontier is checkpointed ONCE and never re-copied:
      // the running distance table stays a lazy union of the frontier
      // checkpoints (plan size linear in hops, every leaf materialized),
      // so a hop costs exactly one materialization (its own frontier)
      var frontier = seeds.select(col(nodeCol).as("node")).distinct()
        .withColumn("dist", lit(0)).localCheckpoint(true)
      val frontiers = scala.collection.mutable.ArrayBuffer(frontier)
      var hop = 0
      while (hop < maxHops && !frontier.isEmpty) {
        val known = frontiers.reduce(_ unionAll _).select(col("node"))
        val discovered = frontier.join(e, frontier("node") === e("src"))
          .select(e("dst").as("node")).distinct()
          .join(known, Seq("node"), "left_anti")
          .withColumn("dist", lit(hop + 1))
          .localCheckpoint(true)
        frontiers += discovered
        frontier = discovered
        hop += 1
      }
      frontiers.reduce(_ unionAll _)
    } finally e.unpersist()
  }

  /** EXACT per-node neighborhood function: |ball(v, r)| — how many
    * nodes each v reaches within r hops — for every v and every
    * r ≤ maxHops. This is the primitive behind effective-diameter /
    * closeness-centrality estimates and "how connected is this
    * corpus graph" audits. State is every (v, reached) pair — Σ|ball|
    * rows — which is exactly why [[neighborhoodFunctionHll]] exists:
    * this exact form is the audit-scale ground truth and the oracle
    * surface; the sketch form is the 100 TB path.
    *
    * Same frontier-delta dataflow as [[bfs]], run from ALL nodes at
    * once with (v, reached) keys: one equi-join + distinct + anti-join
    * per hop, checkpointed lineage.
    *
    * @param edges DIRECTED edges (pass both orientations for an
    *              undirected graph)
    * @return (node, hop, ball_size) for hop = 0..maxHops, cumulative
    *         (hop 0 is the node itself)
    */
  def neighborhoodFunction(edges: DataFrame, maxHops: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(maxHops >= 0, s"need maxHops >= 0; got $maxHops")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .dropDuplicates(Seq("src", "dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct()
      var frontier = nodes.withColumn("reached", col("node"))
        .withColumn("dist", lit(0)).localCheckpoint(true)
      val frontiers = scala.collection.mutable.ArrayBuffer(frontier)
      var hop = 0
      while (hop < maxHops && !frontier.isEmpty) {
        val known = frontiers.reduce(_ unionAll _)
          .select(col("node"), col("reached"))
        val discovered = frontier.join(e, frontier("reached") === e("src"))
          .select(frontier("node"), e("dst").as("reached")).distinct()
          .join(known, Seq("node", "reached"), "left_anti")
          .withColumn("dist", lit(hop + 1))
          .localCheckpoint(true)
        frontiers += discovered
        frontier = discovered
        hop += 1
      }
      // cumulative ball sizes: per-(node, dist) new-node counts, then a
      // running sum over the ≤ maxHops dist slots
      import org.apache.spark.sql.expressions.Window
      val newPerHop = frontiers.reduce(_ unionAll _)
        .groupBy(col("node"), col("dist")).agg(count(lit(1)).as("__new"))
      val w = Window.partitionBy(col("node")).orderBy(col("dist"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // a node may discover nothing at some hop but more later is
      // impossible (frontier empty ⇒ done), yet hops can be SKIPPED in
      // the output for nodes whose frontier died early — densify with a
      // literal hop spine so every (node, 0..maxHops) row exists
      val spine = nodes.withColumn("hop",
        explode(sequence(lit(0), lit(maxHops))))
      spine.join(newPerHop,
          spine("node") === newPerHop("node") && col("dist") <= col("hop"), "left")
        .groupBy(spine("node"), col("hop"))
        .agg(sum(coalesce(col("__new"), lit(0L))).as("ball_size"))
        .select(spine("node"), col("hop").cast("long").as("hop"),
          col("ball_size"))
    } finally e.unpersist()
  }

  /** HyperBall (Boldi & Vigna, the HLL-sketch neighborhood function):
    * per-node reachable-set SKETCHES instead of reachable-set rows.
    * Each node's state is one ~KB HLL blob no matter how large its
    * ball; a hop is one edge equi-join (neighbors contribute their
    * sketches) + one `hll_union_agg` — register-wise max, an exact
    * lattice join, so re-delivered contributions are idempotent. State
    * is nodes×KB and per-hop cost is |E| sketch merges: the ONLY shape
    * that computes "how far is everything from everything" on a
    * 100 TB graph, where [[neighborhoodFunction]]'s pair state is
    * Σ|ball| ≈ n² rows. GraphAlgsSpec pins the estimates against the
    * exact form (HLL at lgConfigK=12 ≈ 1.6% RSE).
    *
    * @return (node, hop, ball_est) for hop = 0..maxHops
    */
  def neighborhoodFunctionHll(edges: DataFrame, maxHops: Int,
      srcCol: String = "src", dstCol: String = "dst",
      lgConfigK: Int = 12): DataFrame = {
    require(maxHops >= 0, s"need maxHops >= 0; got $maxHops")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .dropDuplicates(Seq("src", "dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct()
      // each hop's estimate rows are checkpointed (skinny: node, hop,
      // long) BEFORE the sketch state they read from is freed — the
      // sketch blobs live exactly one hop
      def estimates(s: DataFrame, hop: Long): DataFrame = s.select(col("node"),
        lit(hop).as("hop"),
        expr("hll_sketch_estimate(__sk)").cast("long").as("ball_est"))
        .localCheckpoint(true)
      val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val last = Iterate(nodes.groupBy(col("node"))
          .agg(expr(s"hll_sketch_agg(node, $lgConfigK)").as("__sk")), maxHops) {
        (state, hop) =>
          out += estimates(state, hop - 1)
          val contrib = e.join(state, e("dst") === state("node"))
            .select(e("src").as("node"), col("__sk"))
          state.unionAll(contrib)
            .groupBy(col("node")).agg(expr("hll_union_agg(__sk)").as("__sk"))
      }
      out += estimates(last, maxHops)
      out.reduce(_ unionAll _)
    } finally e.unpersist()
  }

  /** HyperBall over the OWN HyperLogLog
    * ([[Sketches.hllLongFit]]/[[Sketches.hllLongMerge]]) — the
    * hash-gated sibling of [[neighborhoodFunctionHll]]: registers are
    * (node, bucket, rho) INTEGER rows instead of library blobs, the
    * per-hop union is the lossless max-merge through one edge join, and
    * the whole iteration (xxhash64 buckets, bit-length rho, the scaled-
    * integer harmonic estimate) replays in SQL — see the
    * `graph_neighborhood_hll_own` oracle. Per-hop state is
    * nodes·2^p rows whatever the ball sizes.
    */
  def neighborhoodFunctionHllOwn(edges: DataFrame, maxHops: Int,
      srcCol: String = "src", dstCol: String = "dst",
      p: Int = 4): DataFrame = {
    require(maxHops >= 0, s"need maxHops >= 0; got $maxHops")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .dropDuplicates(Seq("src", "dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct()
      def estimates(s: DataFrame, hop: Long): DataFrame =
        Sketches.hllLongEstimate(s, Seq("node"), p)
          .select(col("node"), lit(hop).as("hop"),
            col("n_obs"), col("est"))
          .localCheckpoint(true)
      val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val last = Iterate(Sketches.hllLongFit(nodes, "node", Seq("node"), p),
          maxHops) { (state, hop) =>
        out += estimates(state, hop - 1)
        val contrib = e.join(state, e("dst") === state("node"))
          .select(e("src").as("node"), col("bucket"), col("rho_max"))
        Sketches.hllLongMerge(state, contrib, Seq("node"))
      }
      out += estimates(last, maxHops)
      out.reduce(_ unionAll _)
    } finally e.unpersist()
  }

  /** Stationary distribution of a weighted Markov chain by power
    * iteration in INTEGER fixed-point (the [[PageRank]] discipline:
    * every contribution floors to an int64, so the result is
    * bit-identical across partitionings, AQE re-plans, retries, and an
    * unrolled SQL oracle — no float accumulation anywhere).
    *
    * `transitions` is (srcCol, dstCol, nCol) exact transition counts
    * (e.g. the event_markov output). The state space is the set of
    * SOURCES; transitions into sink states (dst that never occurs as a
    * src) are dropped — mass flooring, not renormalization, keeps the
    * math integral, and the caller sees sinks by their absence. π₀
    * splits `scale` evenly; each step moves `(π_i · n_ij) div n_i` to
    * j, floored per edge exactly as the oracle's `//` does.
    *
    * Scale shape: π is a states-sized frame — broadcast into the edge
    * join every step, so an iteration is one broadcast equi-join + one
    * dst-keyed aggregate; no driver-side matrix even when the state
    * space is large (URLs, SKUs, not just event types).
    */
  def markovStationary(transitions: DataFrame, srcCol: String,
      dstCol: String, nCol: String, iters: Int = 8,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"need >= 1 iteration; got $iters")
    val t0 = transitions.select(col(srcCol).as("__src"),
      col(dstCol).as("__dst"), col(nCol).cast("long").as("__n"))
    val states = t0.select(col("__src").as("state")).distinct()
      .localCheckpoint(true)
    val nStates = states.count()
    val totals = t0.groupBy(col("__src")).agg(sum(col("__n")).as("__ns"))
    val edges = t0
      .join(states.select(col("state").as("__dst")), Seq("__dst"), "left_semi")
      .join(totals, Seq("__src"))
      .localCheckpoint(true)
    // π₀ is a projection OVER the states checkpoint (not its own) —
    // freeing it would kill states' blocks mid-loop (the shim's
    // documented sharp edge), so Iterate must not own it
    val pi = Iterate(states.withColumn("r", lit(scale / nStates)), iters,
        ownInit = false) { (pi, _) =>
      val moved = edges
        .join(broadcast(pi.select(col("state").as("__src"), col("r"))), Seq("__src"))
        // widen the r·n product to DECIMAL(38,0) before the integral
        // divide: r runs up to scale = 10^12, so a per-edge transition
        // count above ~9.2e6 would silently overflow an int64 product;
        // IntegralDivide still returns long and the quotient ≤ scale
        .select(col("__dst").as("state"),
          expr("(CAST(r AS DECIMAL(38,0)) * __n) div __ns").as("__c"))
        .groupBy(col("state")).agg(sum(col("__c")).as("__m"))
      states.join(moved, Seq("state"), "left")
        .select(col("state"), coalesce(col("__m"), lit(0L)).as("r"))
    }
    // the final π is itself checkpointed — the loop inputs can release
    CheckpointShim.freeLocalCheckpointIfAny(states)
    CheckpointShim.freeLocalCheckpointIfAny(edges)
    pi.select(col("state"), col("r").as("pi_fx"))
  }

  /** HITS hubs-and-authorities in integer fixed-point (Kleinberg's
    * mutual-reinforcement iteration, the [[PageRank]] exactness
    * discipline): authority = normalized in-sum of hub scores, hub =
    * normalized out-sum of authority scores, with L1 normalization
    * `v·scale div Σv` after every half-step — all int64, so the
    * distributed loop and an unrolled SQL oracle agree bit for bit
    * (classic HITS normalizes in L2; L1 keeps the math integral and
    * ranks identically since normalization is a positive scalar).
    *
    * Per iteration: two equi-join + aggregate passes (edge⋈score) and
    * two scalar totals — no driver-side matrix. int64 headroom: with
    * `scale` = 10⁶ the raw sums stay ≤ |E|·10⁶ and the normalization
    * product ≤ |E|·10¹² — safe to ~10⁶-edge×10⁶-scale, widen to
    * DECIMAL beyond.
    *
    * @return (node, hub_fx, auth_fx) — fixed-point scores, Σ ≈ scale
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"need >= 1 iteration; got $iters")
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst"))).distinct().localCheckpoint(true)
    val owned = collection.mutable.ArrayBuffer.empty[DataFrame]
    def normalized(rawLazy: DataFrame): DataFrame = {
      // raw: (node, v) over a SUBSET of nodes; missing nodes are 0.
      // Materialize it ONCE — the total and the normalize both read it,
      // and without the checkpoint each would re-run the edge join.
      val raw = rawLazy.localCheckpoint(true)
      val tot = raw.agg(sum(col("v")).as("__tot"))
      val out = nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(tot))
        .select(col("node"), coalesce(
          expr(s"(v * ${scale}L) div __tot"), lit(0L)).as("v"))
        .localCheckpoint(true)
      CheckpointShim.freeLocalCheckpointIfAny(raw)
      out
    }
    var hub = nodes.withColumn("v", lit(scale))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      // score frames are node-sized — broadcast them into the edge join
      // so the (much larger) edge table never shuffles for the join
      val rawAuth = e.join(
          broadcast(hub.select(col("node").as("src"), col("v"))), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("v")).as("v"))
      auth = normalized(rawAuth)
      owned += auth
      val rawHub = e.join(
          broadcast(auth.select(col("node").as("dst"), col("v"))), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("v")).as("v"))
      hub = normalized(rawHub)
      owned += hub
    }
    val result = nodes
      .join(hub.select(col("node"), col("v").as("hub_fx")), Seq("node"), "left")
      .join(auth.select(col("node"), col("v").as("auth_fx")), Seq("node"), "left")
      .select(col("node"), coalesce(col("hub_fx"), lit(0L)).as("hub_fx"),
        coalesce(col("auth_fx"), lit(0L)).as("auth_fx"))
      .localCheckpoint(true)
    CheckpointShim.freeLocalCheckpointIfAny(e)
    CheckpointShim.freeLocalCheckpointIfAny(nodes)
    owned.foreach(CheckpointShim.freeLocalCheckpointIfAny(_))
    result
  }

  /** Probability of HITTING an absorbing state within `iters` steps of
    * a weighted Markov chain, by value iteration in integer fixed-point
    * (the [[markovStationary]] discipline, pulled along OUTGOING edges
    * instead of pushed along incoming ones):
    *
    * {{{ v₀(s) = [s = absorbing]·scale;  v_{k+1}(s) = Σ_t (v_k(t)·n_st) div n_s }}}
    *
    * with the absorbing state pinned at `scale` every round. Transitions
    * to sink states (dst never a src) contribute 0 — "the chain ended
    * without converting", which is exactly the funnel semantics. The
    * conversion read behind Markov-chain attribution: from each state,
    * how likely is the user to reach `absorbing` within k more steps.
    * All int64, bit-identical to an unrolled SQL oracle.
    */
  def absorptionProbability(transitions: DataFrame, srcCol: String,
      dstCol: String, nCol: String, absorbing: String, iters: Int = 8,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"need >= 1 iteration; got $iters")
    val t0 = transitions.select(col(srcCol).cast("string").as("__src"),
      col(dstCol).cast("string").as("__dst"), col(nCol).cast("long").as("__n"))
    // the absorbing state joins the state set even when it is a SINK
    // (no outgoing transitions): edges into it must pull `scale`, not
    // the 0 that a missing value row would silently contribute
    val states = t0.select(col("__src").as("state"))
      .unionByName(t0.sparkSession.range(1).select(lit(absorbing).as("state")))
      .distinct()
      .localCheckpoint(true)
    val totals = t0.groupBy(col("__src")).agg(sum(col("__n")).as("__ns"))
    val edges = t0.join(totals, Seq("__src")).localCheckpoint(true)
    def pin(v: DataFrame): DataFrame = v.select(col("state"),
      when(col("state") === absorbing, lit(scale)).otherwise(col("v")).as("v"))
    // v₀ is a projection over the states checkpoint: not Iterate's to free
    val value = Iterate(pin(states.withColumn("v", lit(0L))), iters,
        ownInit = false) { (value, _) =>
      val pulled = edges
        .join(broadcast(value.select(col("state").as("__dst"), col("v"))),
          Seq("__dst"))
        // DECIMAL(38,0) widening for the same reason as markovStationary:
        // v ≤ scale = 10^12, so int64 v·n overflows past ~9.2e6-count edges
        .select(col("__src").as("state"),
          expr("(CAST(v AS DECIMAL(38,0)) * __n) div __ns").as("__c"))
        .groupBy(col("state")).agg(sum(col("__c")).as("__m"))
      pin(states.join(pulled, Seq("state"), "left")
        .select(col("state"), coalesce(col("__m"), lit(0L)).as("v")))
    }
    val result = value
      .select(col("state"), col("v").as("p_fx"),
        expr(s"v div ${scale / 1000000L}L").as("p_ppm"))
      .localCheckpoint(true)
    CheckpointShim.freeLocalCheckpointIfAny(states)
    CheckpointShim.freeLocalCheckpointIfAny(edges)
    CheckpointShim.freeLocalCheckpointIfAny(value)
    result
  }

  /** Deterministic random walks (the DeepWalk/node2vec corpus
    * generator): from every row of `starts`, a `steps`-hop walk whose
    * next node at step t is the neighbor at index
    * `md5(start:node:t) mod degree` in the node's dst-sorted adjacency
    * — a seedless draw that is a pure function of (start, position),
    * so walks are bit-identical across engines/retries/partitionings
    * and replayable by a SQL oracle (the hashSplit discipline applied
    * to walk sampling; a true RNG here would make every re-run emit a
    * different training corpus).
    *
    * Scale shape: one ranked-adjacency table (a per-src window, built
    * once) and TWO equi-joins per hop — frontier⋈degree to draw the
    * index, then (node, index)⋈(src, rank) to step, both on keys that
    * distribute; the frontier never exceeds |starts| rows. No
    * driver-side adjacency, no per-walk loop. Walks that reach a node
    * with no out-edges end there (inner join); emit covers steps
    * 0..`steps`.
    *
    * @return (start, step, node) — one row per visited position
    */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      starts: DataFrame, startCol: String, steps: Int): DataFrame = {
    require(steps >= 1, s"need >= 1 step; got $steps")
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val ranked = e
      .withColumn("rk", (row_number().over(w) - 1).cast("long"))
      .localCheckpoint(true)
    val deg = ranked.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    var state = starts
      .select(col(startCol).cast("string").as("start"))
      .distinct()
      .withColumn("node", col("start"))
    val out = collection.mutable.ArrayBuffer(
      state.withColumn("step", lit(0L)))
    val hops = collection.mutable.ArrayBuffer.empty[DataFrame]
    for (t <- 1 to steps) {
      // 12 hex digits = 48 bits of md5 before the pmod: a 16-bit draw
      // would starve neighbors at rank >= 65536 on high-degree hubs and
      // its modulo bias grows with degree; 48 bits keeps the draw
      // near-uniform up to ~10^14-degree nodes (bias < 2^-34)
      val idx = pmod(conv(substring(md5(concat(col("start"), lit(":"),
        col("node"), lit(":"), lit(t))), 1, 12), 16, 10).cast("long"), col("deg"))
      // the frontier is ≤ |starts| rows — broadcast it into both hop
      // joins so neither the degree table nor the (much larger) ranked
      // adjacency ever shuffles for the walk
      val withDeg = broadcast(state)
        .join(deg.select(col("src").as("node"), col("deg")), Seq("node"))
        .withColumn("__idx", idx)
      state = broadcast(withDeg)
        .join(ranked.select(col("src").as("node"), col("rk").as("__idx"),
          col("dst").as("__next")), Seq("node", "__idx"))
        .select(col("start"), col("__next").as("node"))
        .localCheckpoint(true)
      hops += state
      out += state.withColumn("step", lit(t.toLong))
    }
    val walks = out.reduce(_ unionByName _)
      .select(col("start"), col("step"), col("node"))
      .localCheckpoint(true)
    // walks is materialized — every loop input/intermediate can release
    CheckpointShim.freeLocalCheckpointIfAny(ranked)
    CheckpointShim.freeLocalCheckpointIfAny(deg)
    hops.foreach(CheckpointShim.freeLocalCheckpointIfAny(_))
    walks
  }
}
