package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank as pure integer dataflow — iterative importance scoring over
  * a directed edge list (join → integer divide → hash-aggregate per
  * round), the canonical "iterate until the graph stabilizes" shape the
  * engine's graph slice needs beyond one-shot degree/propagation ops.
  *
  * Ranks are fixed-point integers (`rank · scale`, default scale 10¹²):
  * every step — per-edge contribution `r div outdeg`, the incoming sum,
  * the damping `(85 · Σ) div 100` — is exact 64-bit integer arithmetic.
  * That buys two properties floats cannot give at 100 TB:
  * **aggregation-order independence** (integer sums are associative, so
  * the result is bit-identical under any partitioning, AQE re-plan, or
  * retry) and **engine agreement** (a SQL oracle reproduces the exact
  * integers — no ulp drift across libm implementations).
  *
  * Dangling nodes (no out-edges) keep receiving the teleport term but
  * contribute nothing — the standard MapReduce formulation (total mass
  * decays; relative ranking is what consumers use). Overflow is
  * structurally impossible at any graph size: total mass is conserved
  * below `scale` (Σr' = 0.15·scale + 0.85·Σr ≤ scale by induction), so
  * every per-node incoming sum is ≤ scale and the damping multiply is
  * bounded by 85·scale ≪ 2⁶³ for any scale ≤ 10¹⁶.
  *
  * '''Shuffle budget: one exchange per iteration.''' The loop inputs are
  * hash-partitioned ONCE before iterating — the degree-annotated edge
  * list on `src`, the node table on `node` — and every per-round operator
  * then either reuses a partitioning or creates the one it needs:
  *   - the contribution join reads `eod` in place (cached pre-partitioned
  *     on `src`) against the rank frame, whose `hash(node)` partitioning
  *     propagates through the `node`→`src` alias (alias-aware output
  *     partitioning), so NEITHER side re-shuffles;
  *   - the incoming-mass `groupBy(dst)` is the iteration's one true
  *     shuffle (partial aggregation runs map-side first);
  *   - the teleport left-join consumes that aggregation's `hash(node)`
  *     output against the pre-partitioned node table — again no exchange,
  *     and its projection hands `hash(node)` to the next round.
  * Without the pre-partitioning each round pays up to three full
  * exchanges of the edge list — the dominant cost at any scale, and a
  * scale-killer at 100×. PlanSpec pins the ≤1-exchange-per-iteration
  * shape against regression.
  *
  * Edges are persisted for the duration (read once, joined every
  * round); each round is lazily stacked and the final frame is
  * checkpointed once — for iteration counts beyond ~10, materialize
  * each round through [[Iterate]] as the durable path does.
  */
object PageRank {

  /** @param checkpointDir when set, every iteration commits a durable
    *   [[DurableIters]] parquet snapshot (via [[Iterate]]) under this
    *   directory and a re-run with the same directory RESUMES from the
    *   highest committed iteration (`None` keeps the in-memory
    *   localCheckpoint fast path — one materialization for the whole
    *   stacked loop, but no executor-loss restart point).
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, scale: Long = 1000000000000L,
      checkpointDir: Option[String] = None): DataFrame = checkpointDir match {
    case None =>
      val (r, handles) = build(edges, srcCol, dstCol, iters, scale)
      val out = r.localCheckpoint(true)
      handles.foreach(_.unpersist(false))
      out
    case Some(dir) =>
      val (eod, nodes, base, baseTerm) = prepare(edges, srcCol, dstCol, scale)
      // fixed-point integer iterations are bit-deterministic, so a run
      // resumed from a committed round is identical to an uninterrupted
      // one — DurableItersSpec proves it (and that the snapshot is
      // actually what the resumed run reads). The lazy r₀ rides round
      // 1's write instead of a materialization of its own.
      val r = Iterate(nodes.withColumn("r", lit(base)), iters, Some(dir),
          ownInit = false)((r, _) => iterate(eod, nodes, r, baseTerm, 1))
      val out = r.select(col("node"), col("r").as("pr_fx"))
      Seq(eod, nodes).foreach(_.unpersist(false))
      out
  }

  /** Everything [[ranks]] does except the final checkpoint: returns the
    * lazily stacked iteration frame plus the persisted handles the caller
    * must unpersist after materializing. Package-private so PlanSpec can
    * count exchanges on the real plan (the checkpointed LogicalRDD that
    * [[ranks]] returns is opaque to plan inspection).
    */
  private[graft] def build(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, scale: Long): (DataFrame, Seq[DataFrame]) = {
    require(iters >= 1, "iters must be positive")
    val (eod, nodes, base, baseTerm) = prepare(edges, srcCol, dstCol, scale)
    val r = iterate(eod, nodes, nodes.withColumn("r", lit(base)), baseTerm, iters)
      .select(col("node"), col("r").as("pr_fx"))
    (r, Seq(eod, nodes))
  }

  /** [[ranks]] over a PRE-ANNOTATED degree edge table — the
    * stored-artifact path: at scale the degree-annotated canonical edge
    * list is built once per graph snapshot and shared by every ranking
    * consumer, so each query pays only the loop, never the annotation.
    * `eod` must be the distinct (src, dst) pairs with `od` = out-degree
    * of src; `nodesIn` the distinct node set. Output is bit-identical
    * to `ranks` on the raw edges (integer dataflow; the annotation is
    * the same numbers wherever it is computed).
    */
  def ranksFromPrepared(eod: DataFrame, nodesIn: DataFrame,
      iters: Int = 5, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val (e, nodes, base, baseTerm) = partitionAnnotated(eod, nodesIn, scale)
    val r = iterate(e, nodes, nodes.withColumn("r", lit(base)), baseTerm, iters)
      .select(col("node"), col("r").as("pr_fx"))
    val out = r.localCheckpoint(true)
    Seq(e, nodes).foreach(_.unpersist(false))
    out
  }

  /** [[personalizedRanks]] over the same pre-annotated inputs as
    * [[ranksFromPrepared]]. */
  def personalizedRanksFromPrepared(eod: DataFrame, nodesIn: DataFrame,
      seeds: DataFrame, iters: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val (e, nodes, _, _) = partitionAnnotated(eod, nodesIn, scale)
    val seedN = seeds.select(col(seeds.columns.head).as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
    val nS = seedN.count()
    require(nS > 0, "personalizedRanks: no seed appears in the graph")
    require(nS <= scale,
      s"seed count $nS exceeds scale=$scale — per-seed base mass would be 0")
    val base = scale / nS
    val baseTerm = (15L * base) / 100L
    val nodesBt = nodes
      .join(broadcast(seedN.withColumn("__s", lit(1))), Seq("node"), "left")
      .select(col("node"),
        when(col("__s").isNotNull, lit(baseTerm)).otherwise(lit(0L)).as("bt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rInit = nodesBt.select(col("node"),
      when(col("bt") > 0, lit(base)).otherwise(lit(0L)).as("r"))
    val r = iterateTeleport(e, nodesBt, rInit, iters)
      .select(col("node"), col("r").as("ppr_fx"))
    val out = r.localCheckpoint(true)
    Seq(e, nodes, nodesBt).foreach(_.unpersist(false))
    out
  }

  /** [[weightedRanks]] over a pre-annotated weighted edge table:
    * distinct (src, dst) with merged weight `w` and `wout` = Σw over
    * src. Same bit-identical-output contract as [[ranksFromPrepared]].
    */
  def weightedRanksFromPrepared(ewod: DataFrame, nodesIn: DataFrame,
      iters: Int = 5, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val parts = ewod.sparkSession.sessionState.conf.numShufflePartitions
    val eod = ewod.select(col("src"), col("dst"), col("w"), col("wout"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = nodesIn.select(col("node"))
      .repartition(parts, col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    require(n > 0, "weighted pagerank needs a non-empty edge list")
    require(n <= scale,
      s"node count $n exceeds scale=$scale — base mass scale/n would be 0")
    val base = scale / n
    val baseTerm = (15L * base) / 100L
    var r = nodes.withColumn("r", lit(base))
    for (_ <- 1 to iters) {
      val summed = eod
        .join(r.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          expr("(CAST(r AS DECIMAL(38,0)) * w) div wout").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("m"))
      r = nodes.join(summed, Seq("node"), "left")
        .select(col("node"), (lit(baseTerm) +
          expr("(85 * coalesce(m, cast(0 as bigint))) div 100")).as("r"))
    }
    val out = r.select(col("node"), col("r").as("pr_fx"))
      .localCheckpoint(true)
    Seq(eod, nodes).foreach(_.unpersist(false))
    out
  }

  /** Continue the fixed-point iteration from a PREVIOUSLY COMPUTED rank
    * table — the incremental-maintenance path: a warehouse refreshes
    * its stored rank artifact with a few more rounds instead of
    * recomputing from scratch. With unchanged edges, `moreIters` rounds
    * from the stored k-round state IS the (k+moreIters)-round result,
    * bit-exactly (integer dataflow has no drift to accumulate), so the
    * warm start is a pure cost optimization — at 100 TB it replaces a
    * full recompute with exactly the rounds still owed.
    */
  def continueRanks(eod: DataFrame, nodesIn: DataFrame,
      prevRanks: DataFrame, moreIters: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(moreIters >= 1, "moreIters must be positive")
    val (e, nodes, _, baseTerm) = partitionAnnotated(eod, nodesIn, scale)
    val rInit = prevRanks.select(col("node"), col("pr_fx").as("r"))
    val r = iterate(e, nodes, rInit, baseTerm, moreIters)
      .select(col("node"), col("r").as("pr_fx"))
    val out = r.localCheckpoint(true)
    Seq(e, nodes).foreach(_.unpersist(false))
    out
  }

  /** Partition + persist pre-annotated loop inputs and derive the base
    * masses — the stored-artifact counterpart of [[prepare]]: one
    * exchange each for the edge and node frames, no annotation work.
    */
  private def partitionAnnotated(eodIn: DataFrame, nodesIn: DataFrame,
      scale: Long): (DataFrame, DataFrame, Long, Long) = {
    val parts = eodIn.sparkSession.sessionState.conf.numShufflePartitions
    val eod = eodIn.select(col("src"), col("dst"), col("od"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = nodesIn.select(col("node"))
      .repartition(parts, col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    require(n > 0, "pagerank needs a non-empty edge list")
    require(scale >= 1L && scale <= 10000000000000000L,
      s"scale=$scale outside (0, 1e16] — 85*scale must fit in int64")
    require(n <= scale,
      s"node count $n exceeds scale=$scale — base mass scale/n would be 0; raise scale")
    val base = scale / n
    val baseTerm = (15L * base) / 100L
    (eod, nodes, base, baseTerm)
  }

  /** The persisted, pre-partitioned loop inputs plus the integer base
    * masses — shared by the localCheckpoint and durable paths.
    */
  private def prepare(edges: DataFrame, srcCol: String, dstCol: String,
      scale: Long): (DataFrame, DataFrame, Long, Long) = {
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    // ONE pipeline builds the degree-annotated distinct edge list with a
    // single exchange: repartition on src FIRST — hash(src) satisfies the
    // (src, dst) clustering the dedup aggregate needs, so no second
    // shuffle — then dedup in place and fold the out-degree in with a
    // src-partitioned window (sort-only, no exchange). The previous form
    // (distinct → self-join degree table → repartition) paid three
    // exchanges and a second cached copy of the edges for the same frame.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    val eod = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(parts, col("src"))
      .dropDuplicates("src", "dst")
      .withColumn("od", count(lit(1)).over(w))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // distinct's own exchange already lays nodes out hash(node, parts) —
    // exactly the partitioning the teleport join needs; an explicit
    // repartition here would be a redundant extra shuffle
    val nodes = eod.select(col("src").as("node"))
      .unionAll(eod.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count() // one action materializes eod then nodes
    require(n > 0, "pagerank needs a non-empty edge list")
    require(scale >= 1L && scale <= 10000000000000000L,
      s"scale=$scale outside (0, 1e16] — 85*scale must fit in int64")
    // base = scale/n is the initial (and teleport) mass per node; if it
    // truncated to 0 every rank would silently collapse to 0 — refuse.
    require(n <= scale,
      s"node count $n exceeds scale=$scale — base mass scale/n would be 0; raise scale")
    val base = scale / n
    val baseTerm = (15L * base) / 100L
    (eod, nodes, base, baseTerm)
  }

  /** The iteration loop over pre-partitioned inputs: `eod` (src, dst, od)
    * hash-partitioned on `src`, `nodes` (node) hash-partitioned on
    * `node`, both with the session shuffle-partition count; `rInit` is
    * the (node, r) rank state to start from. Returns the (node, r) state
    * after `iters` more rounds. Package-private so PlanSpec can count
    * exchanges on the un-checkpointed plan (the public [[ranks]] returns
    * a checkpointed/file-rooted frame whose plan is opaque).
    */
  private[graft] def iterate(eod: DataFrame, nodes: DataFrame,
      rInit: DataFrame, baseTerm: Long, iters: Int): DataFrame =
    iterateTeleport(eod, nodes.withColumn("bt", lit(baseTerm)), rInit, iters)

  /** [[iterate]] with a PER-NODE integer teleport term (`bt` column on
    * the node table) — the uniform case is `bt = baseTerm` everywhere;
    * personalized PageRank sets it only on the seed set. Same
    * one-exchange-per-round shape: the `bt` column rides the
    * pre-partitioned node table through the teleport join.
    */
  private[graft] def iterateTeleport(eod: DataFrame, nodesBt: DataFrame,
      rInit: DataFrame, iters: Int): DataFrame = {
    var r = rInit.select(col("node"), col("r"))
    for (_ <- 1 to iters) {
      val summed = eod
        .join(r.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("r div od").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("m"))
      r = nodesBt.join(summed, Seq("node"), "left")
        .select(col("node"), (col("bt") +
          expr("(85 * coalesce(m, cast(0 as bigint))) div 100")).as("r"))
    }
    r
  }

  /** Personalized PageRank: teleport mass lands ONLY on the seed set
    * (uniformly), so ranks measure proximity to the seeds instead of
    * global importance — the "related items" / local-relevance scoring
    * over the same exact-integer dataflow as [[ranks]]. Seeds outside
    * the graph's node set are ignored (they could neither receive nor
    * route mass). Mass conservation still bounds every sum below
    * `scale`, so the overflow argument of [[ranks]] carries over
    * unchanged, and results stay bit-identical across partitionings
    * and engines.
    *
    * Annotates the raw edges as [[ranks]] does and runs
    * [[personalizedRanksFromPrepared]], which folds the seed flag into
    * the pre-partitioned node table by one broadcast join before the
    * loop; each round still pays exactly one shuffle.
    */
  def personalizedRanks(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iters: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val (eod, nodes, _, _) = prepare(edges, srcCol, dstCol, scale)
    try personalizedRanksFromPrepared(eod, nodes, seeds, iters, scale)
    finally Seq(eod, nodes).foreach(_.unpersist(false))
  }

  /** Weighted PageRank — the random surfer follows an out-edge with
    * probability proportional to its WEIGHT (interaction counts,
    * transition frequencies) instead of uniformly: per-edge
    * contribution `(r·w) div Σw_out`. Parallel input edges merge their
    * weights up front (a multigraph IS its weight table here).
    *
    * Annotates the raw edges with their merged weight and weighted
    * out-degree and runs [[weightedRanksFromPrepared]]. Same guarantees
    * as [[ranks]], same one-exchange-per-round loop, and mass
    * conservation still bounds every sum below `scale`
    * (Σ_e (r·w) div Σw ≤ r by truncation) — so the damping multiply
    * cannot overflow at any graph size. The per-edge product widens to
    * DECIMAL(38,0): `r ≤ scale` times an arbitrary int64 weight is the
    * one place the unweighted overflow argument doesn't carry.
    *
    * @param wCol positive integer edge weights; rows with w ≤ 0 are
    *             dropped (a zero-weight edge routes no mass and would
    *             only distort the out-sum)
    */
  def weightedRanks(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, iters: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    val ewod = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("w"))
      .where(col("w") > 0)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .withColumn("wout", sum(col("w"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = ewod.select(col("src").as("node"))
      .unionAll(ewod.select(col("dst").as("node"))).distinct()
    try weightedRanksFromPrepared(ewod, nodes, iters, scale)
    finally ewod.unpersist(false)
  }
}
