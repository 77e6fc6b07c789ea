package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.VectorOps

/** k-NN GRAPH construction by NN-descent (Dong et al., WWW'11) — the
  * all-pairs complement of [[SimilaritySearch]]'s per-query ANN: every
  * node ends with its k best cosine neighbors, the structure clustering,
  * graph-based dedup, and diversity sampling consume. Brute force is
  * n² pair scores; NN-descent converges on n·k² candidate scores per
  * round by exploiting "a neighbor of my neighbor is likely my
  * neighbor": each round scores only the 2-hop frontier of the current
  * graph against itself and keeps the per-node top-k.
  *
  * Spark shape: the graph state is a skinny (src, dst, cos) frame; a
  * round is two self-joins (undirected 2-hop candidates), one vector
  * equi-join per side to score, a union with the incumbent edges, and a
  * per-src top-k window — all equi-joins and hash partitionings, no
  * nested-loop node anywhere. Vectors persist once and are joined by
  * id each round; candidate rows carry ids + the cosine only.
  *
  * Monotone by construction: the union keeps incumbent edges, so a
  * node's kept top-k can only improve round over round (KnnGraphSpec
  * asserts both the monotonicity and a recall floor vs the exact
  * graph). Deterministic: seeded-hash init buckets, hash-tie-broken
  * windows — same output on any partitioning or retry.
  *
  * Init seeds each node with its DOUBLE hash bucket's members (two
  * independent salted bucketings, ~2(k+1) candidates per node): one
  * random bucketing risks singleton buckets that strand a node with no
  * edges to descend from; the union makes isolation vanishingly rare.
  */
object KnnGraph {

  /** Checked long cast for an id column: a null or non-numeric id
    * raises at scan time instead of collapsing every such row onto one
    * null node (a silently wrong graph / silently no-op removal).
    * `try_cast` keeps the probe ANSI-safe; the guard rides the
    * projection that needed the cast anyway — zero extra passes.
    * [[nnDescent]] keeps its aggregate-piggybacked variant because it
    * already pays a count pass for bucket sizing.
    */
  private def checkedLongId(idCol: String, fn: String) = {
    val tried = expr(s"try_cast(`$idCol` as long)")
    when(tried.isNull,
      raise_error(concat(lit(s"$fn: null/non-numeric '$idCol' id: "),
        coalesce(col(idCol).cast("string"), lit("null")))).cast("long"))
      .otherwise(tried)
  }

  def nnDescent(df: DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int = 3, seed: Long = 42L): DataFrame = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got k=$k iters=$iters")
    import org.apache.spark.sql.expressions.Window
    // try_cast: under ANSI a plain cast would throw CAST_INVALID_INPUT
    // mid-scan; nulling instead lets the count-pass guard below own the
    // error with an actionable message
    val vecs = df.select(expr(s"try_cast(`$idCol` as long)").as("id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__nm", VectorOps.l2Norm(col("__v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // The long cast nulls any non-numeric id, and every such row would
      // collapse onto one null node — a silently wrong graph. Piggyback
      // the guard on the count pass the bucket sizing needs anyway.
      val firstRow = vecs.agg(count(lit(1)).as("n"),
        count(when(col("id").isNull, 1)).as("badIds")).head()
      val n = firstRow.getLong(0)
      require(firstRow.getLong(1) == 0L,
        s"nnDescent: ${firstRow.getLong(1)} rows have a null/non-numeric " +
          s"'$idCol' after cast to long; fix or filter the id column")
      val nBuckets = math.max(1L, n / (k + 1L))
      // two independent seeded bucketings; all ordered pairs in a bucket
      val ids = vecs.select(col("id"))
      val bucketed = (0 to 1).map { salt =>
        val b = ids.withColumn("__b",
          pmod(xxhash64(col("id"), lit(seed + salt)), lit(nBuckets)))
        b.join(b.select(col("__b"), col("id").as("dst")), Seq("__b"))
          .where(col("id") =!= col("dst"))
          .select(col("id").as("src"), col("dst"))
      }.reduce(_ unionAll _)
      val bySrc = Window.partitionBy(col("src"))
        .orderBy(col("cos").desc, col("dst").asc)
      def topK(scored: DataFrame): DataFrame = scored
        .withColumn("__rk", row_number().over(bySrc))
        .where(col("__rk") <= k).drop("__rk")
      def score(pairs: DataFrame): DataFrame = pairs
        .join(vecs.select(col("id").as("src"), col("__v").as("__sv"),
          col("__nm").as("__sn")), Seq("src"))
        .join(vecs.select(col("id").as("dst"), col("__v").as("__dv"),
          col("__nm").as("__dn")), Seq("dst"))
        .select(col("src"), col("dst"),
          VectorOps.cosineWithNorms(col("__sv"), col("__dv"),
            col("__sn"), col("__dn")).as("cos"))
      val graph = Iterate(topK(score(bucketed.distinct())), iters) { (graph, _) =>
        // undirected 2-hop frontier: neighbors-of-neighbors both ways
        val und = graph.select(col("src"), col("dst"))
          .unionAll(graph.select(col("dst").as("src"), col("src").as("dst")))
        val cand = und.join(und.select(col("src").as("dst"), col("dst").as("d2")),
            Seq("dst"))
          .where(col("src") =!= col("d2"))
          .select(col("src"), col("d2").as("dst"))
          .distinct()
          // incumbents rejoin via the union below; don't re-score them
          .join(graph.select(col("src"), col("dst")), Seq("src", "dst"), "left_anti")
        topK(score(cand).unionAll(graph))
      }
      graph.withColumn("rank", row_number().over(bySrc).cast("long"))
        .select(col("src").as("id"), col("dst").as("neighbor_id"),
          col("rank"), round(col("cos"), 4).as("cosine"))
    } finally vecs.unpersist(blocking = false)
  }

  /** Graph-guided beam search over a k-NN graph — the search half that
    * makes [[nnDescent]]'s artifact a consumable index (the HNSW-family
    * idea, flat single-layer form): each query starts from a small
    * shared set of entry nodes, repeatedly expands its current beam one
    * graph hop (score the neighbors-of-beam against the query, keep the
    * per-query best `beam`), and returns the top-k after `hops` rounds.
    * The reference's own retrieval need is the analogue
    * (evaluate.py:111-191 candidate ranking).
    *
    * Scale shape: after the seed round NOTHING scans the corpus — a hop
    * is an equi-join of the skinny (query, node) beam against the edge
    * list, one vector equi-join to score ≤ |Q|·beam·2k frontier rows,
    * and a per-query top-beam window; per-hop work is independent of
    * corpus size, which is the entire point of graph-guided search at
    * 100 TB (the graph + vectors co-partition by node id; the query
    * batch broadcasts). Evicted-then-revisited nodes may be re-scored —
    * idempotent, and the anti-join against the CURRENT beam keeps the
    * common case pruned without carrying an ever-growing visited set.
    *
    * Deterministic: hash-picked seeds, id-tie-broken windows — same
    * output on any partitioning or retry. `graph` takes [[nnDescent]]'s
    * output shape (`id, neighbor_id, …`); edges are walked undirected,
    * doubling each node's out-degree with its in-links exactly like the
    * descent frontier.
    *
    * `perQuerySeeds` (query_id, node_id) replaces the shared hash
    * seeds with DISTRIBUTION-AWARE per-query entry points — see
    * [[ivfSeeds]]: hash seeds are uniform over the corpus, so at
    * billion-node scale a query whose neighborhood is far from every
    * seed pays extra hops just to travel there; seeding from the
    * query's own nearest IVF cells starts the walk inside its
    * neighborhood (the coarse-layer idea HNSW's upper layers serve).
    * Queries absent from the frame get no beam — callers pass a
    * covering assignment (ivfSeeds covers every query by
    * construction).
    */
  def graphSearch(graph: DataFrame, vectors: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int, beam: Int = 20, hops: Int = 3,
      seedsPerQuery: Int = 8, seed: Long = 42L,
      perQuerySeeds: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && beam >= k && hops >= 0 && seedsPerQuery >= 1,
      s"need k >= 1, beam >= k, hops >= 0, seeds >= 1; " +
        s"got k=$k beam=$beam hops=$hops seeds=$seedsPerQuery")
    import org.apache.spark.sql.expressions.Window
    val vecs = vectors.select(checkedLongId(idCol, "graphSearch").as("node_id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__nm", VectorOps.l2Norm(col("__v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val qv = queries.select(checkedLongId(idCol, "graphSearch").as("query_id"),
          col(vecCol).cast("array<double>").as("__qv"))
        .withColumn("__qn", VectorOps.l2Norm(col("__qv")))
      val byQuery = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("node_id").asc)
      def topN(scored: DataFrame, n: Int): DataFrame = scored
        .withColumn("__rk", row_number().over(byQuery))
        .where(col("__rk") <= n).drop("__rk")
      def score(cand: DataFrame): DataFrame = cand
        .join(vecs, Seq("node_id"))
        .join(broadcast(qv), Seq("query_id"))
        .where(col("node_id") =!= col("query_id"))
        .select(col("query_id"), col("node_id"),
          VectorOps.cosineWithNorms(col("__v"), col("__qv"),
            col("__nm"), col("__qn")).as("cos"))
      // entry points: per-query cell seeds when provided (bounded —
      // nprobe medoids per query — so broadcast); otherwise the shared
      // nodes sorting first by salted hash — deterministic, uniform
      // over the corpus, one skinny global top-N (TakeOrdered over
      // ids, not a data scan per query)
      val seeded = perQuerySeeds match {
        case Some(s) => broadcast(
          s.select(col("query_id").cast("long"), col("node_id").cast("long")))
        case None =>
          val seeds = vecs.select(col("node_id"))
            .orderBy(xxhash64(col("node_id"), lit(seed)), col("node_id"))
            .limit(seedsPerQuery)
          qv.select(col("query_id")).crossJoin(broadcast(seeds))
      }
      val und = graph.select(col("id").as("node_id"), col("neighbor_id"))
        .unionAll(graph.select(col("neighbor_id").as("node_id"),
          col("id").as("neighbor_id")))
      val beamState = Iterate(topN(score(seeded), beam), hops) { (beamState, _) =>
        val frontier = beamState.select(col("query_id"), col("node_id"))
          .join(und, Seq("node_id"))
          .select(col("query_id"), col("neighbor_id").as("node_id"))
          .distinct()
          .join(beamState.select(col("query_id"), col("node_id")),
            Seq("query_id", "node_id"), "left_anti")
        // beamState (a checkpointed LogicalRDD, constraint-free) leads
        // the union: with the scored side first, Spark's Union
        // constraint rewrite can look up an attribute the scored
        // child's join-inferred constraints reference but its output
        // doesn't carry (NoSuchElementException at plan time, seen
        // with same-lineage local-relation corpus+queries); order is
        // semantically free — topN re-sorts the union anyway
        topN(beamState.unionAll(score(frontier)), beam)
      }
      topN(beamState, k)
        .withColumn("rank", row_number().over(byQuery).cast("long"))
        .select(col("query_id"), col("node_id").as("neighbor_id"),
          col("rank"), round(col("cos"), 4).as("cosine"))
    } finally vecs.unpersist(blocking = false)
  }

  /** Distribution-aware per-query entry points for [[graphSearch]],
    * derived from the ANN stack's IVF cells (the coarse layer the flat
    * graph lacks — HNSW serves this need with its upper layers; here
    * the centroids ALREADY exist because the same corpus carries the
    * [[SimilaritySearch]] index): every corpus node assigns to its
    * nearest centroid, each cell elects its MEDOID (the member nearest
    * the centroid — a real node, so it has graph edges), and a query
    * seeds from the medoids of its `nprobe` nearest cells. The walk
    * then starts inside the query's own neighborhood instead of
    * travelling from uniform hash picks — KnnGraphSpec pins ≥ hash-seed
    * recall at FEWER hops on clustered data.
    *
    * Scale shape: one corpus scan scores kCells codegen'd dots per row
    * (the IVF assignment cost, shared with index maintenance), the
    * medoid election is one cell-keyed aggregate to kCells rows, and
    * the query side is per-query driver-free centroid math + a
    * broadcast join against the kCells-sized medoid frame — nothing
    * scans the corpus per query.
    *
    * @return (query_id, node_id) — `nprobe` seed nodes per query
    */
  def ivfSeeds(vectors: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, centroids: Seq[(Int, Seq[Double])],
      nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"need 1 <= nprobe <= ${centroids.size} cells; got $nprobe")
    // (distance², cell) per centroid — identical math to
    // SimilaritySearch.assignToCentroids, kept struct-valued so the
    // min carries the distance the medoid election needs
    def cellDists(v: org.apache.spark.sql.Column) = centroids.map {
      case (cid, c) =>
        val cNormSq = c.map(x => x * x).sum
        struct((lit(cNormSq) - lit(2.0) * VectorOps.dot(v,
          array(c.map(lit): _*))).as("d"), lit(cid).as("cid"))
    }
    val corpus = vectors.select(
      checkedLongId(idCol, "ivfSeeds").as("node_id"),
      col(vecCol).cast("array<double>").as("__v"))
    val assigned = corpus
      .withColumn("__a", array_min(array(cellDists(col("__v")): _*)))
      // cell assignment keeps the reduced ||c||²-2v·c form (||v||² is
      // constant across cells), but the medoid election compares
      // ACROSS members, so it must add each member's own ||v||² back
      // to get the true squared distance to the centroid
      .select(col("node_id"), col("__a").getField("cid").as("cell"),
        (col("__a").getField("d") +
          VectorOps.dot(col("__v"), col("__v"))).as("__d"))
    val medoids = assigned
      .groupBy(col("cell"))
      // min over (distance, id) structs: the member nearest its
      // centroid, id-tie-broken — deterministic on any partitioning
      .agg(min(struct(col("__d"), col("node_id"))).as("__m"))
      .select(col("cell"), col("__m").getField("node_id").as("node_id"))
    queries
      .select(checkedLongId(idCol, "ivfSeeds").as("query_id"),
        explode(slice(array_sort(array(
          cellDists(col(vecCol).cast("array<double>")): _*)), 1, nprobe)
          .getField("cid")).as("cell"))
      .join(broadcast(medoids), Seq("cell"))
      .select(col("query_id"), col("node_id"))
  }

  /** Incremental INSERT of a bounded batch of new vectors into an
    * existing k-NN graph — the maintenance half that keeps a corpus-
    * scale graph current without the full [[nnDescent]] rebuild (the
    * graph analogue of [[graft.streaming.AnnIndexStream.indexRows]]'s
    * ingest role, and the standard HNSW insertion recipe: search first,
    * then link both directions). Three bounded edge sources merge:
    *
    *  1. new→old: each new vector [[graphSearch]]es the EXISTING graph
    *     for its k best old neighbors — per-insert cost is the walk's
    *     corpus-size-independent budget, never an old-corpus scan;
    *  2. old→new: the reverse of those edges challenges the affected
    *     old nodes' lists — only nodes a new vector actually reached
    *     re-rank (≤ |B|·k of them), the rest of the graph's edges pass
    *     through untouched;
    *  3. new↔new: exact top-k within the batch
    *     ([[SimilaritySearch.knnJoinBruteForce]] — the batch is
    *     bounded by contract, like a query batch, so |B|² broadcast
    *     pairs are the cheap part).
    *
    * One per-src top-k window over the union yields the updated graph
    * in [[nnDescent]]'s output shape. Ids must be disjoint (enforced) —
    * an id collision would silently merge two nodes' neighborhoods.
    * Quality contract (KnnGraphSpec): recall of insert-then-measure
    * tracks the full rebuild within a few points; repeated large-batch
    * insertion without a periodic rebuild degrades like any
    * incrementally-maintained index and the same spec documents the
    * re-descent refresh (`nnDescent` over the merged corpus).
    */
  def insert(graph: DataFrame, oldVectors: DataFrame, newVectors: DataFrame,
      vecCol: String, idCol: String, k: Int, beam: Int = 20, hops: Int = 3,
      seedsPerQuery: Int = 8, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val oldIds = oldVectors.select(checkedLongId(idCol, "insert").as("id"))
    val newIds = newVectors.select(checkedLongId(idCol, "insert").as("id"))
    require(newIds.join(oldIds, Seq("id"), "left_semi").limit(1).isEmpty,
      s"insert: new '$idCol' values collide with existing graph nodes")
    // 1. new→old via beam search over the existing graph
    val newOld = graphSearch(graph, oldVectors, newVectors, vecCol, idCol,
      k, beam, hops, seedsPerQuery, seed)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
        col("cosine").as("cos"))
    // 3. new↔new exact within the bounded batch
    val newNew = SimilaritySearch
      .knnJoinBruteForce(newVectors, newVectors, vecCol, idCol, k)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
        col("cosine").as("cos"))
    // 2. old→new: the reverse edges challenge affected old nodes only
    val oldNew = newOld.select(col("dst").as("src"), col("src").as("dst"),
      col("cos"))
    val incumbent = graph.select(col("id").as("src"),
      col("neighbor_id").as("dst"), col("cosine").as("cos"))
    val bySrc = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst").asc)
    incumbent.unionAll(newOld).unionAll(oldNew).unionAll(newNew)
      // a node pair can arrive from two sources (e.g. new↔new and a
      // search that walked through the batch-mate) — dedup before rank
      .groupBy(col("src"), col("dst")).agg(max(col("cos")).as("cos"))
      .withColumn("rank", row_number().over(bySrc).cast("long"))
      .where(col("rank") <= k)
      .select(col("src").as("id"), col("dst").as("neighbor_id"),
        col("rank"), col("cos").as("cosine"))
  }

  /** Incremental REMOVAL of a bounded id batch from a k-NN graph — the
    * other half of [[insert]]'s maintenance pair. Deleting a node drops
    * its own adjacency row AND punches holes in every list that pointed
    * at it; only those AFFECTED nodes (≤ |removed|·k by construction)
    * re-search the pruned graph to refill toward k — the rest of the
    * graph passes through untouched, so per-delete cost follows the
    * batch size, never the corpus. `vectors` is the pre-removal corpus;
    * survivors are derived. Removing unknown ids is a no-op (idempotent
    * retries), and no output edge touches a removed id.
    *
    * A node that lost edges can legitimately end below k when the walk
    * cannot reach enough of the pruned graph; the periodic re-descent
    * (a fresh [[nnDescent]]) is the documented full-quality refresh,
    * exactly like the ANN index's quantizer refit.
    */
  def remove(graph: DataFrame, vectors: DataFrame, removeIds: DataFrame,
      vecCol: String, idCol: String, k: Int, beam: Int = 20, hops: Int = 3,
      seedsPerQuery: Int = 8, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val removed = removeIds.select(checkedLongId(idCol, "remove").as("id")).distinct()
    // the removal batch is bounded by contract (an ingest tick, not a
    // corpus) — broadcast both prune joins
    val kept = graph
      .join(broadcast(removed.select(col("id"))), Seq("id"), "left_anti")
      .join(broadcast(removed.select(col("id").as("neighbor_id"))),
        Seq("neighbor_id"), "left_anti")
      .select(col("id").as("src"), col("neighbor_id").as("dst"),
        col("cosine").as("cos"))
    // nodes whose lists lost a neighbor: they re-search the pruned graph
    val affected = graph
      .join(broadcast(removed.select(col("id").as("neighbor_id"))),
        Seq("neighbor_id"), "left_semi")
      .select(col("id"))
      .join(broadcast(removed), Seq("id"), "left_anti")
      .distinct()
    val survivors = vectors
      .join(broadcast(removed.withColumnRenamed("id", idCol)), Seq(idCol), "left_anti")
    val keptAsGraph = kept.select(col("src").as("id"),
      col("dst").as("neighbor_id"))
    val refill = graphSearch(keptAsGraph, survivors,
      survivors.join(affected.withColumnRenamed("id", idCol), Seq(idCol), "left_semi"),
      vecCol, idCol, k, beam, hops, seedsPerQuery, seed)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
        col("cosine").as("cos"))
    val bySrc = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst").asc)
    kept.unionAll(refill)
      .groupBy(col("src"), col("dst")).agg(max(col("cos")).as("cos"))
      .withColumn("rank", row_number().over(bySrc).cast("long"))
      .where(col("rank") <= k)
      .select(col("src").as("id"), col("dst").as("neighbor_id"),
        col("rank"), col("cos").as("cosine"))
  }
}
