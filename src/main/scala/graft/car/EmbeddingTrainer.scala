package graft.car

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointShim

/** Distributed trainer for the reference's KG-embedding objective
  * (reference preprocess.py:25-91 `train_rgcn_model`, rgcn.py:31-44):
  * additive triplet score `sum(s + r − o)` (the "distmult"-named quirk),
  * binary cross-entropy with logits against 1/0 labels over
  * positive + corrupted-negative samples, plus an L2 `reg_loss`.
  *
  * The reference trains in torch on one machine. Here every step is
  * dataflow, so the same loop runs on a 100 TB triplet table:
  *
  *  - Embeddings live FLAT as `(id, pos, value)` rows, not arrays.
  *    Because the score is additive, ∂score/∂s_k = 1, ∂/∂r_k = 1,
  *    ∂/∂o_k = −1 for every dimension k — each triplet contributes ONE
  *    scalar `g = σ(score) − label` to every dimension of its three
  *    vectors. An epoch is therefore: per-id sums (groupBy), a three-way
  *    sums join for scores, a union + groupBy for per-id gradients, and
  *    one join to apply updates. All codegen'd joins/hash-aggregates,
  *    partial-aggregation friendly, no interpreted lambdas, no
  *    driver-side state; embedding tables shuffle on `id`, batches on
  *    the triplet keys.
  *  - Per-epoch `localCheckpoint` truncates the iterative lineage (the
  *    standard Spark iterative-algorithm pattern; a durable pipeline
  *    would checkpoint to the EmbeddingStore parquet instead).
  *  - Initialization is seed-deterministic via xxhash64 — same values on
  *    any cluster layout, re-runnable across retries (rand() is not).
  *    Scale b = 1/√dim matches the reference's `uniform` helper
  *    (rgcn.py:6-9).
  */
object EmbeddingTrainer {

  /** @param batchFraction edge sample per epoch (reference samples a
    *   `graph_batch_size` subgraph per epoch, samples.py:15-18)
    * @param negRate negatives per positive (reference `negative_sample`)
    * @param regRatio weight on mean-square `reg_loss` (rgcn.py:44)
    * @param evalSample cap on validation triplets per MRR evaluation
    *   (0 = all). The additive-score eval is O(E log E + queries ×
    *   true-tails) — the sort dominates and is paid once per eval
    *   regardless — but bounding the query side still caps the filter
    *   join and keeps eval cost independent of the valid-split size.
    *   The reference evaluates its full (small, single-node) valid set —
    *   same protocol, bounded.
    */
  final case class Config(
      dim: Int = 16,
      epochs: Int = 5,
      lr: Double = 0.5,
      negRate: Int = 2,
      batchFraction: Double = 1.0,
      regRatio: Double = 0.01,
      seed: Long = 42L,
      evalEvery: Int = 0,
      evalSample: Int = 0,
      trackLoss: Boolean = true)

  /** `mrrTrace` is (epoch, filtered MRR) at each evaluation; when
    * evaluation ran, the returned embeddings are the BEST epoch's,
    * recorded in `bestEpoch` (-1 = no eval, last epoch returned).
    * Deliberate deviation: the reference tracks `best_mrr_model`
    * (preprocess.py:66-74) but then unconditionally overwrites
    * embedding.npz with the FINAL epoch's weights after the loop
    * (preprocess.py:75-85) — keeping the best-epoch tables implements
    * the intent its checkpointing gestures at, not its as-coded tail.
    */
  final case class Trained(
      entityEmb: DataFrame, relationEmb: DataFrame, epochLoss: Seq[Double],
      mrrTrace: Seq[(Int, Double)] = Nil, bestEpoch: Int = -1)

  /** Flat `(id, pos, value)` embeddings for ids `[0, n)`, uniform in
    * [−1/√dim, 1/√dim], deterministic in (id, pos, seed).
    */
  def initFlat(spark: SparkSession, n: Long, dim: Int, seed: Long): DataFrame = {
    val b = 1.0 / math.sqrt(dim.toDouble)
    spark.range(n).select(col("id"))
      .select(col("id"), explode(sequence(lit(0), lit(dim - 1))).as("pos"))
      .withColumn("value",
        (pmod(xxhash64(col("id"), col("pos"), lit(seed)), lit(1000000L))
          / lit(500000.0) - lit(1.0)) * lit(b))
  }

  /** Reassemble flat `(id, pos, value)` rows into `(idCol, vector)`.
    * collect_list is unordered across shuffles; array_sort on the
    * (pos, value) struct restores dimension order, and the `.value`
    * field extraction on the array-of-structs is codegen'd (no lambda).
    */
  def assemble(flat: DataFrame, idCol: String): DataFrame =
    flat.groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("value")))).as("sv"))
      .select(col("id").as(idCol), col("sv.value").as("vector"))

  /** Train entity + relation embeddings on `edges(head_id, relation_id,
    * tail_id)` with dense ids in [0, numEntities) / [0, numRelations).
    * Returns assembled `(entity_id|relation_id, vector)` tables ready for
    * [[EmbeddingStore.save]], plus the per-epoch mean BCE loss (A13's
    * reduction over the training trace).
    */
  /** @param checkpointDir when set, each epoch's embedding state commits
    *   a durable [[graft.operators.DurableIters]] parquet snapshot (in
    *   place of the executor-memory localCheckpoint) and a re-run with
    *   the same directory resumes AFTER the highest committed epoch —
    *   the restart point a multi-hour run on a real cluster needs.
    *   On resume, `epochLoss`/`mrrTrace` cover only the epochs this run
    *   executed (completed epochs' traces lived in the dead driver).
    */
  def train(edges: DataFrame, numEntities: Long, numRelations: Long,
      cfg: Config = Config(), valid: Option[DataFrame] = None,
      checkpointDir: Option[String] = None): Trained = {
    val spark = edges.sparkSession
    // BOTH embedding tables live in ONE tagged frame (tbl ∈ {e, r}): the
    // per-id sums become a single aggregate, the SGD step a single join,
    // and — the point — each epoch materializes ONE checkpoint instead of
    // one per table. With `scored` persisted lazily (the loss action
    // fills the cache), an epoch is exactly two blocking jobs: loss +
    // step. The previous shape (separate ent/rel frames, an eager
    // `scored` checkpoint, two step checkpoints) serialized four jobs
    // per epoch and doubled the fixed job overhead that dominates at
    // bench scale.
    def tagged(df: DataFrame, t: String) = df.select(
      lit(t).as("tbl"), col("id"), col("pos"), col("value"))
    def entFlat(emb: DataFrame) = emb.filter(col("tbl") === "e").drop("tbl")
    def relFlat(emb: DataFrame) = emb.filter(col("tbl") === "r").drop("tbl")
    val losses = Seq.newBuilder[Double]
    val mrrs = Seq.newBuilder[(Int, Double)]
    // (mrr, entityEmb, relationEmb, epoch) of the best evaluation so far
    var best: Option[(Double, DataFrame, DataFrame, Int)] = None
    // filter set for the filtered-MRR protocol: every known-true triplet
    // (reference all_triplets = train + valid, preprocess.py:33)
    lazy val allTrue = valid.map(v =>
      edges.select(col("head_id"), col("relation_id"), col("tail_id"))
        .unionByName(v.select(col("head_id"), col("relation_id"), col("tail_id")))
        .distinct().localCheckpoint(true))

    // the epoch's `scored` cache, released once the step materialized
    var scored: DataFrame = null
    // init stays LAZY (ownInit = false): it is a pure hash projection off
    // spark.range — recomputing it inside epoch 1's jobs costs less than
    // the dedicated materialization job a checkpoint would spend on it.
    // Durable mode roots each epoch at committed parquet instead of
    // executor-memory checkpoint blocks: same lineage truncation, plus a
    // restart point
    val emb = graft.operators.Iterate(
        tagged(initFlat(spark, numEntities, cfg.dim, cfg.seed), "e")
          .unionAll(tagged(initFlat(spark, numRelations, cfg.dim, cfg.seed + 1), "r")),
        cfg.epochs, checkpointDir, ownInit = false)({ (emb, epoch) =>
      val batch = Triplets.negativeSample(
        Triplets.sampleEdges(edges, cfg.batchFraction, cfg.seed + epoch),
        numEntities, cfg.negRate, seed = cfg.seed + epoch)

      // one aggregate over the combined frame covers both tables
      val sums = emb.groupBy(col("tbl"), col("id")).agg(sum(col("value")).as("vsum"))
      val entSums = sums.filter(col("tbl") === "e").drop("tbl")
      val relSums = sums.filter(col("tbl") === "r").drop("tbl")

      // score = S_h + R_r − S_t; g = σ(score) − label, one scalar per
      // triplet. Persisted lazily: the loss action below materializes the
      // cache, the gradient aggregate then reads it back.
      scored = batch
        .join(entSums.select(col("id").as("head_id"), col("vsum").as("hs")), Seq("head_id"))
        .join(relSums.select(col("id").as("relation_id"), col("vsum").as("rs")), Seq("relation_id"))
        .join(entSums.select(col("id").as("tail_id"), col("vsum").as("ts")), Seq("tail_id"))
        .withColumn("score", col("hs") + col("rs") - col("ts"))
        .withColumn("g",
          lit(1.0) / (lit(1.0) + exp(-col("score"))) - col("label").cast("double"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

      // One action per epoch: numerically stable BCE-with-logits loss
      // for the training trace (doubles as the `scored` materializer).
      // `trackLoss = false` skips the pass entirely for callers that
      // never read the trace — the step job below then materializes the
      // cache instead, making the whole epoch a single blocking job.
      if (cfg.trackLoss)
        losses += scored.agg(
          avg(greatest(col("score"), lit(0.0)) - col("score") * col("label")
            + log1p(exp(-abs(col("score"))))).as("loss")).head().getAs[Double]("loss")

      // Per-id gradient: heads get +g, tails −g, relations +g; the same
      // scalar applies to every dimension. Normalized per id by its own
      // appearance count (a diagonal preconditioner standing in for the
      // reference's Adam, preprocess.py:38 — the raw mean-BCE gradient
      // G/batchSize vanishes as the batch grows, so step sizes would
      // depend on data scale; per-id means keep them O(lr) like Adam's
      // per-parameter normalization does).
      val grad = scored.select(lit("e").as("tbl"), col("head_id").as("id"), col("g"))
        .unionAll(scored.select(lit("e").as("tbl"), col("tail_id").as("id"), (-col("g")).as("g")))
        .unionAll(scored.select(lit("r").as("tbl"), col("relation_id").as("id"), col("g")))
        .groupBy(col("tbl"), col("id")).agg((sum(col("g")) / count(lit(1))).as("grad"))

      // reg_loss = mean(v²) over each table (rgcn.py:44) → per-entry
      // gradient 2·v·regRatio/(rows·dim), i.e. plain weight decay
      // (per-table rates: the two tables have different row counts).
      val decayE = 1.0 - cfg.lr * 2.0 * cfg.regRatio / (numEntities.toDouble * cfg.dim)
      val decayR = 1.0 - cfg.lr * 2.0 * cfg.regRatio / (numRelations.toDouble * cfg.dim)
      emb.join(grad, Seq("tbl", "id"), "left")
        .select(col("tbl"), col("id"), col("pos"),
          (col("value") * when(col("tbl") === "e", lit(decayE)).otherwise(lit(decayR))
            - lit(cfg.lr) * coalesce(col("grad"), lit(0.0))).as("value"))
    }, { (emb, epoch) =>
      scored.unpersist(false)
      // evaluate_every loop (preprocess.py:61-79): validate filtered
      // MRR on the current embeddings, remember the best epoch's tables
      if (cfg.evalEvery > 0 && valid.nonEmpty && epoch % cfg.evalEvery == 0) {
        val eEmb = assemble(entFlat(emb), "entity_id").localCheckpoint(true)
        val rEmb = assemble(relFlat(emb), "relation_id").localCheckpoint(true)
        // deterministic-but-uniform TakeOrdered sample of the valid
        // split (see Config.evalSample): ordering by a seeded hash of
        // the triplet key picks a representative subset — a plain
        // (head, relation, tail) sort would grade only the lowest-id
        // entities. The FILTER set stays the full allTrue.
        val validEval =
          if (cfg.evalSample > 0)
            valid.get.orderBy(
                xxhash64(col("head_id"), col("relation_id"), col("tail_id"),
                  lit(cfg.seed)),
                col("head_id"), col("relation_id"), col("tail_id"))
              .limit(cfg.evalSample)
          else valid.get
        // crossJoin-free eval: with the additive score a candidate's
        // rank is a pure function of its entity sum, so the filtered
        // rank comes from ONE sorted entity-sum table + a join against
        // the filter set — O(E log E + Q), never the Q × E candidate
        // materialization (which at 100× entities turns the eval into
        // the cost that dwarfs the epochs it measures). Sums come
        // straight off the flat tables — no assemble/explode round trip.
        val eSums = entFlat(emb).groupBy(col("id")).agg(sum(col("value")).as("esum"))
          .select(col("id").as("entity_id"), col("esum"))
        val rSums = relFlat(emb).groupBy(col("id")).agg(sum(col("value")).as("rsum"))
          .select(col("id").as("relation_id"), col("rsum"))
        val mrrDf = graft.metrics.Scores.filteredMrrAdditive(
          validEval, allTrue.get, eSums, rSums)
        val mrr = mrrDf.head().getAs[Double]("mrr")
        CheckpointShim.freeLocalCheckpoint(mrrDf)
        mrrs += (epoch.toInt -> mrr)
        if (best.forall(_._1 < mrr)) {
          best.foreach { case (_, e, r, _) =>
            CheckpointShim.freeLocalCheckpoint(e)
            CheckpointShim.freeLocalCheckpoint(r)
          }
          best = Some((mrr, eEmb, rEmb, epoch.toInt))
        } else {
          CheckpointShim.freeLocalCheckpoint(eEmb)
          CheckpointShim.freeLocalCheckpoint(rEmb)
        }
      }
      false
    })
    // free the filter set — but only if an evaluation actually forced the
    // lazy val (touching it here otherwise would build it just to drop it)
    if (cfg.evalEvery > 0 && valid.nonEmpty && cfg.epochs >= cfg.evalEvery)
      allTrue.foreach(CheckpointShim.freeLocalCheckpoint(_))
    best match {
      case Some((_, e, r, ep)) =>
        // the flat working frame is superseded by the best epoch's
        // assembled checkpoints; without an eval it backs the returned
        // (lazy) assembles and must stay pinned
        CheckpointShim.freeLocalCheckpointIfAny(emb)
        Trained(e, r, losses.result(), mrrs.result(), ep)
      case None => Trained(assemble(entFlat(emb), "entity_id"),
        assemble(relFlat(emb), "relation_id"), losses.result(), mrrs.result())
    }
  }

  /** Score every entity as candidate tail for each distinct
    * (head, relation) query — the input [[graft.metrics.Scores.filteredMrr]]
    * expects. With the additive score the candidate axis only needs the
    * per-entity sums, so this is queries × numEntities scalar rows (never
    * vectors), built from two broadcast-sized sum tables.
    *
    * NOTE: the training loop's evaluation no longer goes through this
    * Q × E materialization — [[graft.metrics.Scores.filteredMrrAdditive]]
    * computes identical ranks from one sorted entity-sum table. This
    * stays as the generic-score entry point (and the equality oracle the
    * spec checks the additive path against).
    */
  def scoreAllCandidates(queries: DataFrame, entityEmb: DataFrame,
      relationEmb: DataFrame): DataFrame = {
    def sums(df: DataFrame, idCol: String, out: String) =
      df.select(col(idCol), explode(col("vector")).as("x"))
        .groupBy(col(idCol)).agg(sum(col("x")).as(out))
    val entSums = sums(entityEmb, "entity_id", "esum")
    val relSums = sums(relationEmb, "relation_id", "rsum")
    queries.select(col("head_id"), col("relation_id")).distinct()
      .join(entSums.select(col("entity_id").as("head_id"), col("esum").as("hs")), Seq("head_id"))
      .join(relSums.select(col("relation_id"), col("rsum").as("rs")), Seq("relation_id"))
      .crossJoin(entSums.select(col("entity_id").as("candidate_id"), col("esum").as("cs")))
      .select(col("head_id"), col("relation_id"), col("candidate_id"),
        (col("hs") + col("rs") - col("cs")).as("score"))
  }
}
