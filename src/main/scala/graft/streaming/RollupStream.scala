package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.operators.IncrementalAgg

/** Continuous rollup maintenance from an append stream — the streaming
  * half of [[graft.operators.IncrementalAgg]]: each micro-batch folds
  * into a durable partial-aggregate state table (count / decimal sum /
  * min / max per key) with `applyDelta`, so the serving query reads a
  * keys-sized table instead of rescanning history. RollupStreamSpec
  * pins the invariant: after any number of micro-batches, the
  * maintained state equals `IncrementalAgg.fit` over all rows so far.
  *
  * Exactly-once via [[Maintained]] (spec-pinned: sink replays after a
  * crash cannot double-count a batch). Because the combiners are
  * commutative and associative, the result is also independent of how
  * rows were packed into batches.
  *
  * State size is |keys|, not |rows| — the rollup's group-by columns
  * bound it, which is what makes this viable forever on an unbounded
  * stream (no watermark needed: the state IS the aggregate, not
  * buffered rows).
  */
object RollupStream {

  /** Fold one micro-batch of raw rows into the versioned state.
    * Exposed for tests and batch backfill (call with increasing ids).
    */
  def applyBatch(batch: DataFrame, stateDir: String, batchId: Long,
      keyCols: Seq[String], valueCol: String): Unit =
    Maintained.fold(batch.sparkSession, stateDir, batchId) {
      case Some(state) => IncrementalAgg.applyDelta(state, batch, keyCols, valueCol)
      case None => IncrementalAgg.fit(batch, keyCols, valueCol)
    }
}
