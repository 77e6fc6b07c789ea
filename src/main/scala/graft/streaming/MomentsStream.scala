package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Stats

/** Continuous second-moment maintenance from an append stream — the
  * streaming half of [[graft.operators.Stats.corrState]], mirroring
  * [[RollupStream]]'s discipline for first-moment rollups: each
  * micro-batch folds its own one-row moment state into a durable
  * versioned snapshot (exact decimal columnwise sums), so the live
  * correlation matrix of EVERYTHING seen so far is always one
  * [[Stats.corrFromState]] call over a one-row table — no history
  * rescan, ever.
  *
  * Exactly-once via [[Maintained]]. Because the state entries are exact
  * sums, the maintained state is bit-identical to a one-shot
  * [[Stats.corrState]] over all rows so far, independent of how rows
  * were packed into batches — MomentsStreamSpec pins both.
  *
  * State is ONE row of 1 + k + k(k+1)/2 decimals regardless of
  * stream volume — the smallest possible "how are my features
  * co-moving" monitor at any scale.
  */
object MomentsStream {

  /** Fold one micro-batch into the versioned moment state. Exposed
    * for tests and batch backfill (call with increasing ids).
    */
  def applyBatch(batch: DataFrame, stateDir: String, batchId: Long,
      cols: Seq[String]): Unit = {
    val delta = Stats.corrState(batch, cols)
    Maintained.fold(batch.sparkSession, stateDir, batchId) {
      case Some(state) => Stats.mergeCorrStates(state.unionByName(delta), cols)
      case None => delta
    }
  }

  /** The live correlation matrix from the latest maintained state. */
  def correlations(spark: SparkSession, stateDir: String,
      cols: Seq[String]): DataFrame =
    Stats.corrFromState(Maintained.current(spark, stateDir), cols)
}
