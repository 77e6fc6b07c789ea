package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.operators.Scd

/** Continuous SCD2 dimension maintenance from a CDC stream — the
  * streaming half of [[graft.operators.Scd]]: each micro-batch of
  * change events merges into a durable type-2 history table with
  * `applyChanges`, which re-derives ONLY the affected keys' open runs.
  * ScdStreamSpec pins the invariant that makes this trustworthy:
  * after any number of micro-batches, the maintained table equals
  * `Scd.buildHistory` over the full concatenated log.
  *
  * Exactly-once via [[Maintained]]: the history is a versioned parquet
  * sequence keyed by micro-batch id. State per batch is the history
  * table itself; per-key change counts bound its growth, which is the
  * definition of a dimension.
  *
  * Ordering contract (same as `applyChanges`): batches arrive in
  * nondecreasing event-time order per key — the normal shape of a CDC
  * feed partitioned by key.
  */
object ScdStream {

  /** Merge one micro-batch into the versioned history. Exposed for
    * tests and for batch backfill (call with increasing ids).
    */
  def applyBatch(batch: DataFrame, historyDir: String, batchId: Long,
      keyCol: String, tsCol: String, tieCol: String, stateCol: String): Unit =
    Maintained.fold(batch.sparkSession, historyDir, batchId) {
      case Some(hist) => Scd.applyChanges(hist, batch, keyCol, tsCol, tieCol, stateCol)
      case None => Scd.buildHistory(batch, keyCol, tsCol, tieCol, stateCol)
    }
}
