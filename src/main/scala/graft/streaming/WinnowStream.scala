package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Continuous maintenance of the winnowing contamination index — the
  * streaming half of `winnow_index`: each arriving document batch adds
  * its window-minimum fingerprints ([[Dedup.winnowFingerprints]]) to a
  * durable (doc, fp) index, and can be SCREENED against everything
  * ingested before it without ever re-fingerprinting history.
  *
  * The merge law is trivially exact: fingerprints are a pure per-document
  * function (documents never span batches), so union + distinct of batch
  * outputs IS the one-shot index over all documents so far —
  * `winnow_maintained` proves it BY the oracle, which computes the
  * one-shot index directly. Replayed batches collapse in the distinct
  * (same doc → same fingerprints); exactly-once via [[Maintained]], and
  * [[Maintained.current]] reads the index. State is the index itself
  * (~2/(window+1) of the corpus's shingle count — the winnowing density
  * guarantee), and each batch's cost is one fingerprint pass over the
  * batch plus a state-sized union.
  */
object WinnowStream {

  /** Fold one micro-batch of documents into the fingerprint index. */
  def applyBatch(batch: DataFrame, textCol: String, idCol: String,
      indexDir: String, batchId: Long, shingleLen: Int = 5,
      window: Int = 4): Unit =
    Maintained.fold(batch.sparkSession, indexDir, batchId) { prev =>
      val delta = Dedup.winnowFingerprints(batch, textCol, idCol,
        shingleLen, window)
      prev.fold(delta)(_.select(col("doc"), col("fp")).unionByName(delta).distinct())
    }

  /** Screen a new batch's fingerprints against an index: candidate
    * contamination pairs (new doc, indexed doc) sharing ≥ `minShared`
    * fingerprints. The join is keyed by fingerprint — at corpus scale
    * the index side is bucketed/persisted on fp and the probe touches
    * only the batch's own fingerprint keys, never the index's bulk.
    */
  def screen(batchFps: DataFrame, indexFps: DataFrame,
      minShared: Long = 2): DataFrame =
    batchFps.select(col("doc").as("new_doc"), col("fp"))
      .join(indexFps.select(col("doc").as("index_doc"), col("fp")), Seq("fp"))
      .where(col("new_doc") =!= col("index_doc"))
      .groupBy(col("new_doc"), col("index_doc"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .where(col("n_shared_fp") >= minShared)
}
