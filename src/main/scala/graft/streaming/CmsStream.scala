package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.operators.Sketches

/** Continuous count-min-sketch maintenance from an append stream — the
  * streaming half of `heavy_hitters_cms`: the (depth × width) counter
  * table folded incrementally, so live frequency estimates (and heavy
  * hitters) over an unbounded key universe never re-scan history.
  *
  * The merge IS the CMS mergeability law ([[Sketches.cmsMerge]]):
  * counters are additive, so the maintained table is bit-identical to
  * the one-shot sketch over all rows so far whatever the batch packing
  * (`cms_maintained` proves it BY the oracle — same replay SQL as the
  * one-shot query). Exactly-once via [[Maintained]]; read the table
  * with [[Maintained.current]]. State is ≤ depth·width rows — constant
  * forever, whatever arrives.
  */
object CmsStream {

  /** Fold one micro-batch of term rows into the counter table. */
  def applyBatch(batch: DataFrame, termCol: String, width: Int, depth: Int,
      stateDir: String, batchId: Long, seed: Long = 42L): Unit =
    Maintained.fold(batch.sparkSession, stateDir, batchId) { prev =>
      val delta = Sketches.cmsFit(batch, termCol, width, depth, seed)
      prev.fold(delta)(Sketches.cmsMerge(_, delta))
    }
}
