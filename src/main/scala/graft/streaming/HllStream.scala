package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Sketches

/** Continuous own-HLL maintenance from an append stream — live distinct
  * counts per group without re-scanning history, with the whole
  * pipeline hash-gated (unlike [[KmvStream]]'s md5 sketch this one's
  * registers replay in SQL via the XxSql hashLong unroll; see
  * `distinct_hll_replay`).
  *
  * The merge IS the HLL mergeability law ([[Sketches.hllLongMerge]]):
  * a register only ever grows, so max-merging batch register frames is
  * LOSSLESS — the maintained table is bit-identical to the one-shot
  * sketch over all rows so far whatever the batch packing
  * (`hll_maintained` proves it BY the oracle — same replay SQL as the
  * one-shot query). Exactly-once via [[Maintained]]. State is
  * ≤ groups·2^p rows — constant per group forever.
  */
object HllStream {

  /** Fold one micro-batch of (group, key) rows into the registers. */
  def applyBatch(batch: DataFrame, keyCol: String, groupCol: String,
      p: Int, stateDir: String, batchId: Long): Unit =
    Maintained.fold(batch.sparkSession, stateDir, batchId) { prev =>
      val delta = Sketches.hllLongFit(batch, keyCol, groupCol, p)
      prev.fold(delta)(Sketches.hllLongMerge(_, delta, Seq(groupCol)))
    }

  /** Live distinct estimates from the latest maintained registers. */
  def estimates(spark: SparkSession, stateDir: String, groupCol: String,
      p: Int): DataFrame =
    Sketches.hllLongEstimate(Maintained.current(spark, stateDir), Seq(groupCol), p)
}
