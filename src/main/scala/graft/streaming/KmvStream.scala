package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.KmvSketch

/** Continuous KMV (theta) sketch maintenance from an append stream —
  * the streaming half of `sketch_kmv_set_ops`: per-group bottom-k
  * hash sketches folded incrementally, so live distinct counts (and
  * pairwise set operations, via [[KmvSketch.pairOps]] over the
  * maintained table) never re-scan history.
  *
  * The merge IS the mergeability law KmvSketchSpec pins: union the
  * previous sketch rows with the batch's sketch, dedup hashes, re-rank,
  * cut at k — a pure set function, so the maintained sketch is
  * bit-identical to the one-shot sketch over all rows so far whatever
  * the batch packing (`kmv_maintained` proves it BY the oracle).
  * Exactly-once via [[Maintained]]. State is (groups·k) rows — constant
  * per group forever.
  */
object KmvStream {

  /** Fold one micro-batch of (group, value) rows into the sketch. */
  def applyBatch(batch: DataFrame, groupCol: String, valueCol: String,
      k: Int, sketchDir: String, batchId: Long): Unit =
    Maintained.fold(batch.sparkSession, sketchDir, batchId) { prev =>
      val delta = KmvSketch.sketch(batch, Seq(groupCol), valueCol, k)
      prev match {
        case Some(p) =>
          val w = Window.partitionBy(col(groupCol)).orderBy(col("h"))
          p.select(col(groupCol), col("h"))
            .unionByName(delta.select(col(groupCol), col("h")))
            .distinct()
            .withColumn("rk", row_number().over(w))
            .where(col("rk") <= k)
        case None => delta
      }
    }

  /** Live distinct estimates from the latest maintained sketch. */
  def estimates(spark: SparkSession, sketchDir: String, groupCol: String,
      k: Int): DataFrame =
    KmvSketch.estimate(Maintained.current(spark, sketchDir), Seq(groupCol), k)
}
