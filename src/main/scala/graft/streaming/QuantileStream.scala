package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.QuantileSketch

/** Continuous quantile-sketch maintenance from an append stream — the
  * streaming half of `sketch_quantiles_kmv`: per-group bottom-k-by-md5
  * ROW samples folded incrementally, so live p50/p90/p99 reads never
  * re-scan history.
  *
  * The merge is [[QuantileSketch.merge]]'s law (bottom-k of a union of
  * bottom-k's = bottom-k of the union), so the maintained sketch is
  * bit-identical to the one-shot sketch over all rows so far whatever
  * the batch packing — `sketch_quantiles_maintained` proves it BY the
  * oracle, which computes the one-shot sketch directly. Replayed
  * batches collapse in the pre-merge `distinct()` (the same id draws
  * the same hash and carries the same value); exactly-once via
  * [[Maintained]]. State is (groups·k) rows — constant per group
  * forever.
  */
object QuantileStream {

  /** Fold one micro-batch of (group, id, value) rows into the sketch. */
  def applyBatch(batch: DataFrame, groupCol: String, valueCol: String,
      idCol: String, k: Int, sketchDir: String, batchId: Long): Unit =
    Maintained.fold(batch.sparkSession, sketchDir, batchId) { prev =>
      val delta = QuantileSketch.sketch(batch, Seq(groupCol), valueCol,
        idCol, k)
      prev match {
        case Some(p) =>
          QuantileSketch.merge(
            p.select(col(groupCol), col("h"), col("v"))
              .unionByName(delta.select(col(groupCol), col("h"), col("v")))
              .distinct(),
            Seq(groupCol), k)
        case None => delta
      }
    }

  /** Live quantile reads from the latest maintained sketch. */
  def quantiles(spark: SparkSession, sketchDir: String, groupCol: String,
      qPpms: Seq[Long]): DataFrame =
    QuantileSketch.quantiles(Maintained.current(spark, sketchDir),
      Seq(groupCol), qPpms)
}
