package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Sprt

/** Continuous SPRT maintenance from an arrival stream — the streaming
  * half of `ab_sprt_curve`: the always-peeking monitor is only honest
  * if it is LIVE, so per-(arm, period) arrival/conversion counts are
  * folded incrementally and the decision curve re-derives from the
  * counts table (periods-sized) at read time.
  *
  * State is ONE versioned counts table (arm, hour, n, c) — purely
  * additive, no boundary carry (each subject arrives exactly once, in
  * its arrival-hour batch), exactly-once via [[Maintained]]. Counts are
  * exact integers ⇒ the maintained curve is bit-identical to the
  * one-shot batch computation whatever the batch packing (the
  * `sprt_maintained` gate row proves it BY the oracle, the
  * markov_maintained pattern).
  */
object SprtStream {

  /** Fold one micro-batch of (arm, hour, conv) arrival rows. */
  def applyBatch(batch: DataFrame, countsDir: String, batchId: Long): Unit =
    Maintained.fold(batch.sparkSession, countsDir, batchId) { prev =>
      val delta = batch.groupBy(col("arm"), col("hour"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      prev match {
        case Some(p) => p.unionByName(delta)
          .groupBy(col("arm"), col("hour"))
          .agg(sum(col("n")).as("n"), sum(col("c")).as("c"))
        case None => delta
      }
    }

  /** The live decision curve from the latest maintained counts. */
  def curve(spark: SparkSession, countsDir: String, p0: Double, p1: Double,
      bound: Double): DataFrame =
    Sprt.curve(Maintained.current(spark, countsDir), "arm", "hour", p0, p1, bound)
}
