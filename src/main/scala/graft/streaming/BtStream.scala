package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Preference

/** Continuous arena-rating maintenance from a match stream — the
  * leaderboard that updates per batch without re-scanning match
  * history: win COUNTS are additive, so arriving (winner, loser)
  * batches fold into a durable players²-bounded count matrix, and
  * [[Preference.bradleyTerryFromCounts]] re-derives ratings from the
  * state at any time. Ratings from folded counts ≡ one-shot over all
  * matches BY the oracle (`bt_maintained` shares `bt_ratings`' replay
  * SQL). Exactly-once via [[Maintained]].
  */
object BtStream {

  /** Fold one micro-batch of (winner, loser) match rows into the
    * count matrix.
    */
  def applyBatch(batch: DataFrame, winnerCol: String, loserCol: String,
      stateDir: String, batchId: Long): Unit =
    Maintained.fold(batch.sparkSession, stateDir, batchId) { prev =>
      val delta = batch.groupBy(col(winnerCol).as("i"), col(loserCol).as("j"))
        .agg(count(lit(1)).as("n_ij"))
      prev match {
        case Some(p) => p.select(col("i"), col("j"), col("n_ij"))
          .unionByName(delta)
          .groupBy(col("i"), col("j")).agg(sum(col("n_ij")).as("n_ij"))
        case None => delta
      }
    }

  /** Live leaderboard from the latest maintained count matrix. */
  def ratings(spark: SparkSession, stateDir: String,
      iters: Int = 3): DataFrame =
    Preference.bradleyTerryFromCounts(Maintained.current(spark, stateDir), iters)
}
