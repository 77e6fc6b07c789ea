package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous funnel maintenance from an event stream — the streaming
  * half of `funnel_conversion`: the live view→click→purchase report
  * without re-scanning history. Per-user state is the FIRST timestamp
  * of each stage (three µs longs — bounded per user forever), merged
  * per batch by column-wise min over a full-outer user join; the
  * ordered-stage counts derive from the state table at read time.
  *
  * min is idempotent and commutative, so the maintained state is the
  * batch aggregate of everything so far whatever the packing OR event
  * order across batches — strictly weaker input contract than
  * [[MarkovStream]]'s in-order replay, stated here because it is the
  * reason a late-arriving view still repairs its user's funnel.
  * Exactly-once via [[Maintained]]. The `funnel_maintained` gate row
  * shares `funnel_conversion`'s oracle — incremental ≡ one-shot proven
  * BY the compare.
  */
object FunnelStream {

  private val Stages = Seq("view" -> "v", "click" -> "c", "purchase" -> "p")

  /** Fold one micro-batch of (user_id, event_type, ts_us) rows. */
  def applyBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit =
    Maintained.fold(batch.sparkSession, stateDir, batchId) { prev =>
      val delta = batch.groupBy(col("user_id"))
        .agg(Stages.map { case (t, c) =>
          min(when(col("event_type") === t, col("ts_us"))).as(c)
        }.head, Stages.tail.map { case (t, c) =>
          min(when(col("event_type") === t, col("ts_us"))).as(c)
        }: _*)
      prev match {
        case Some(p) =>
          val pp = Stages.foldLeft(p) { case (df, (_, c)) =>
            df.withColumnRenamed(c, s"__p$c")
          }
          pp.join(delta, Seq("user_id"), "full_outer")
            .select(col("user_id") +: Stages.map { case (_, c) =>
              least(col(s"__p$c"), col(c)).as(c)
            }: _*)
        case None => delta
      }
    }

  /** The live ordered-funnel report from the latest maintained state —
    * the exact `funnel_conversion` output shape.
    */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    Maintained.current(spark, stateDir).agg(count(lit(1)).as("n_users"),
      sum(col("v").isNotNull.cast("long")).as("n_view"),
      sum((col("v").isNotNull && col("c").isNotNull && col("c") > col("v"))
        .cast("long")).as("n_view_click"),
      sum((col("v").isNotNull && col("c").isNotNull && col("p").isNotNull
        && col("c") > col("v") && col("p") > col("c"))
        .cast("long")).as("n_full_funnel"))
}
