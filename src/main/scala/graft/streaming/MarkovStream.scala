package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Continuous Markov transition-matrix maintenance from an append
  * stream — the streaming half of the `event_markov` query: the live
  * "where do users go from X" table without ever re-scanning history.
  *
  * Two pieces of durable state, both dimension-sized:
  *  - transition counts (src, dst, n) — additive, merged per batch;
  *  - the last event per user (user_id, last_type, last_us) — carried
  *    so a user's sequence that straddles a micro-batch boundary still
  *    produces its boundary transition (within-batch pairs alone would
  *    silently drop one transition per user per batch).
  *
  * Exactly-once via [[Maintained]], both directories committed under
  * the same batch id. Because counts are exact integers, the maintained
  * table is bit-identical to the one-shot lead-window computation over
  * all rows so far, independent of batch packing (MarkovStreamSpec pins
  * it). Input contract: each user's events arrive in (ts, id) order
  * across batches — the append-log replay shape; an out-of-order feed
  * needs a watermarked reorder upstream.
  */
object MarkovStream {

  /** Fold one micro-batch (user_id, event_type, ts_us, event_id) into
    * the versioned state. Exposed for tests and batch backfill.
    */
  def applyBatch(batch: DataFrame, countsDir: String, lastDir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val prevCounts = Maintained.before(spark, countsDir, batchId)
    val prevLast = Maintained.before(spark, lastDir, batchId)
    val e = batch.select(col("user_id"), col("event_type"),
      col("ts_us").cast("long").as("ts_us"), col("event_id"))
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val withPrev = e
      .withColumn("__prev", lag(col("event_type"), 1).over(byTime))
      .withColumn("__rn", row_number().over(byTime))
    val intra = withPrev.where(col("__prev").isNotNull)
      .select(col("__prev").as("src"), col("event_type").as("dst"))
    val boundary = prevLast match {
      case Some(pl) => withPrev.where(col("__rn") === 1)
        .join(pl.select(col("user_id"), col("last_type")), Seq("user_id"))
        .select(col("last_type").as("src"), col("event_type").as("dst"))
      case None => intra.where(lit(false))
    }
    val delta = intra.unionByName(boundary)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    val counts = prevCounts match {
      case Some(pc) => pc.unionByName(delta)
        .groupBy(col("src"), col("dst")).agg(sum(col("n")).as("n"))
      case None => delta
    }
    val newestFirst = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val batchLast = e.withColumn("__r", row_number().over(newestFirst))
      .where(col("__r") === 1)
      .select(col("user_id"), col("event_type").as("last_type"),
        col("ts_us").as("last_us"))
    val newLast = prevLast match {
      case Some(pl) => pl
        .join(batchLast.select(col("user_id")), Seq("user_id"), "left_anti")
        .unionByName(batchLast)
      case None => batchLast
    }
    Maintained.commit(counts, countsDir, batchId)
    Maintained.commit(newLast, lastDir, batchId)
  }

  /** The live transition table from the latest maintained counts, in
    * the `event_markov` output shape (src, dst, n, n_src, p_ppm).
    */
  def transitions(spark: SparkSession, countsDir: String): DataFrame = {
    val counts = Maintained.current(spark, countsDir)
    val totals = counts.groupBy(col("src")).agg(sum(col("n")).as("n_src"))
    counts.join(totals, Seq("src"))
      .select(col("src"), col("dst"), col("n"), col("n_src"),
        expr("n * 1000000L DIV n_src").as("p_ppm"))
  }
}
