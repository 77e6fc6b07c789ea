package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.CdcChunking

/** Continuous maintenance of the CDC chunk store — the streaming half
  * of `dedup_cdc_chunks`: each arriving document batch chunks locally
  * (per-document array math, zero shuffle) and folds its per-fingerprint
  * (chunk_md5, cnt, n_tok) counts into the durable store. CDC boundaries
  * are a pure function of content, so a document chunks identically no
  * matter which batch delivers it, and counts merge by plain addition —
  * the maintained store equals the one-shot computation EXACTLY
  * (`cdc_maintained` proves it by the oracle, which chunks the raw text
  * directly). State is unique-chunk-sized (16-byte fingerprints +
  * counts), never corpus-sized. Exactly-once via [[Maintained]]: a
  * replayed batch recomputes from the prior state instead of
  * double-counting.
  */
object ChunkStoreStream {

  /** Fold one micro-batch of documents into the chunk store. */
  def applyBatch(batch: DataFrame, textCol: String, idCol: String,
      storeDir: String, batchId: Long, w: Int = 4, divisor: Int = 8): Unit =
    Maintained.fold(batch.sparkSession, storeDir, batchId) { prev =>
      val delta = CdcChunking.chunks(batch, textCol, idCol, w, divisor)
        .groupBy(col("chunk_md5"))
        .agg(count(lit(1)).as("cnt"), max(col("n_tokens")).as("n_tok"))
      prev match {
        case Some(p) => p.unionByName(delta)
          .groupBy(col("chunk_md5"))
          .agg(sum(col("cnt")).as("cnt"), max(col("n_tok")).as("n_tok"))
        case None => delta
      }
    }

  /** The corpus dedup report read off the maintained store — same
    * schema and values as [[CdcChunking.dedupReport]] on the full
    * corpus.
    */
  def report(spark: SparkSession, storeDir: String): DataFrame =
    Maintained.current(spark, storeDir).agg(
        sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_unique_chunks"),
        sum(col("cnt") * col("n_tok")).as("total_tokens"),
        sum(col("n_tok")).as("unique_tokens"))
      .withColumn("dup_token_ratio",
        round(lit(1.0) - col("unique_tokens") / col("total_tokens"), 4))
}
