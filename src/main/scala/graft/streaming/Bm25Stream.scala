package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Retrieval

/** Continuous maintenance of the BM25 postings index — the streaming
  * half of `bm25_batch_topk`: each arriving document batch appends its
  * (doc_id, t, tf) postings ([[Retrieval.postingsOf]]) to the durable
  * index, and retrieval reads score from the MAINTAINED index — df,
  * document lengths, and avgdl all derive from the postings themselves,
  * so no side statistics can drift out of sync. Documents never span
  * batches, so append IS the merge (exact by construction);
  * `bm25_maintained` proves maintained ≡ one-shot BY the oracle, which
  * scores from the raw text directly. Exactly-once via [[Maintained]]:
  * a replayed batch appends to the prior state, not to its own output.
  */
object Bm25Stream {

  /** Fold one micro-batch of documents into the postings index. */
  def applyBatch(batch: DataFrame, textCol: String, idCol: String,
      indexDir: String, batchId: Long): Unit =
    Maintained.fold(batch.sparkSession, indexDir, batchId) { prev =>
      val delta = Retrieval.postingsOf(batch, idCol, textCol)
      prev.fold(delta)(_.unionByName(delta))
    }

  /** BM25 top-k reads against the maintained index. */
  def topK(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int): DataFrame =
    Retrieval.scorePostings(Maintained.current(spark, indexDir), queries, k)
}
