package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.graftshim.ShutdownShim
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.DurableIters

/** The exactly-once discipline every maintained-state stream shares
  * (the idempotent `foreachBatch` sink of Structured Streaming): batch
  * `batchId` reads the state committed STRICTLY BELOW `batchId`, merges
  * its delta, and commits the result AT `batchId` by overwriting that
  * version's [[DurableIters]] snapshot. A batch the sink replays after a
  * crash therefore re-reads its predecessor's committed state, never its
  * own half-written output, and rewrites the same version: it cannot
  * double-count, and a snapshot killed mid-write (no `_SUCCESS`) never
  * counts. A stream with several state directories commits each one at
  * the same id, so a crash between two commits heals on the retry too.
  *
  * Commits are write-only: nothing reads a snapshot back until the next
  * batch or a reader ([[current]]) asks for it. Each stream keeps its own
  * merge law; [[sink]] is the one checkpointed `foreachBatch` that drives
  * a stream's `applyBatch`, and [[thirds]] / [[stateRoot]] are what the
  * `*_maintained` gate rows use to replay a table as three arrival
  * batches into state that is deleted when the JVM exits.
  */
object Maintained {

  /** The latest state committed below `batchId`, or None before the first. */
  def before(spark: SparkSession, dir: String, batchId: Long): Option[DataFrame] =
    DurableIters.latest(spark, dir, upTo = batchId - 1).map(_._2)

  /** Commit `state` as version `batchId` (overwrites a replayed version). */
  def commit(state: DataFrame, dir: String, batchId: Long): Unit =
    DurableIters.commit(state, dir, batchId)

  /** One batch of a single-state stream: `next` merges the batch into the
    * state committed below `batchId` (None on the first batch).
    */
  def fold(spark: SparkSession, dir: String, batchId: Long)(
      next: Option[DataFrame] => DataFrame): Unit =
    commit(next(before(spark, dir, batchId)), dir, batchId)

  /** The latest committed state. */
  def current(spark: SparkSession, dir: String): DataFrame =
    DurableIters.latest(spark, dir).getOrElse(throw new IllegalStateException(
      s"no maintained state under $dir"))._2

  /** Start a checkpointed stream that hands each micro-batch and its id
    * to `apply`.
    */
  def sink(rows: DataFrame, checkpointDir: String)(
      apply: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[Row], batchId: Long) => apply(batch.toDF(), batchId))
      .start()

  /** `df` cut into three arrival batches by its long `keyCol`: `< k1`,
    * `[k1, k2)` and `>= k2` with `k1 = lo + (hi - lo) / 3` and
    * `k2 = lo + 2 (hi - lo) / 3` over the key's range (one job). Ordered
    * by key, so a time key keeps each user's events in order across
    * batches.
    */
  def thirds(df: DataFrame, keyCol: String): Seq[DataFrame] = {
    val Row(lo: Long, hi: Long) = df.agg(min(col(keyCol)), max(col(keyCol))).head
    val (k1, k2, k) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3, col(keyCol))
    Seq(df.where(k < k1), df.where(k >= k1 && k < k2), df.where(k >= k2))
  }

  /** A fresh temp directory for replayed state, deleted when the JVM
    * exits (after the SparkContext stops, so lazy readers finish first).
    */
  def stateRoot(tag: String): String = {
    val dir = Files.createTempDirectory(tag).toFile
    ShutdownShim.deleteOnExit(dir)
    dir.toString
  }
}
