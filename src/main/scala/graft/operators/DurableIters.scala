package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable snapshots for the iterative operators that take a
  * checkpoint directory ([[PageRank.ranks]],
  * [[Dedup.duplicateClusters]]/[[Dedup.duplicateClustersStar]],
  * [[graft.car.EmbeddingTrainer.train]]), all of which reach it through
  * [[Iterate]]'s `durable` mode, and for the maintained streams' per-batch
  * state, which reaches it only through [[graft.streaming.Maintained]]
  * (write-only commits: a stream never reads back the snapshot it wrote).
  *
  * `localCheckpoint` truncates the per-round lineage but stores blocks
  * in executor memory/disk only: lose one executor mid-run — routine on
  * a 1000-executor cluster over hours — and a multi-hour iterative job
  * dies with no restart point (the truncated lineage cannot recompute).
  * The durable alternative snapshots each completed round as parquet
  * under a caller-owned directory (`iter=N/`): the returned frame is
  * ROOTED at the files, so it truncates the DAG exactly like a local
  * checkpoint, and a re-submitted job resumes from the highest COMMITTED
  * round (`_SUCCESS` marker — a write killed halfway never counts).
  * Reference analog: the per-epoch model persists at preprocess.py:75-85.
  *
  * Paths go through the Hadoop FileSystem of the URI, so local disk,
  * HDFS, and object stores with a Hadoop connector all work unchanged.
  * Snapshots accumulate (each is one round's state, already compacted by
  * the write); the caller owns retention of the directory.
  */
object DurableIters {

  /** Write `df` as the committed snapshot of round `iter`. */
  def commit(df: DataFrame, dir: String, iter: Long): Unit =
    df.write.mode("overwrite").parquet(s"$dir/iter=$iter")

  /** [[commit]], then return a frame rooted at the durable files (reading
    * them back infers the schema, which is one more Spark job).
    */
  def save(df: DataFrame, dir: String, iter: Long): DataFrame = {
    commit(df, dir, iter)
    df.sparkSession.read.parquet(s"$dir/iter=$iter")
  }

  /** Highest committed snapshot with round ≤ `upTo`, or None when the
    * directory has none (first run, or nothing committed yet).
    */
  def latest(spark: SparkSession, dir: String,
      upTo: Long = Long.MaxValue): Option[(Long, DataFrame)] = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return None
    val iters = fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("iter="))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("iter=").toLong).toOption)
      .filter(i => i <= upTo &&
        fs.exists(new Path(new Path(base, s"iter=$i"), "_SUCCESS")))
    if (iters.isEmpty) None
    else {
      val k = iters.max
      Some((k, spark.read.parquet(s"$dir/iter=$k")))
    }
  }
}
