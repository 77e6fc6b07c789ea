package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Releases the storage behind a `localCheckpoint`ed Dataset.
  *
  * `Dataset.unpersist` only talks to the CacheManager (`.cache`/
  * `.persist` entries); a local checkpoint is an RDD-level persist
  * hanging off the plan's `LogicalRDD` leaf, which the CacheManager
  * never sees — so iterative algorithms that re-checkpoint per round
  * (connected components, embedding training) would pin every
  * superseded round's blocks until the context cleaner happens to GC
  * them. This walks the logical plan and unpersists the backing RDDs
  * directly. Safe ONLY once the checkpointed data is truly dead: the
  * lineage was truncated, so the Dataset cannot be recomputed after.
  */
object CheckpointShim {
  /** Unpersist the single checkpointed leaf backing `ds`. Requires the
    * Dataset to be (a trivial derivation of) ONE localCheckpoint — a
    * derived plan over several checkpoints (e.g. a join of two
    * checkpointed tables) is rejected rather than silently freeing
    * OTHER live checkpoints' blocks, which would be unrecoverable
    * (their lineage is already truncated). Sharp edge that remains:
    * passing a projection over a checkpoint someone else still holds
    * frees the shared blocks — call this only on frames you own. Loops
    * that start from such a projection run through
    * `graft.operators.Iterate` with `ownInit = false`, which never frees
    * the caller's first state.
    */
  def freeLocalCheckpoint(ds: Dataset[_], blocking: Boolean = false): Unit = {
    val leaves = ds.queryExecution.analyzed.collect { case lr: LogicalRDD => lr }
    require(leaves.size == 1,
      s"freeLocalCheckpoint expects exactly one checkpointed leaf, found " +
        s"${leaves.size}; free each source checkpoint individually")
    leaves.head.rdd.unpersist(blocking)
  }

  /** [[freeLocalCheckpoint]] for loops that alternate between local
    * checkpoints and durable (file-rooted) snapshots: frees the single
    * checkpointed leaf when there is one, no-ops when the frame is
    * rooted elsewhere (a parquet snapshot has nothing to unpersist).
    * Still rejects multi-checkpoint plans for the same reason as the
    * strict variant.
    */
  def freeLocalCheckpointIfAny(ds: Dataset[_], blocking: Boolean = false): Unit = {
    val leaves = ds.queryExecution.analyzed.collect { case lr: LogicalRDD => lr }
    require(leaves.size <= 1,
      s"freeLocalCheckpointIfAny found ${leaves.size} checkpointed leaves; " +
        "free each source checkpoint individually")
    leaves.foreach(_.rdd.unpersist(blocking))
  }
}
