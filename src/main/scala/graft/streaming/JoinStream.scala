package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental maintenance of an equi-join VIEW when BOTH sides grow —
  * the materialized denormalized-view problem: at 100 TB, re-joining
  * fact and dimension nightly is the cost this operator deletes. The
  * classic delta decomposition
  *
  *   (A ∪ dA) ⋈ (B ∪ dB) = A⋈B ∪ dA⋈B ∪ A⋈dB ∪ dA⋈dB
  *
  * means each batch pays THREE delta-sized joins (dA against the
  * accumulated B, accumulated A against dB, dA against dB) and appends —
  * never a re-join of the accumulated sides with each other. State is
  * the view plus both accumulated inputs (which a warehouse keeps as
  * tables anyway), each committed through [[Maintained]] so a replayed
  * batch is absorbed (insert-only deltas; distinct-by-construction
  * inputs — append-only facts with unique keys per row, the CDC-insert
  * shape). Read the view with [[Maintained.current]] on its directory.
  *
  * `join_maintained` proves maintained ≡ one-shot BY the oracle, which
  * computes the direct join of everything.
  */
object JoinStream {

  /** Fold one batch of inserts to both sides into the view.
    * @param dirs (viewDir, accADir, accBDir) durable state roots
    */
  def applyBatch(deltaA: DataFrame, deltaB: DataFrame, joinCols: Seq[String],
      dirs: (String, String, String), batchId: Long): Unit = {
    val s = deltaA.sparkSession
    val (viewDir, aDir, bDir) = dirs
    val prevView = Maintained.before(s, viewDir, batchId)
    val prevA = Maintained.before(s, aDir, batchId)
    val prevB = Maintained.before(s, bDir, batchId)
    val newPairs = (prevB match {
      case Some(b) => deltaA.join(b, joinCols)
      case None => deltaA.join(deltaB.limit(0), joinCols)
    }).unionByName(prevA match {
      case Some(a) => a.join(deltaB, joinCols)
      case None => deltaA.limit(0).join(deltaB, joinCols)
    }).unionByName(deltaA.join(deltaB, joinCols))
    Maintained.commit(prevView.fold(newPairs)(_.unionByName(newPairs)),
      viewDir, batchId)
    Maintained.commit(prevA.fold(deltaA)(_.unionByName(deltaA)), aDir, batchId)
    Maintained.commit(prevB.fold(deltaB)(_.unionByName(deltaB)), bDir, batchId)
  }

  /** Start the maintenance stream over a TAGGED insert log — one
    * append stream carrying both sides' inserts with `sideCol` ∈
    * {"a", "b"}, the shape a CDC changelog actually delivers (one
    * ordered log, per-table tags). Each micro-batch splits into its
    * two deltas (`aCols`/`bCols` project each side's columns) and
    * folds through [[applyBatch]]'s three delta-joins.
    */
  def maintain(rows: DataFrame, sideCol: String, aCols: Seq[String],
      bCols: Seq[String], joinCols: Seq[String],
      dirs: (String, String, String), checkpointDir: String): StreamingQuery =
    Maintained.sink(rows, checkpointDir) { (b, batchId) =>
      applyBatch(
        b.where(col(sideCol) === "a").select(aCols.map(col): _*),
        b.where(col(sideCol) === "b").select(bCols.map(col): _*),
        joinCols, dirs, batchId)
    }
}
