package graft.car

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The frames one lifecycle stage reads more than once. [[keep]] persists
  * a frame at its fan-out point, so its consumers (MLlib fits,
  * vocabularies, artifact writes) read it once instead of each
  * re-deriving it from the CSV; [[release]] unpersists every frame kept,
  * after the stage's last consumer.
  *
  * The caller owns the scope: it creates one, hands it to the
  * [[Lifecycles]] it runs, and releases it when it has read their
  * outputs. `graft.Run` releases in a `finally` after its artifact
  * writes, before `spark.stop()`; a frame left cached outlives the
  * stopped session, whose cache manager still holds the cached plan.
  *
  * A frame that is already cached when kept is read from that cache and
  * left alone on release: a scope frees only what it persisted.
  */
final class SharedFrames {
  private val kept = ArrayBuffer.empty[DataFrame]

  /** Persists `df` (lazily, at the default storage level) and returns it. */
  def keep(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist()
      kept += df
    }
    df
  }

  /** Unpersists every frame this scope persisted, waiting for the blocks
    * to be removed.
    */
  def release(): Unit = synchronized {
    kept.foreach(_.unpersist(blocking = true))
    kept.clear()
  }
}
