package graft.queries

import java.io.File
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every stored artifact of the engine, and the one way to store it.
  *
  * A stored fixture is a parquet table under `java.io.tmpdir/graft_fixtures`
  * that one or more queries read instead of rebuilding it in their timed
  * body: the k-NN graphs, the ANN quantizers, the supply and basket edge
  * tables, the walk corpus, the dedup clusters and the CDC chunks. Each
  * builder names its directory by a tag, a version plus
  * [[graft.sources.Tables.contentStamp]] of its source table, so a change
  * of parameters or regenerated data builds a new one. [[stored]] installs
  * it once; [[all]] lists every builder, so Bench and `tools.Probe` build
  * them all, untimed, before any query runs.
  */
object Fixtures {

  private[graft] def root: File =
    new File(sys.props("java.io.tmpdir"), "graft_fixtures")

  /** The fixture `tag`: read it if a complete copy is installed, else
    * write `build` to a process-private temp sibling and rename that into
    * place. A concurrently started driver (Bench racing Verify) can then
    * never observe or clobber a half-written directory: POSIX rename onto
    * an existing non-empty directory fails, so the loser sees the
    * winner's `_SUCCESS`, drops its own copy and reads the winner's.
    */
  private[graft] def stored(s: SparkSession, tag: String)(
      build: => DataFrame): DataFrame = {
    val path = new File(root, tag)
    def complete = new File(path, "_SUCCESS").exists()
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    if (!complete) {
      val tmp = new File(root,
        s".$tag.tmp.${java.lang.ProcessHandle.current().pid()}")
      val sc = s.sparkContext
      val jobTag = s"graft-fixture-${java.util.UUID.randomUUID()}"
      sc.addJobTag(jobTag)
      try {
        build.write.mode("overwrite").parquet(tmp.toString)
        if (!tmp.renameTo(path) && !complete) {
          // no winner: `path` is a stale directory a crashed builder
          // left without `_SUCCESS` — drop it and install once more
          rm(path)
          if (!tmp.renameTo(path) && !complete)
            throw new java.io.IOException(
              s"could not install fixture $path and no complete copy exists")
        }
      } catch { case e: Throwable =>
        // a failed write throws while its killed sibling tasks still
        // run, and those recreate `tmp` after it is removed: wait them out
        awaitTasks(sc, jobTag)
        throw e
      } finally {
        sc.removeJobTag(jobTag)
        rm(tmp) // the losing copy, or a failed build's leftovers
      }
    }
    s.read.parquet(path.toString)
  }

  /** Blocks until every task of the jobs tagged `jobTag` has ended, for
    * at most 60 s. The listener bus is drained first, so each task
    * launched so far counts as active until its end event arrives.
    */
  private def awaitTasks(sc: SparkContext, jobTag: String): Unit = {
    org.apache.spark.sql.graftshim.ListenerShim.waitUntilEmpty(sc)
    val st = sc.statusTracker
    def running = st.getJobIdsForTag(jobTag).exists(j =>
      st.getJobInfo(j).exists(_.stageIds.exists(id =>
        st.getStageInfo(id).exists(_.numActiveTasks > 0))))
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (running && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Every `stored*` builder, each listed after the fixtures it reads. */
  private[graft] val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "storedKnnGraph" -> VectorQueries.storedKnnGraph,
    "storedKnnGraphI2" -> VectorQueries.storedKnnGraphI2,
    "storedKnnGraphOldI2" -> VectorQueries.storedKnnGraphOldI2,
    "storedIvf8Raw" -> VectorQueries.storedIvf8Raw,
    "storedIvf4Norm" -> VectorQueries.storedIvf4Norm,
    "storedIvf8Norm" -> VectorQueries.storedIvf8Norm,
    "storedPq8Raw" -> VectorQueries.storedPq8Raw,
    "storedPq16Norm" -> VectorQueries.storedPq16Norm,
    "storedPq64Norm" -> VectorQueries.storedPq64Norm,
    "storedAnnAuditPairs" -> VectorQueries.storedAnnAuditPairs,
    "storedSupplyEdges" -> GraphQueries.storedSupplyEdges,
    "storedDegreeEdges" -> GraphQueries.storedDegreeEdges,
    "storedGraphNodes" -> GraphQueries.storedGraphNodes,
    "storedPageRankRanks" -> GraphQueries.storedPageRankRanks,
    "storedWalks" -> GraphQueries.storedWalks,
    "storedBasketEdges" -> WarehouseQueries.storedBasketEdges,
    "storedStarClusters" -> TextQueries.storedStarClusters,
    "storedCdcChunks" -> PretrainQueries.storedCdcChunks,
    "storedArrivalBatches" -> PretrainQueries.storedArrivalBatches)

  /** Installs every fixture over the sf directory `dir`, in [[all]]'s
    * order, and returns each one's seconds (near zero when present).
    */
  def ensureAll(s: SparkSession, dir: String): Seq[(String, Double)] =
    all.map { case (name, fixture) =>
      val t0 = System.nanoTime()
      fixture(s, dir)
      name -> (System.nanoTime() - t0) / 1e9
    }
}
