package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.operators.{DurableIters, Stats}

case class Obs(id: Long, x: Long, y: Long, z: Long)

/** The stream-maintained moment state must equal a one-shot
  * `Stats.corrState` over all rows so far after every micro-batch
  * (bit-exact — the sums are exact decimals), and a replayed batch
  * must be idempotent.
  */
class MomentsStreamSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("x", "y", "z")

  private def rows(lo: Int, hi: Int): Seq[Obs] =
    (lo until hi).map { i =>
      val r = math.floorMod(i * 2654435761L, 997L)
      Obs(i.toLong, r, (2 * r + 5) % 991, (r * r) % 983)
    }

  private def corr(state: org.apache.spark.sql.DataFrame): Seq[String] =
    Stats.corrFromState(state, cols).collect().map(_.toString).sorted.toSeq

  test("streamed micro-batches ≡ one-shot state; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("moments-state").toString
    val ckptDir = Files.createTempDirectory("moments-ckpt").toString
    val mem = MemoryStream[Obs]
    val q = Maintained.sink(mem.toDF(), ckptDir)((b, id) =>
      MomentsStream.applyBatch(b, stateDir, id, cols))
    try {
      mem.addData(rows(0, 120): _*)
      q.processAllAvailable()
      mem.addData(rows(120, 250): _*)
      q.processAllAvailable()
      mem.addData(rows(250, 300): _*)
      q.processAllAvailable()

      val oneShot = Stats.corrState(rows(0, 300).toDF(), cols)
      assert(corr(DurableIters.latest(spark, stateDir).get._2) == corr(oneShot),
        "stream-maintained moments diverged from the one-shot state")
      assert(MomentsStream.correlations(spark, stateDir, cols)
        .collect().map(_.toString).sorted.toSeq == corr(oneShot))

      // crash-replay: re-applying the last batch under its own id must
      // merge from the predecessor snapshot, double-counting nothing
      val lastId = DurableIters.latest(spark, stateDir).get._1
      MomentsStream.applyBatch(rows(250, 300).toDF(), stateDir, lastId, cols)
      assert(corr(DurableIters.latest(spark, stateDir).get._2) == corr(oneShot),
        "replayed batch double-counted")
    } finally q.stop()
  }

  test("first batch bootstraps from nothing; correlations throws on empty dir") {
    val stateDir = Files.createTempDirectory("moments-state0").toString
    intercept[IllegalStateException] {
      MomentsStream.correlations(spark, stateDir, cols)
    }
    MomentsStream.applyBatch(rows(0, 60).toDF(), stateDir, 0, cols)
    assert(corr(DurableIters.latest(spark, stateDir).get._2) ==
      corr(Stats.corrState(rows(0, 60).toDF(), cols)))
  }
}
