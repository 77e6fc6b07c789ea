package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.operators.{DurableIters, IncrementalAgg}

case class Metric(k1: String, k2: Long, v: Double)

/** The stream-maintained rollup must equal `IncrementalAgg.fit` over
  * all rows so far after every micro-batch, and a replayed (crash-
  * retried) batch must be idempotent.
  */
class RollupStreamSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k1", "k2")

  private def rows(lo: Int, hi: Int): Seq[Metric] =
    (lo until hi).map(i => Metric(s"k${i % 6}", (i % 4).toLong, i * 0.75 - 30))

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.selectExpr("k1", "k2", "n", "cast(sum as string)",
        "cast(vmin as string)", "cast(vmax as string)")
      .collect().map(_.mkString("|")).sorted.toSeq

  test("streamed micro-batches ≡ one-shot fit; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("rollup-state").toString
    val ckptDir = Files.createTempDirectory("rollup-ckpt").toString
    val mem = MemoryStream[Metric]
    val q = Maintained.sink(mem.toDF(), ckptDir)((b, id) =>
      RollupStream.applyBatch(b, stateDir, id, keys, "v"))
    try {
      mem.addData(rows(0, 150): _*)
      q.processAllAvailable()
      mem.addData(rows(150, 280): _*)
      q.processAllAvailable()
      mem.addData(rows(280, 400): _*)
      q.processAllAvailable()

      val maintained = DurableIters.latest(spark, stateDir).get._2
      val oneShot = IncrementalAgg.fit(rows(0, 400).toDF(), keys, "v")
      assert(canon(maintained) == canon(oneShot),
        "stream-maintained rollup diverged from the one-shot fit")

      // crash-replay: re-apply the last batch's rows under its own id —
      // the merge must read the predecessor snapshot, never its own
      // half-written output, and double-count nothing
      val lastId = DurableIters.latest(spark, stateDir).get._1
      RollupStream.applyBatch(rows(280, 400).toDF(), stateDir, lastId, keys, "v")
      val replayed = DurableIters.latest(spark, stateDir).get._2
      assert(canon(replayed) == canon(oneShot), "replayed batch double-counted")
    } finally q.stop()
  }

  test("first batch bootstraps the state from nothing") {
    val stateDir = Files.createTempDirectory("rollup-state0").toString
    RollupStream.applyBatch(rows(0, 50).toDF(), stateDir, 0, keys, "v")
    val got = DurableIters.latest(spark, stateDir).get._2
    assert(canon(got) == canon(IncrementalAgg.fit(rows(0, 50).toDF(), keys, "v")))
  }
}
