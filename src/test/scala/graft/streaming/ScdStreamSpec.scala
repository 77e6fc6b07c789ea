package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.operators.{DurableIters, Scd}

case class Change(k: Long, ts: Long, tie: Long, st: String)

/** The stream-maintained SCD2 table must equal the batch rebuild over
  * the full concatenated log after every micro-batch, and a replayed
  * batch must be idempotent.
  */
class ScdStreamSpec extends SparkSpec {
  import spark.implicits._

  private def changes(lo: Int, hi: Int): Seq[Change] =
    (lo until hi).map { i =>
      Change((i % 5).toLong, (i * 10).toLong, i.toLong, s"s${(i * 7) % 3}")
    }

  test("streamed micro-batches ≡ batch rebuild; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val histDir = Files.createTempDirectory("scd-hist").toString
    val ckptDir = Files.createTempDirectory("scd-ckpt").toString
    val mem = MemoryStream[Change]
    val q = Maintained.sink(mem.toDF(), ckptDir)((b, id) =>
      ScdStream.applyBatch(b, histDir, id, "k", "ts", "tie", "st"))
    try {
      mem.addData(changes(0, 40): _*)
      q.processAllAvailable()
      mem.addData(changes(40, 70): _*)
      q.processAllAvailable()
      mem.addData(changes(70, 100): _*)
      q.processAllAvailable()

      val maintained = DurableIters.latest(spark, histDir).get._2
      val rebuilt = Scd.buildHistory(changes(0, 100).toDF(), "k", "ts", "tie", "st")
      assert(maintained.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(maintained).isEmpty,
        "stream-maintained history diverged from the batch rebuild")

      // crash-replay: re-apply the LAST batch's data with its id — the
      // merge must read the predecessor snapshot, not its own output,
      // and land in the same state
      val lastId = DurableIters.latest(spark, histDir).get._1
      ScdStream.applyBatch(changes(70, 100).toDF(), histDir, lastId,
        "k", "ts", "tie", "st")
      val replayed = DurableIters.latest(spark, histDir).get._2
      assert(replayed.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(replayed).isEmpty,
        "replayed batch changed the history")
    } finally q.stop()
  }

  test("first batch bootstraps the history from nothing") {
    val histDir = Files.createTempDirectory("scd-hist0").toString
    ScdStream.applyBatch(changes(0, 20).toDF(), histDir, 0, "k", "ts", "tie", "st")
    val got = DurableIters.latest(spark, histDir).get._2
    val want = Scd.buildHistory(changes(0, 20).toDF(), "k", "ts", "tie", "st")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
