package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.DurableIters

case class MkEv(user_id: Long, event_type: String, ts_us: Long, event_id: Long)

/** The stream-maintained transition table must equal the one-shot
  * lead-window computation over all rows so far after every batch —
  * including transitions whose two events landed in DIFFERENT batches
  * (the carried last-event state) — and a replayed batch must be
  * idempotent.
  */
class MarkovStreamSpec extends SparkSpec {
  import spark.implicits._

  private val types = Array("view", "click", "purchase")

  private def rows(lo: Int, hi: Int): Seq[MkEv] =
    (lo until hi).map { i =>
      val u = i % 7L // users interleave, so sequences straddle batches
      MkEv(u, types(math.floorMod(i * 2654435761L, 3L).toInt), i.toLong, i.toLong)
    }

  private def oneShot(df: DataFrame): Seq[(String, String, Long)] = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    df.withColumn("dst", lead(col("event_type"), 1).over(w))
      .where(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
  }

  private def maintained(dir: String): Seq[(String, String, Long)] =
    DurableIters.latest(spark, dir).get._2
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq

  test("streamed batches ≡ one-shot lead over all rows; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val countsDir = Files.createTempDirectory("markov-counts").toString
    val lastDir = Files.createTempDirectory("markov-last").toString
    val ckptDir = Files.createTempDirectory("markov-ckpt").toString
    val mem = MemoryStream[MkEv]
    val q = Maintained.sink(mem.toDF(), ckptDir)((b, id) =>
      MarkovStream.applyBatch(b, countsDir, lastDir, id))
    try {
      mem.addData(rows(0, 50): _*)
      q.processAllAvailable()
      // mid-stream check: equality must hold after EVERY batch, and the
      // next batch's first events must pair with carried state
      assert(maintained(countsDir) == oneShot(rows(0, 50).toDF()))
      mem.addData(rows(50, 130): _*)
      q.processAllAvailable()
      mem.addData(rows(130, 200): _*)
      q.processAllAvailable()
      assert(maintained(countsDir) == oneShot(rows(0, 200).toDF()),
        "stream-maintained transitions diverged from the one-shot table")
      // transitions() wraps the same counts with marginals + exact ppm
      val t = MarkovStream.transitions(spark, countsDir)
      assert(t.agg(sum(col("n"))).head.getLong(0) ==
        oneShot(rows(0, 200).toDF()).map(_._3).sum)
      assert(t.where(col("p_ppm") > 1000000L || col("p_ppm") < 0L).isEmpty)

      // crash-replay: re-applying the last batch under its own id must
      // merge from the predecessor snapshots, double-counting nothing
      val lastId = DurableIters.latest(spark, countsDir).get._1
      MarkovStream.applyBatch(rows(130, 200).toDF(), countsDir, lastDir, lastId)
      assert(maintained(countsDir) == oneShot(rows(0, 200).toDF()),
        "replayed batch double-counted")
    } finally q.stop()
  }

  test("boundary transitions: a batch of ONE event per user still counts") {
    val countsDir = Files.createTempDirectory("markov-counts2").toString
    val lastDir = Files.createTempDirectory("markov-last2").toString
    // each batch delivers one event per user — EVERY transition is a
    // batch-boundary transition; within-batch lead alone would see none
    val all = rows(0, 21)
    all.grouped(7).zipWithIndex.foreach { case (b, i) =>
      MarkovStream.applyBatch(b.toDF(), countsDir, lastDir, i)
    }
    assert(maintained(countsDir) == oneShot(all.toDF()))
  }
}
