package graft.streaming

import graft.SparkSpec
import graft.operators.Sketches
import org.apache.spark.sql.functions._

class HllStreamSpec extends SparkSpec {
  import spark.implicits._

  private def est(dir: String) =
    HllStream.estimates(spark, dir, "g", p = 4)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("est")).toMap

  test("maintained registers ≡ one-shot whatever the batch packing") {
    val df = (1L to 600L).map(i => ("x", i)).toDF("g", "k")
    val d1 = java.nio.file.Files.createTempDirectory("hll1").toString + "/s"
    HllStream.applyBatch(df, "k", "g", 4, d1, 0)
    val one = est(d1)
    val d2 = java.nio.file.Files.createTempDirectory("hll2").toString + "/s"
    // overlapping batches: a register only ever grows, so replayed
    // values cannot perturb the merge
    HllStream.applyBatch(df.where(col("k") <= 300), "k", "g", 4, d2, 0)
    HllStream.applyBatch(df.where(col("k") >= 200), "k", "g", 4, d2, 1)
    assert(est(d2) == one)
  }

  test("crash-retried batch is absorbed (exactly-once)") {
    val df = (1L to 400L).map(i => ("x", i)).toDF("g", "k")
    val d = java.nio.file.Files.createTempDirectory("hll3").toString + "/s"
    HllStream.applyBatch(df.where(col("k") <= 200), "k", "g", 4, d, 0)
    HllStream.applyBatch(df.where(col("k") > 200), "k", "g", 4, d, 1)
    val once = est(d)
    HllStream.applyBatch(df.where(col("k") > 200), "k", "g", 4, d, 1)
    assert(est(d) == once)
  }

  test("state stays bounded by groups × 2^p however much arrives") {
    val d = java.nio.file.Files.createTempDirectory("hll4").toString + "/s"
    val df = (1L to 8000L).map(i => (s"g${i % 3}", i)).toDF("g", "k")
    HllStream.applyBatch(df, "k", "g", 4, d, 0)
    assert(graft.operators.DurableIters.latest(spark, d).get._2.count()
      <= 3L * 16)
  }

  test("maintain() under a genuine file-source readStream, across " +
    "triggers and a restart, equals the one-shot sketch") {
    val base = java.nio.file.Files.createTempDirectory("hll5").toString
    val (in, state, ckpt) = (s"$base/in", s"$base/state", s"$base/ckpt")
    val all = (1L to 900L).map(i => (s"g${i % 2}", i))
    val (b0, b1, b2) = (all.take(300), all.slice(300, 600), all.drop(600))
    b0.toDF("g", "k").write.parquet(s"$in/batch0")
    val schema = b0.toDF("g", "k").schema
    // maxFilesPerTrigger=1 forces MULTIPLE micro-batches per
    // processAllAvailable — the fold must be trigger-agnostic, not
    // merely replay-from-batch-list-agnostic
    def start() = Maintained.sink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$in/batch*"), ckpt)(
      (b, id) => HllStream.applyBatch(b, "k", "g", p = 4, state, id))
    val q1 = start()
    try {
      q1.processAllAvailable()
      // grow the directory while the query is LIVE
      b1.toDF("g", "k").write.parquet(s"$in/batch1")
      q1.processAllAvailable()
    } finally q1.stop()
    // a batch landing while the query is DOWN must fold exactly once
    // on restart (checkpoint offsets + the DurableIters discipline)
    b2.toDF("g", "k").write.parquet(s"$in/batch2")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val oneShot = Sketches.hllLongEstimate(
        Sketches.hllLongFit(all.toDF("g", "k"), "k", "g", 4), "g", 4)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("est")).toMap
    assert(est(state) == oneShot)
  }

  test("trailing distinct: a window slot sees exactly its trailing keys") {
    // slot 0: keys 1..50; slot 1: 41..90; slot 2: 200..210; window 2
    val rows = (1L to 50L).map(k => ("g", 0L, k)) ++
      (41L to 90L).map(k => ("g", 1L, k)) ++
      (200L to 210L).map(k => ("g", 2L, k))
    val df = rows.toDF("g", "slot", "k")
    val out = Sketches.hllLongTrailingDistinct(df, "k", "g", "slot",
      window = 2, p = 6)
      .collect().map(r => r.getAs[Long]("slot") -> r.getAs[Double]("est")).toMap
    // slot 1 covers 1..90 (90 distinct); slot 2 covers 41..90 ∪ 200..210
    // (61). m=64 → tolerate the sketch band, but ordering must hold and
    // slot 2 must NOT include slot 0's keys
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out(1L) > out(2L), s"trailing union ordering violated: $out")
    // one-shot fit over the union of slots 0..1 equals slot 1's window
    val union = Sketches.hllLongEstimate(
      Sketches.hllLongFit(df.where(col("slot") <= 1), "k", Seq("g"), 6),
      Seq("g"), 6).head().getAs[Double]("est")
    assert(out(1L) == union)
  }
}
