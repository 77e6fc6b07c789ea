package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class JoinStreamSpec extends SparkSpec {
  import spark.implicits._

  private def dirs(tag: String) = {
    val base = java.nio.file.Files.createTempDirectory(tag).toString
    (s"$base/view", s"$base/a", s"$base/b")
  }

  test("maintained view ≡ one-shot join whatever the batch packing, cross-batch matches included") {
    val a = Seq((1L, "x1"), (2L, "x2"), (3L, "x3"), (2L, "x2b"))
      .toDF("k", "av")
    val b = Seq((1L, "y1"), (2L, "y2"), (4L, "y4")).toDF("k", "bv")
    val oneShot = a.join(b, Seq("k")).collect().map(_.toString).sorted.toSeq
    val d = dirs("js1")
    // a's key-2 rows arrive in batch 0; b's key-2 row only in batch 1 —
    // the dA⋈B / A⋈dB arms must both fire
    JoinStream.applyBatch(a.where(col("k") <= 2), b.where(col("k") === 1),
      Seq("k"), d, 0)
    JoinStream.applyBatch(a.where(col("k") > 2), b.where(col("k") =!= 1),
      Seq("k"), d, 1)
    val got = Maintained.current(spark, d._1).collect().map(_.toString).sorted.toSeq
    assert(got == oneShot)
  }

  test("crash-retried batch is absorbed (versioned state, exactly-once)") {
    val a = (1L to 20L).map(i => (i, s"a$i")).toDF("k", "av")
    val b = (1L to 20L).map(i => (i, s"b$i")).toDF("k", "bv")
    val d = dirs("js2")
    JoinStream.applyBatch(a.where(col("k") <= 10), b.where(col("k") <= 10),
      Seq("k"), d, 0)
    JoinStream.applyBatch(a.where(col("k") > 10), b.where(col("k") > 10),
      Seq("k"), d, 1)
    val once = Maintained.current(spark, d._1).count()
    // replay batch 1 (crash before commit acknowledged): same state
    JoinStream.applyBatch(a.where(col("k") > 10), b.where(col("k") > 10),
      Seq("k"), d, 1)
    assert(Maintained.current(spark, d._1).count() == once)
    assert(once == 20L)
  }
}
