package graft.streaming

import graft.SparkSpec
import graft.operators.Sketches
import org.apache.spark.sql.functions._

class CmsStreamSpec extends SparkSpec {
  import spark.implicits._

  private def hitters(dir: String, terms: Seq[String]) =
    Sketches.cmsEstimate(terms.toDF("t"),
        Maintained.current(spark, dir), "t", width = 256, depth = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("maintained counters ≡ one-shot whatever the batch packing") {
    val rows = (1 to 900).map(i => (i.toLong, s"w${i % 37}"))
    val df = rows.toDF("id", "t")
    val probe = (0 until 37).map(i => s"w$i")
    val d1 = java.nio.file.Files.createTempDirectory("cms1").toString + "/s"
    CmsStream.applyBatch(df, "t", 256, 4, d1, 0)
    val one = hitters(d1, probe)
    val d2 = java.nio.file.Files.createTempDirectory("cms2").toString + "/s"
    for (b <- 0 until 3)
      CmsStream.applyBatch(df.where(pmod(col("id"), lit(3)) === b),
        "t", 256, 4, d2, b)
    assert(hitters(d2, probe) == one)
  }

  test("crash-retried batch is absorbed (exactly-once)") {
    val df = (1 to 400).map(i => (i.toLong, s"k${i % 11}")).toDF("id", "t")
    val probe = (0 until 11).map(i => s"k$i")
    val d = java.nio.file.Files.createTempDirectory("cms3").toString + "/s"
    CmsStream.applyBatch(df.where(col("id") <= 200), "t", 256, 4, d, 0)
    CmsStream.applyBatch(df.where(col("id") > 200), "t", 256, 4, d, 1)
    val once = hitters(d, probe)
    CmsStream.applyBatch(df.where(col("id") > 200), "t", 256, 4, d, 1)
    assert(hitters(d, probe) == once)
  }

  test("state is bounded by depth×width however much arrives") {
    val d = java.nio.file.Files.createTempDirectory("cms4").toString + "/s"
    val df = (1 to 5000).map(i => (i.toLong, s"t$i")).toDF("id", "t")
    CmsStream.applyBatch(df, "t", 256, 4, d, 0)
    assert(Maintained.current(spark, d).count() <= 4L * 256)
  }

  test("cmsBuckets mapping agrees with the cells cmsFit counts into") {
    val df = Seq("a", "a", "b", "c").toDF("t")
    val fit = Sketches.cmsFit(df, "t", 256, 4)
    val viaMap = df.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .join(Sketches.cmsBuckets(df, "t", 256, 4), Seq("t"))
      .groupBy(col("d"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
    assert(fit.orderBy("d", "bucket").collect().toSeq ==
      viaMap.orderBy("d", "bucket").collect().toSeq)
  }
}
