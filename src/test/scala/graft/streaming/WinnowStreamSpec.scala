package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions._

class WinnowStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"),
    (3L, "some completely different words about spark engines and shuffles"),
    (4L, "another unrelated document with its own tokens entirely for tests"),
    (5L, "yet more text that shares nothing with any other document here"),
    (6L, "final document closing out the six-row corpus used by this spec"))
    .toDF("doc_id", "text")

  private def digest(dir: String) =
    Maintained.current(spark, dir)
      .groupBy(col("doc")).agg(count(lit(1)).as("n"),
        min(col("fp")).as("mn"), expr("bit_xor(fp)").as("x"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  test("maintained index ≡ one-shot fingerprints whatever the batch packing") {
    val oneShot = Dedup.winnowFingerprints(docs, "text", "doc_id")
      .groupBy(col("doc")).agg(count(lit(1)).as("n"),
        min(col("fp")).as("mn"), expr("bit_xor(fp)").as("x"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val d = java.nio.file.Files.createTempDirectory("win1").toString + "/ix"
    WinnowStream.applyBatch(docs.where(col("doc_id") <= 2), "text", "doc_id", d, 0)
    WinnowStream.applyBatch(docs.where(col("doc_id") > 2 && col("doc_id") <= 4),
      "text", "doc_id", d, 1)
    WinnowStream.applyBatch(docs.where(col("doc_id") > 4), "text", "doc_id", d, 2)
    assert(digest(d) == oneShot)
  }

  test("crash-retried batch is absorbed (exactly-once)") {
    val d = java.nio.file.Files.createTempDirectory("win2").toString + "/ix"
    WinnowStream.applyBatch(docs.where(col("doc_id") <= 3), "text", "doc_id", d, 0)
    WinnowStream.applyBatch(docs.where(col("doc_id") > 3), "text", "doc_id", d, 1)
    val once = digest(d)
    WinnowStream.applyBatch(docs.where(col("doc_id") > 3), "text", "doc_id", d, 1)
    assert(digest(d) == once)
  }

  test("screen finds the indexed near-duplicate of an arriving doc, nothing else") {
    val ix = Dedup.winnowFingerprints(docs.where(col("doc_id") =!= 2L),
      "text", "doc_id")
    val batch = Dedup.winnowFingerprints(docs.where(col("doc_id") === 2L),
      "text", "doc_id")
    val hits = WinnowStream.screen(batch, ix, minShared = 1).collect()
    assert(hits.length == 1)
    assert(hits.head.getLong(0) == 2L && hits.head.getLong(1) == 1L)
  }
}
