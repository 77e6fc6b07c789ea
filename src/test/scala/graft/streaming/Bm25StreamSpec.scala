package graft.streaming

import graft.SparkSpec
import graft.operators.Retrieval
import org.apache.spark.sql.functions._

class Bm25StreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "apple banana apple cherry"),
    (2L, "apple cherry durian"),
    (3L, "durian elderberry fig grape"),
    (4L, "banana banana fig apple"))
    .toDF("doc_id", "text")

  private def queries = Seq((10L, "apple fig"), (11L, "durian"))
    .toDF("query_id", "qtext")

  test("maintained postings score identically to the one-shot corpus pass") {
    val oneShot = Retrieval.bm25TopK(docs, queries, k = 3)
      .collect().map(_.toString).sorted.toSeq
    val d = java.nio.file.Files.createTempDirectory("bm25s").toString + "/ix"
    Bm25Stream.applyBatch(docs.where(col("doc_id") <= 2), "text", "doc_id", d, 0)
    Bm25Stream.applyBatch(docs.where(col("doc_id") > 2), "text", "doc_id", d, 1)
    val got = Bm25Stream.topK(spark, d, queries, k = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(got == oneShot)
  }

  test("crash-retried batch is absorbed (versioned state)") {
    val d = java.nio.file.Files.createTempDirectory("bm25s2").toString + "/ix"
    Bm25Stream.applyBatch(docs.where(col("doc_id") <= 2), "text", "doc_id", d, 0)
    Bm25Stream.applyBatch(docs.where(col("doc_id") > 2), "text", "doc_id", d, 1)
    val once = Maintained.current(spark, d).collect().map(_.toString).sorted.toSeq
    Bm25Stream.applyBatch(docs.where(col("doc_id") > 2), "text", "doc_id", d, 1)
    val again = Maintained.current(spark, d).collect().map(_.toString).sorted.toSeq
    assert(again == once)
  }
}
