package graft.queries

import java.io.File
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** `Fixtures.stored` must recover from a stale, incomplete fixture
  * directory, read a concurrent winner's copy when it loses the install,
  * and never leave its private temp copy behind.
  */
class StoredFixtureSpec extends SparkSpec {

  private val root = Fixtures.root
  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }
  private def tmpCopies(tag: String): Seq[String] =
    Option(root.list()).toSeq.flatten.filter(_.startsWith(s".$tag.tmp."))

  test("a stale directory without _SUCCESS is replaced, and no temp copy stays") {
    val tag = s"stale_spec_${java.util.UUID.randomUUID()}"
    val stale = new File(root, tag)
    try {
      assert(stale.mkdirs())
      java.nio.file.Files.writeString(new File(stale, "part-crashed").toPath, "x")
      val rows = Fixtures.stored(spark, tag)(spark.range(3).toDF("id"))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(rows == Seq(0L, 1L, 2L))
      assert(new File(stale, "_SUCCESS").exists())
      assert(tmpCopies(tag).isEmpty)
    } finally rm(stale)
  }

  test("a loser reads the winner's complete copy, and no temp copy stays") {
    val tag = s"loser_spec_${java.util.UUID.randomUUID()}"
    val installed = new File(root, tag)
    try {
      val rows = Fixtures.stored(spark, tag) {
        // a concurrent driver wins the install while this build runs
        spark.range(10, 15).toDF("id").write.parquet(installed.toString)
        spark.range(3).toDF("id")
      }.collect().map(_.getLong(0)).sorted.toSeq
      assert(rows == (10L until 15L))
      assert(tmpCopies(tag).isEmpty)
    } finally rm(installed)
  }

  test("a build that throws leaves no temp copy") {
    // 32 tasks on 8 cores: when one throws, tasks already launched still
    // start and create the temp directory after the write has failed
    val tags = (1 to 3).map(i => s"throw_spec_${i}_${java.util.UUID.randomUUID()}")
    try {
      tags.foreach { tag =>
        val failing = spark.range(0, 64, 1, 32).select(
          when(col("id") === 17, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
        intercept[Exception](Fixtures.stored(spark, tag)(failing))
      }
      Thread.sleep(1000) // let any task still running end
      tags.foreach { tag =>
        assert(tmpCopies(tag).isEmpty)
        assert(!new File(root, tag).exists())
      }
    } finally tags.foreach { tag =>
      tmpCopies(tag).foreach(n => rm(new File(root, n)))
      rm(new File(root, tag))
    }
  }
}
