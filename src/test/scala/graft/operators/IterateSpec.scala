package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** [[Iterate]]: which states it frees, durable resume, and
  * early stop.
  */
class IterateSpec extends SparkSpec {

  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  private def increment(s: DataFrame): DataFrame =
    s.select(col("id"), (col("v") + 1).as("v"))

  private def values(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("frees every intermediate round and never the caller's checkpoint") {
    val base = spark.range(8).toDF("id").localCheckpoint(true)
    for (ownInit <- Seq(false, true)) {
      val seen = collection.mutable.ArrayBuffer.empty[Set[Int]]
      val out = Iterate(base.withColumn("v", lit(0L)), 3, ownInit = ownInit) { (s, _) =>
        seen += rddIds(s)
        increment(s)
      }
      val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
      assert(values(out) == (0L until 8L).map(i => (i, 3L)).toSet)
      assert(rddIds(out).nonEmpty && rddIds(out).subsetOf(persisted))
      assert(rddIds(base).subsetOf(persisted), s"ownInit=$ownInit freed the caller's checkpoint")
      // with ownInit the first state is Iterate's own copy of init
      if (ownInit) assert((seen.head intersect rddIds(base)).isEmpty)
      else assert(seen.head == rddIds(base))
      val made = (if (ownInit) seen else seen.tail).flatten.toSet
      assert(made.nonEmpty && (made intersect persisted).isEmpty, s"ownInit=$ownInit")
    }
  }

  test("a durable run cut at round k resumes with rounds k+1..n only") {
    val dir = Files.createTempDirectory("graft_iterate").toString
    val init = spark.range(5).toDF("id").withColumn("v", lit(0L))
    val uncut = Iterate(init, 5)((s, _) => increment(s))
    Iterate(init, 2, Some(dir))((s, _) => increment(s)).count()
    assert(DurableIters.latest(spark, dir).map(_._1).contains(2L))
    val ran = collection.mutable.ArrayBuffer.empty[Long]
    val resumed = Iterate(init, 5, Some(dir)) { (s, round) =>
      ran += round
      increment(s)
    }
    assert(ran == Seq(3L, 4L, 5L))
    assert(values(resumed) == values(uncut))
    assert(DurableIters.latest(spark, dir).map(_._1).contains(5L))
  }

  test("stop ends the loop at its first true") {
    val ran = collection.mutable.ArrayBuffer.empty[Long]
    val out = Iterate(spark.range(3).toDF("id").withColumn("v", lit(0L)), 10)(
      { (s, round) => ran += round; increment(s) },
      (s, _) => s.where(col("v") === 2L).count() > 0)
    assert(ran == Seq(1L, 2L))
    assert(values(out).map(_._2) == Set(2L))
  }
}

/** Structural gate: the iterative operators reach durable snapshots
  * only through [[Iterate]]; the streaming sinks keep their per-batch
  * snapshots.
  */
class IterateSitesSpec extends AnyFunSuite {

  test("under operators/ and car/ only Iterate.scala calls DurableIters") {
    val call = """DurableIters\s*\.\s*(save|latest)\b""".r
    val dirs = Seq("src/main/scala/graft/operators", "src/main/scala/graft/car")
      .map(Paths.get(_))
    assert(dirs.forall(Files.isDirectory(_)), "run from the repository root")
    val callers = dirs.flatMap { dir =>
      val files = Files.list(dir)
      try files.iterator().asScala.toList finally files.close()
    }.filter(p => call.findFirstIn(Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString).toSet
    assert(callers == Set("Iterate.scala"))
  }
}
