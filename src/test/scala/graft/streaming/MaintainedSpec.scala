package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{ListenerShim, ShutdownShim}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** [[Maintained]]: write-only commits, replay-safe folds, the gate
  * rows' three-way split and their self-deleting state roots.
  */
class MaintainedSpec extends SparkSpec {

  private def tmp(tag: String): String = Files.createTempDirectory(tag).toString

  /** Spark jobs that `body` launches on this thread. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"maintained-spec-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("maintained.spec") == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("maintained.spec", tag)
    try body finally {
      sc.setLocalProperty("maintained.spec", null)
      ListenerShim.waitUntilEmpty(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("commit launches the jobs of a bare parquet write and no read-back") {
    val df = spark.range(200).toDF("id").withColumn("g", col("id") % 7)
    val bare = jobsOf(df.write.parquet(s"${tmp("maintained-bare")}/out"))
    val dir = tmp("maintained-commit")
    assert(jobsOf(Maintained.commit(df, dir, 0)) == bare)
    assert(Maintained.current(spark, dir).count() == 200)
  }

  test("a replayed batch id folds from the state below it, not its own") {
    def add(batch: DataFrame)(prev: Option[DataFrame]): DataFrame =
      prev.fold(batch)(_.unionByName(batch).groupBy(col("k")).agg(sum(col("n")).as("n")))
    def batch(id: Long) = spark.range(6).select((col("id") % 3).as("k"), lit(id + 1).as("n"))
    val (once, replayed) = (tmp("maintained-once"), tmp("maintained-replay"))
    for (id <- Seq(0L, 1L)) Maintained.fold(spark, once, id)(add(batch(id)))
    for (id <- Seq(0L, 1L, 1L)) Maintained.fold(spark, replayed, id)(add(batch(id)))
    def state(d: String) = Maintained.current(spark, d).orderBy("k").collect().toSeq
    assert(state(replayed) == state(once))
    assert(state(once).map(_.getLong(1)) == Seq(6L, 6L, 6L))
  }

  test("thirds cuts the key range at lo + (hi - lo) / 3 and lo + 2 (hi - lo) / 3") {
    val df = spark.range(7, 41).toDF("k")
    val slices = Maintained.thirds(df, "k").map(_.collect().map(_.getLong(0)).toSet)
    val (k1, k2) = (7L + 33L / 3, 7L + 2 * 33L / 3)
    assert(slices == Seq((7L until k1).toSet, (k1 until k2).toSet, (k2 to 40L).toSet))
    assert(slices.map(_.size).sum == 34 && slices.reduce(_ ++ _) == (7L to 40L).toSet)
  }

  test("stateRoot makes a directory that Spark deletes at shutdown") {
    val root = new File(Maintained.stateRoot("maintained-root"))
    assert(root.isDirectory && ShutdownShim.deletesOnExit(root))
  }
}

/** Structural gate: the maintained streams and the gate rows reach
  * durable snapshots and the streaming sink only through [[Maintained]],
  * and the gate rows make no state directory that outlives the JVM.
  */
class MaintainedSitesSpec extends AnyFunSuite {

  private def sources(dirs: String*): Seq[java.nio.file.Path] = {
    val paths = dirs.map(Paths.get(_))
    assert(paths.forall(Files.isDirectory(_)), "run from the repository root")
    paths.flatMap { dir =>
      val files = Files.list(dir)
      try files.iterator().asScala.toList finally files.close()
    }
  }

  test("under streaming/ and queries/ only Maintained.scala calls DurableIters or foreachBatch") {
    val call = """DurableIters\s*\.|\.\s*foreachBatch\b""".r
    val callers = sources("src/main/scala/graft/streaming", "src/main/scala/graft/queries")
      .filter(p => call.findFirstIn(Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString).toSet
    assert(callers == Set("Maintained.scala"))
  }

  test("no gate row under queries/ makes its own temp directory") {
    val makers = sources("src/main/scala/graft/queries")
      .filter(p => Files.readString(p).contains("createTempDirectory"))
    assert(makers.isEmpty, s"use Maintained.stateRoot: $makers")
  }
}
