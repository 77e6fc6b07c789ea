package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftshim.ListenerShim
import graft.{Bench, GraftSession, SparkEntry}

/** Per-query diagnostic: runs each named query cold, then warm, on
  * Bench's session after Bench's warm-up, and prints one line per stored
  * fixture that warm-up installs, then one line per run:
  *
  * {{{
  * [probe] fixture storedKnnGraph build=3.412
  * [probe] <query> cold build=0.012 plan=0.154 exec=1.310 jobs=7 stages=9 compiles=41
  * }}}
  *
  * A fixture's `build` is the seconds its install took (near zero when
  * a complete copy was already under `java.io.tmpdir`).
  * `build` is the query function's own time (eager supersteps run
  * here), `plan` is analysis + optimization + physical planning, `exec`
  * is the counted action. Jobs and stages come from a listener, read
  * after the listener bus drains; compiles are Janino compile units
  * (the sample count of Spark's compile-time histogram). A run that
  * throws prints its exception instead, and the probe goes on.
  *
  * {{{ SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=4 sbt "runMain graft.tools.Probe q1 q2" }}}
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.tools.Probe <query>...")
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"no such queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a generated sf directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for ((fixture, secs) <- Bench.warmSession(spark, sfDir))
      println(f"[probe] fixture $fixture build=$secs%.3f")
    val jobs = new AtomicLong(0)
    val stages = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
    })
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def secs(from: Long, to: Long): Double = (to - from) / 1e9
    for (name <- args; run <- Seq("cold", "warm")) {
      val fn = SparkEntry.queries(name)
      // listener events drain asynchronously — settle before zeroing
      ListenerShim.waitUntilEmpty(spark.sparkContext)
      jobs.set(0); stages.set(0)
      val c0 = compiles()
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tPlan = System.nanoTime()
        df.queryExecution.executedPlan
        val tExec = System.nanoTime()
        df.count()
        val t1 = System.nanoTime()
        ListenerShim.waitUntilEmpty(spark.sparkContext)
        println(f"[probe] $name $run build=${secs(t0, tPlan)}%.3f " +
          f"plan=${secs(tPlan, tExec)}%.3f exec=${secs(tExec, t1)}%.3f " +
          s"jobs=${jobs.get()} stages=${stages.get()} compiles=${compiles() - c0}")
      } catch {
        case e: Throwable => println(s"[probe] $name $run failed: $e")
      }
      // same per-query hygiene as Bench: queries are independent
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
    }
    spark.stop()
  }
}
