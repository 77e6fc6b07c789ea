package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-query Spark JOB counter — the evidence tool for action-protocol
  * optimizations (e.g. the star-contraction convergence fingerprint):
  * runs each named query once warm and reports how many jobs the timed
  * body submits, plus wall time. Fewer jobs per iteration = fewer
  * scheduling round-trips at any scale.
  *
  * {{{ SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.JobCount q1 q2" }}}
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet(); ()
        }
      })
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // one untimed warm pass so codegen/JIT bring-up doesn't pollute
      // the job count comparison (job counts are identical cold/warm)
      try fn(spark, dir).count()
      catch { case e: Throwable => println(s"[jobs] $name warm pass failed: $e") }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
      // listener events drain asynchronously — settle before zeroing
      org.apache.spark.sql.graftshim.ListenerShim.waitUntilEmpty(spark.sparkContext)
      jobs.set(0); stages.set(0)
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftshim.ListenerShim.waitUntilEmpty(spark.sparkContext)
      println(f"[jobs] $name jobs=${jobs.get()} stages=${stages.get()} warmWall=$dt%.2f")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
    }
    spark.stop()
  }
}
