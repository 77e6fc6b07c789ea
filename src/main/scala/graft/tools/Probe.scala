package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftshim.ListenerShim
import graft.QueryLoop

/** Per-query diagnostic: runs each named query cold, then warm, in a
  * [[QueryLoop]], and prints one line per stored fixture that the loop's
  * warm-up installs, then one line per run:
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
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a generated sf directory"))
    QueryLoop(args.toSeq, sfDir) { loop =>
      for ((fixture, secs) <- loop.fixtures)
        println(f"[probe] fixture $fixture build=$secs%.3f")
      val sc = loop.spark.sparkContext
      val jobs = new AtomicLong(0)
      val stages = new AtomicLong(0)
      sc.addSparkListener(new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet(); ()
        }
      })
      def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      for ((name, frame) <- loop.queries; run <- Seq("cold", "warm")) {
        // listener events drain asynchronously — settle before zeroing
        ListenerShim.waitUntilEmpty(sc)
        jobs.set(0); stages.set(0)
        val c0 = compiles()
        val outcome = loop.run {
          val (df, build) = QueryLoop.timed(frame())
          val (_, plan) = QueryLoop.timed(df.queryExecution.executedPlan)
          val (_, exec) = QueryLoop.timed(df.count())
          (build, plan, exec)
        }
        ListenerShim.waitUntilEmpty(sc)
        outcome.result match {
          case Right((build, plan, exec)) =>
            println(f"[probe] $name $run build=$build%.3f plan=$plan%.3f exec=$exec%.3f " +
              s"jobs=${jobs.get()} stages=${stages.get()} compiles=${compiles() - c0}")
          case Left(e) => println(s"[probe] $name $run failed: $e")
        }
      }
    }
  }
}
