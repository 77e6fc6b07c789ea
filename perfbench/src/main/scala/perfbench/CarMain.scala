package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** One car_pipeline run: the reference's lifecycle through the program's
  * own command line, `graft.Run.main`, once per line of `--stages` (the
  * arguments of one invocation, tab-separated), in order, in one JVM. Each
  * invocation starts and stops its own session, as a user's does. Writes
  * one JSON record to `--out`; the Python side checks the artifacts and
  * computes the metrics.
  *
  * Listeners reach the sessions `graft.Run` builds through
  * `spark.extraListeners` and `spark.sql.queryExecutionListeners` system
  * properties, so no program code changes. Stopping a session drains its
  * listener bus, so every event is counted once an invocation returns.
  *
  * {{{
  * java -cp <classpath> perfbench.CarMain --stages <file> --out <file>
  *   --work <dir> --trace 0
  * }}}
  */
object CarMain {

  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val threads = ManagementFactory.getThreadMXBean

  private def gcTotals: (Double, Double) =
    (gcs.map(_.getCollectionTime).sum / 1e3, gcs.map(_.getCollectionCount).sum.toDouble)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val tracing = a.getOrElse("trace", "0") == "1"
    val stages = scala.io.Source.fromFile(a("stages"), "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split('\t')).toVector

    val tmp = new java.io.File(s"$work/tmp")
    tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getPath)
    System.setProperty("spark.local.dir", s"$work/spark-local")
    System.setProperty("spark.extraListeners",
      (Seq(classOf[TaskCpuListener].getName) ++ (if (tracing) Seq(classOf[JobListener].getName) else Nil))
        .mkString(","))
    if (tracing) System.setProperty("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)

    val records = stages.zipWithIndex.map { case (argv, i) =>
      val op = s"$i:${argv.head}"
      if (tracing) Trace.current = op
      val (gc0, gcn0) = gcTotals
      val (cc0, ct0) = Trace.codegen
      val task0 = TaskCpuListener.seconds
      val cpu0 = threads.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      val err = Trace.span(op, "run") {
        try { graft.Run.main(argv); None }
        catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
      }
      val t1 = System.nanoTime()
      val cpu = (threads.getCurrentThreadCpuTime - cpu0) / 1e9 + (TaskCpuListener.seconds - task0)
      val (gc1, gcn1) = gcTotals
      val (cc1, ct1) = Trace.codegen
      Trace.current = null
      Json.obj(Seq(
        "name" -> Json.str(argv.head), "op" -> Json.str(op),
        "lat_s" -> Json.num((t1 - t0) / 1e9), "cpu_s" -> Json.num(cpu),
        "gc_s" -> Json.num(gc1 - gc0), "gc_count" -> Json.num(gcn1 - gcn0),
        "codegen_compiles" -> Json.num((cc1 - cc0).toDouble), "codegen_s" -> Json.num(ct1 - ct0),
        "error" -> err.map(Json.str).getOrElse("null")))
    }
    val retainedMb = SuiteMain.retainedHeapMb()

    val traced = if (tracing) Trace.record else Nil
    val out = Json.obj(Seq(
      "setup" -> Json.num(Map.empty[String, Double]),
      "retained_heap_mb" -> Json.num(retainedMb),
      "ops" -> Json.arr(records)) ++ traced)
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")), out.getBytes("UTF-8"))
    sys.exit(0)
  }
}
