package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One suite run: set up once (session, warm-up, fixture builds, one
  * untimed run of each query named in `--ops`), then run the `--ops` list
  * (a query may appear more than once) in order, in a closed loop with one
  * client (the next query starts when the previous one returns). Writes
  * one JSON record to `--out`; the Python side checks it and computes the
  * metrics.
  *
  * The program is used only through its public entry points:
  * `SparkEntry.queries`, the `*Queries.ensureFixtures` builders and
  * `SparkSession`.
  *
  * {{{
  * java -cp <classpath> perfbench.SuiteMain --data <sf dir> --ops <file>
  *   --out <file> --work <dir> --launch-ns <epoch ns> --trace 0
  *   --fixtures WarehouseQueries
  * }}}
  */
object SuiteMain {

  private val threads = ManagementFactory.getThreadMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private def gcTotals: (Double, Double) =
    (gcs.map(_.getCollectionTime).sum / 1e3, gcs.map(_.getCollectionCount).sum.toDouble)

  private def epochNs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Heap in use once the run is done: two collections around a pause, so
    * blocks the context cleaner frees asynchronously are gone too.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def session(work: String, cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()

  /** The untimed warm-up Bench runs: a scan, an aggregate and a window,
    * plus the class whose static init costs ~1.5 s on first text lowering.
    */
  private def benchWarmUp(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    spark.read.parquet(s"$dir/region.parquet")
      .groupBy(col("r_regionkey")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("r_regionkey")).orderBy(col("n"))))
      .count()
    try Class.forName("org.apache.spark.sql.catalyst.util.CollationAwareUTF8String")
    catch { case _: ClassNotFoundException => () }
  }

  /** Runs `graft.queries.<owner>.ensureFixtures(spark, dir)`; false if
    * the program has no such builder. Reflection, because some owners
    * keep it package-private.
    */
  private def ensureFixtures(owner: String, spark: SparkSession, dir: String): Boolean =
    try {
      val cls = Class.forName(s"graft.queries.$owner$$")
      val m = cls.getMethods.find(m => m.getName == "ensureFixtures" && m.getParameterCount == 2)
      m.foreach(_.invoke(cls.getField("MODULE$").get(null), spark, dir))
      m.nonEmpty
    } catch { case _: ClassNotFoundException => false }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = a("data")
    val work = a("work")
    val cpus = a.getOrElse("cpus", "4").toInt
    val fixtures = a.getOrElse("fixtures", "").split(',').filter(_.nonEmpty).toSeq
    val tracing = a.getOrElse("trace", "0") == "1"
    val ops = scala.io.Source.fromFile(a("ops"), "UTF-8").getLines().map(_.trim).filter(_.nonEmpty).toVector
    val launchNs = a("launch-ns").toLong

    // -- set-up, from process start: session, Bench's warm-up, fixture
    // builds, one untimed run of each query.
    // java.io.tmpdir is an empty directory of this run, so every run pays
    // the same fixture builds
    val tmp = new java.io.File(s"$work/tmp")
    tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getPath)
    val s0 = epochNs
    val spark = Trace.span("setup", "session.start")(session(work, cpus))
    spark.sparkContext.setLogLevel("WARN")
    val s1 = epochNs
    Trace.span("setup", "warmup")(benchWarmUp(spark, dir))
    val f0 = epochNs
    val missing = fixtures.filterNot(o => Trace.span("setup", s"fixtures.$o")(ensureFixtures(o, spark, dir)))
    val f1 = epochNs
    // JIT warm-up: in a fresh JVM a query's first run pays for compiling
    // its own code paths (dedup_clusters_star: up to 2x its warm time), and
    // how much varies from run to run. One untimed run of each query
    // absorbs that here, so the timed passes measure warm queries.
    val warmupErrors = ops.distinct.flatMap { name =>
      val err = Trace.span("setup", s"warmup.$name") {
        try { graft.SparkEntry.queries(name)(spark, dir).count(); None }
        catch { case e: Throwable => Some(s"warm-up $name threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      err
    }
    System.gc()
    val setup = Seq("setup_s" -> (epochNs - launchNs) / 1e9, "session.start_s" -> (s1 - s0) / 1e9,
      "fixtures.build_s" -> (f1 - f0) / 1e9)
    val sc = spark.sparkContext
    if (tracing) {
      sc.addSparkListener(Trace.Jobs)
      spark.listenerManager.register(Trace.Plans)
    }
    sc.addSparkListener(new TaskCpuListener)
    org.apache.spark.perfbench.Bus.settle(sc)

    // -- the timed loop
    val queries = graft.SparkEntry.queries
    val records = ops.zipWithIndex.map { case (name, i) =>
      val op = s"$i:$name"
      if (tracing) Trace.current = op
      val (gc0, gcn0) = gcTotals
      val (cc0, ct0) = Trace.codegen
      val task0 = TaskCpuListener.seconds
      val cpu0 = threads.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      var t1 = t0
      var rows = -1L
      var df: DataFrame = null
      val err = Trace.span(op, "op") { try {
        val fn = queries.getOrElse(name, sys.error(s"no such query: $name"))
        sc.setLocalProperty(Trace.SpanKey, s"$op/queries.build")
        df = Trace.span(op, "queries.build", "op")(fn(spark, dir))
        t1 = System.nanoTime()
        sc.setLocalProperty(Trace.SpanKey, s"$op/queries.action")
        rows = Trace.span(op, "queries.action", "op")(df.count())
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally sc.setLocalProperty(Trace.SpanKey, null) }
      val t2 = System.nanoTime()
      val cpu = (threads.getCurrentThreadCpuTime - cpu0) / 1e9
      val (gc1, gcn1) = gcTotals
      val (cc1, ct1) = Trace.codegen
      val schema = if (df == null || err.nonEmpty) "" else
        df.schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}").mkString(",")
      // untimed clean-up, as Bench does: drop what the query persisted
      // and collect, so the next query starts from the same heap
      sc.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      org.apache.spark.perfbench.Bus.settle(sc)
      val taskCpu = TaskCpuListener.seconds - task0
      if (tracing) Trace.current = null
      Json.obj(Seq(
        "name" -> Json.str(name), "op" -> Json.str(op),
        "lat_s" -> Json.num((t2 - t0) / 1e9), "build_s" -> Json.num((t1 - t0) / 1e9),
        "action_s" -> Json.num((t2 - t1) / 1e9), "cpu_s" -> Json.num(cpu + taskCpu),
        "gc_s" -> Json.num(gc1 - gc0), "gc_count" -> Json.num(gcn1 - gcn0),
        "codegen_compiles" -> Json.num((cc1 - cc0).toDouble), "codegen_s" -> Json.num(ct1 - ct0),
        "heap_mb" -> Json.num(heapMb), "rows" -> rows.toString, "schema" -> Json.str(schema),
        "error" -> err.map(Json.str).getOrElse("null")))
    }

    val retainedMb = retainedHeapMb()

    val traced = if (tracing) Trace.record else Nil
    val out = Json.obj(Seq(
      "setup" -> Json.num(setup.toMap),
      "missing_fixture_owners" -> Json.arr(missing.map(Json.str)),
      "warmup_errors" -> Json.arr(warmupErrors.map(Json.str)),
      "retained_heap_mb" -> Json.num(retainedMb),
      "ops" -> Json.arr(records)) ++ traced)
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")), out.getBytes("UTF-8"))
    spark.stop()
    sys.exit(0)
  }
}
