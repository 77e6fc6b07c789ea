package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Untimed SESSION warm-up before any timed query: exercise the
    * parquet scan, shuffle/aggregate, and window codegen paths once so
    * JVM/codegen bring-up lands nowhere — previously the alphabetically
    * first heavy query absorbed it all (a10_mrr: 3.9 s in-suite vs
    * 0.3 s solo-warm), mis-attributing ~3 s of fixed session cost to
    * one query's number. Then installs every stored fixture and
    * returns each one's build seconds. Bench and `tools.Probe` both
    * start here.
    */
  private[graft] def warmSession(spark: SparkSession,
      sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = spark.read.parquet(s"$sfDir/region.parquet")
    w.groupBy(col("r_regionkey")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("r_regionkey")).orderBy(col("n"))))
      .count()
    // Spark 4's collation-aware case mapping initializes ICU titlecase
    // tables + dictionary break iterators in a ~1.5 s static init the
    // FIRST time any task lowercases text through CollationSupport —
    // measured landing entirely inside whichever text query runs it
    // first (r18: pipeline_docs, 2.8 s in-suite vs 0.46 s solo-warm).
    // It is a per-JVM bring-up cost — on a real cluster it amortizes
    // over an executor's lifetime — so trigger it here, untimed.
    try Class.forName("org.apache.spark.sql.catalyst.util.CollationAwareUTF8String")
    catch { case _: ClassNotFoundException => () }
    // stored fixtures build here, untimed: at scale they are
    // offline-persisted indexes, and timing the one-off build inside
    // whichever consumer runs first would mis-attribute it (~3.4 s of
    // nnDescent to a SEARCH row)
    val fixtures = graft.queries.Fixtures.ensureAll(spark, sfDir)
    System.gc()
    fixtures
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional positional args = run only these queries (local profiling);
    // the driver invokes with no args and gets the full sorted suite
    val wanted = args.toSet
    val selected =
      if (wanted.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => wanted.contains(n) }
    // a typo'd name would otherwise produce a silent empty suite
    val unknown = wanted -- selected.keySet
    if (unknown.nonEmpty)
      System.err.println(
        s"[bench] no such queries: ${unknown.toSeq.sorted.mkString(", ")}")
    // SPARK_GRAFT_WARMUP=1: run each query once untimed before the
    // timed run — the solo-warm baseline that separates a query's real
    // cost from one-off JIT/codegen/scan-cache warmup, so an in-suite
    // regression is attributable (in-suite vs solo-warm numbers for the
    // suite's slowest queries are recorded in SCALE.md)
    val warmup = sys.env.get("SPARK_GRAFT_WARMUP").contains("1")
    warmSession(spark, sfDir)
    // deterministic (sorted) execution order for comparable timings
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      if (warmup) {
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        System.gc()
      }
      val t0 = System.nanoTime()
      // a broken query must bench as BROKEN, not as "fast": record the
      // error per query instead of swallowing it into a bogus timing
      val err = try { fn(spark, sfDir).count(); None } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // queries are independent: drop whatever the finished one persisted
      // or checkpointed so storage memory never bleeds into the next
      // query's execution memory (cleanup is outside the timed section)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      // broadcast/shuffle blocks are only released by ContextCleaner
      // AFTER their driver references are garbage-collected — 140
      // queries of accumulated broadcasts otherwise inflate later
      // queries (measured: graph_pagerank 10.1s in-suite vs ~5s solo
      // warm). One explicit GC per query keeps the suite's tail
      // comparable to isolated runs; also outside the timed section.
      System.gc()
      (name, dt, err)
    }
    // noise-immunity pass: any query whose in-suite time moved >1.3×
    // against the committed per-query reference (BENCH_ref.json, the
    // best of the last two rounds' in-suite times) is re-run SOLO-WARM —
    // once untimed, then once timed on a quiet JVM — and both numbers
    // are recorded. Two rounds in a row burned the top action item on
    // adjudicating suite-order/host noise by hand; with both columns in
    // one file, a regression is attributable without re-running anything:
    // solo_warm ≈ ref ⇒ suite/host noise; solo_warm ≫ ref ⇒ real.
    val refTimes: Map[String, Double] =
      try {
        val p = java.nio.file.Paths.get("BENCH_ref.json")
        if (java.nio.file.Files.exists(p)) {
          val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          // the reference times are tied to one dataset — comparing an
          // sf1 (or sf0.01) run against sf0.1 references would flag
          // every query; skip the pass when the sf doesn't match
          val refSf = """"sf"\s*:\s*"([^"]+)"""".r
            .findFirstMatchIn(txt).map(_.group(1))
          if (refSf.exists(sf => sfDir.stripSuffix("/") == sf)) {
            val body = txt.substring(txt.indexOf("\"queries\""))
            """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(body)
              .map(m => m.group(1) -> m.group(2).toDouble).toMap - "queries"
          } else Map.empty
        } else Map.empty
      } catch { case _: Throwable => Map.empty }
    // UNCAPPED since round 16: every flagged row gets its adjudication
    // column. The old 24-row cap defeated the protocol exactly when it
    // mattered — a contended host flags half the suite and the cap left
    // most flagged rows unadjudicated (round 15's committed bench). The
    // worst case (uniform 3× contention flagging ~everything) costs one
    // extra suite pass — bounded and, on a contended run, precisely the
    // evidence needed.
    val soloWarm: Seq[(String, Double)] =
      results.collect {
        case (name, dt, None)
            if dt >= 0.5 && refTimes.get(name).exists(r => dt > 1.3 * r) =>
          (name, dt / refTimes(name))
      }.sortBy(-_._2).map(_._1).sorted.map { name =>
        val fn = selected(name)
        val inSuite = results.collectFirst {
          case (`name`, dt, _) => dt }.getOrElse(Double.MaxValue)
        def soloOnce(): Double = {
          try fn(spark, sfDir).count() catch { case _: Throwable => () }
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
          System.gc()
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count() catch { case _: Throwable => () }
          val dt = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
          System.gc()
          dt
        }
        val first = soloOnce()
        // an adjudication entry only builds trust if it is itself
        // clean: a solo number still >1.5× the all-time ref — or worse
        // than the very in-suite time it is meant to adjudicate — was
        // measured in a contended window (r17 committed bm25_prf_topk
        // at 2× its own clean time) — re-measure once and keep the min
        val dt =
          if (refTimes.get(name).exists(r => first > 1.5 * r)
              || first > inSuite)
            math.min(first, soloOnce())
          else first
        (name, dt)
      }
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // 3-decimal seconds keep the whole line inside log-tail capture
    // windows (sub-ms per-query precision is noise anyway)
    val qs = results.map { case (k, v, _) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) => s""""$k":${jstr(e)}""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val nErr = results.count(_._3.nonEmpty)
    val sw = soloWarm.map { case (k, v) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"solo_warm":$sw,"errors":$errs,"n_queries":${results.size},"n_errors":$nErr,"sf":"$sfDir"}"""
    println(full)
    // the full line routinely exceeds the driver's log-tail capture
    // window (r5/r6/r8 all recorded parsed=null from a truncated line) —
    // persist it as a FILE too, so the complete per-query map survives
    // any capture length. Subset (profiling) runs go to a SCRATCH file:
    // the canonical BENCH.json must only ever hold full-suite results,
    // or cross-commit totals stop being comparable.
    val benchFile = if (wanted.isEmpty) "BENCH.json" else "BENCH_scratch.json"
    try java.nio.file.Files.write(java.nio.file.Paths.get(benchFile),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write $benchFile: ${e.getMessage}") }
    // the full line AGAIN as the LAST line: a tail capture keeps the end
    // of the log, so a last-line parser sees the complete per-query map
    println(full)
    spark.stop()
  }
}
