package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The per-query cycle behind Bench, Verify, `tools.Probe` and Explain.
  * [[QueryLoop.apply]] selects the queries, then starts, warms and stops
  * one session; [[run]] times a caller's action on one query and cleans
  * up after it. Callers keep only what they do with the outcomes.
  *
  * {{{
  * QueryLoop(names, sfDir) { loop =>
  *   for ((name, frame) <- loop.queries) report(name, loop.run(frame().count()))
  * }
  * }}}
  */
final class QueryLoop private (val spark: SparkSession,
    val queries: Seq[(String, () => DataFrame)], val fixtures: Seq[(String, Double)]) {

  /** Runs `action`, timed, then [[QueryLoop.cleanUp]], untimed. Whatever
    * the action throws is caught into the outcome.
    */
  def run[A](action: => A): QueryLoop.Outcome[A] = {
    val (result, seconds) = QueryLoop.timed(
      try Right(action) catch { case e: Throwable => Left(e) })
    QueryLoop.cleanUp(spark)
    QueryLoop.Outcome(seconds, result)
  }
}

object QueryLoop {

  /** One run: the seconds its action took, and its result or what it threw. */
  final case class Outcome[A](seconds: Double, result: Either[Throwable, A]) {

    /** The failure as `Class: message`, the message cut to `limit` chars. */
    def error(limit: Int): Option[String] = result.left.toOption.map(e =>
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(limit)}")
  }

  /** Every query named in `names`, or every query when it is empty, in
    * name order. An unknown name fails here, before any session starts.
    */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains).distinct.sorted
    require(unknown.isEmpty, s"no such queries: ${unknown.mkString(", ")}")
    (if (names.isEmpty) all.keySet else names.toSet).toSeq.sorted.map(n => n -> all(n))
  }

  /** Selects `names` (see [[select]]), starts the session at
    * `local[$SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
    * partitions, warms it, runs `body` and stops the session.
    */
  def apply[R](names: Seq[String], sfDir: String)(body: QueryLoop => R): R = {
    val selected = select(names)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val fixtures = warm(spark, sfDir)
      body(new QueryLoop(spark,
        selected.map { case (name, fn) => name -> (() => fn(spark, sfDir)) }, fixtures))
    } finally spark.stop()
  }

  /** Untimed session warm-up before any query: exercise the parquet
    * scan, shuffle/aggregate, and window codegen paths once so
    * JVM/codegen bring-up lands nowhere — previously the alphabetically
    * first heavy query absorbed it all (a10_mrr: 3.9 s in-suite vs
    * 0.3 s solo-warm), mis-attributing ~3 s of fixed session cost to
    * one query's number. Then installs every stored fixture and
    * returns each one's build seconds.
    */
  private def warm(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
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
    // nnDescent to a SEARCH row). A failed install must not end the
    // run: each consumer builds a missing fixture itself and, if that
    // throws too, reports the failure as its own outcome.
    val fixtures =
      try graft.queries.Fixtures.ensureAll(spark, sfDir)
      catch { case e: Exception =>
        System.err.println(s"[loop] fixture install failed, consumers build their own: $e")
        Nil
      }
    System.gc()
    fixtures
  }

  /** The value of `body` and the seconds it took. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Queries are independent: drop what the finished one cached so its
    * storage never bleeds into the next one's execution memory, nor its
    * plans into the next one's. `clearCache` empties the session's
    * cache manager — unpersisting the RDDs alone leaves each
    * `Dataset.persist` entry behind, so a later query with the same plan
    * fragment finds it, its own `persist` does nothing, and every read
    * recomputes the lineage. Then the RDDs persisted outside it
    * (`rdd.persist`, checkpoints) go, and one GC lets ContextCleaner
    * release broadcast and shuffle blocks, which it frees only after
    * their driver references are collected (140 queries of accumulated
    * broadcasts measured graph_pagerank at 10.1 s in-suite vs ~5 s solo
    * warm).
    */
  private[graft] def cleanUp(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    System.gc()
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped — a tab or CR in builder-authored SQL would
    * otherwise make the driver's `json.load` fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
