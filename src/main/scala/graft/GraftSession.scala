package graft

import org.apache.spark.sql.SparkSession
import graft.functions.expressions.GraftExtensions

/** The one place the engine's session settings live. Bench, Verify,
  * Run, Explain, AnnLaw, the probe and the test session all build
  * through [[builder]], so what is measured is what ships. Only
  * [[Smoke]] keeps a plain session: it proves `SparkEntry.entry` needs
  * none of these settings.
  *
  * Callers choose only the deployment: the master and the shuffle
  * partition count.
  */
object GraftSession {

  /** Every setting [[builder]] applies besides master and partitions. */
  val settings: Seq[(String, String)] = Seq(
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet is TIMESTAMP(NANOS) — see Tables.events
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Janino compile cache (STATIC conf, keyed by generated source).
    // The default 100 entries is smaller than ONE complex query's
    // fragment count (sql_components compiles 133 codegen units; its
    // WARM re-run still recompiled 130 — measured, OPTIMIZATION_r19.md)
    // so the cache thrashes and every query pays full Janino cost.
    // Executor task threads serialize behind CodeGenerator.compile's
    // KeyLock while this happens (sampled stacks). 10k entries ≈ tens
    // of MB of class metadata, scale-independent (a long-lived
    // executor JVM wants the same).
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // Generated WSCG classes embed the per-query codegen-stage ID in
    // the class NAME by default (debuggability aid), so two stages
    // with IDENTICAL generated bodies — e.g. the 5 shape-identical
    // rounds of a lazily-stacked PageRank loop, or sibling queries
    // sharing an operator pipeline — produce different source strings
    // and MISS the compile cache the maxEntries bump made big enough.
    // Naming them uniformly turns those misses into hits (measured
    // r20: pagerank-family compiles 75→~20, subset −20%). Scale-
    // neutral: a long-lived production executor wants the same
    // (fewer Janino compiles + less metaspace), not a local[32] trick.
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** A builder carrying [[settings]] and [[GraftExtensions]]' SQL
    * functions; callers may add deployment-only settings before
    * `getOrCreate()`.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    settings.foldLeft(SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)) {
      case (b, (k, v)) => b.config(k, v)
    }.withExtensions(new GraftExtensions)
}
