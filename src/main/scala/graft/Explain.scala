package graft

/** Plan-audit tool: print `explain("formatted")` for the named queries
  * (or all of them) against an sf dir — the review loop that keeps scan
  * pushdown (`PushedFilters`/`ReadSchema`), broadcast choices, and
  * whole-stage codegen spans honest.
  *
  * {{{ sbt "runMain graft.Explain /root/testdata/sf0.001 asof_join_events,g5_mean_agg" }}}
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Explain <sfDir> [name1,name2,...]")
    val sfDir = args(0)
    val names =
      if (args.length > 1) args(1).split(',').toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]", 8)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
