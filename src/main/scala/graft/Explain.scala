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
    QueryLoop(args.drop(1).headOption.toSeq.flatMap(_.split(',')), args(0)) { loop =>
      for ((name, frame) <- loop.queries) {
        println(s"\n===== $name =====")
        for (e <- loop.run(frame().explain("formatted")).error(500)) println(s"failed: $e")
      }
    }
  }
}
