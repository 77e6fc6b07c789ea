package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional positional args = run only these queries (local profiling);
    // the driver invokes with no args and gets the full sorted suite
    QueryLoop(args.toSeq, sfDir) { loop =>
      // a broken query must bench as BROKEN, not as "fast": its error is
      // recorded per query instead of being swallowed into a bogus timing
      val results = loop.queries.map { case (name, frame) =>
        name -> loop.run(frame().count())
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
      val soloWarm: Seq[(String, Double)] = loop.queries.zip(results).collect {
        case ((name, frame), (_, o)) if o.result.isRight && o.seconds >= 0.5 &&
            refTimes.get(name).exists(r => o.seconds > 1.3 * r) =>
          def soloOnce(): Double = {
            loop.run(frame().count())
            loop.run(frame().count()).seconds
          }
          val first = soloOnce()
          // an adjudication entry only builds trust if it is itself
          // clean: a solo number still >1.5× the all-time ref — or worse
          // than the very in-suite time it is meant to adjudicate — was
          // measured in a contended window (r17 committed bm25_prf_topk
          // at 2× its own clean time) — re-measure once and keep the min
          val dt =
            if (refTimes.get(name).exists(r => first > 1.5 * r) || first > o.seconds)
              math.min(first, soloOnce())
            else first
          (name, dt)
      }
      // 3-decimal seconds keep the whole line inside log-tail capture
      // windows (sub-ms per-query precision is noise anyway)
      def secs(m: Seq[(String, Double)]): String =
        m.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
      val qs = secs(results.map { case (k, o) => k -> o.seconds })
      val errs = results.flatMap { case (k, o) =>
        o.error(200).map(e => s""""$k":${QueryLoop.jsonString(e)}""")
      }.mkString("{", ",", "}")
      val total = results.map(_._2.seconds).sum
      val nErr = results.count(_._2.result.isLeft)
      val full =
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"solo_warm":${secs(soloWarm)},"errors":$errs,"n_queries":${results.size},"n_errors":$nErr,"sf":"$sfDir"}"""
      println(full)
      // the full line routinely exceeds the driver's log-tail capture
      // window (r5/r6/r8 all recorded parsed=null from a truncated line) —
      // persist it as a FILE too, so the complete per-query map survives
      // any capture length. Subset (profiling) runs go to a SCRATCH file:
      // the canonical BENCH.json must only ever hold full-suite results,
      // or cross-commit totals stop being comparable.
      val benchFile = if (args.isEmpty) "BENCH.json" else "BENCH_scratch.json"
      try java.nio.file.Files.write(java.nio.file.Paths.get(benchFile),
        (full + "\n").getBytes("UTF-8"))
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] could not write $benchFile: ${e.getMessage}") }
      // the full line AGAIN as the LAST line: a tail capture keeps the end
      // of the log, so a last-line parser sees the complete per-query map
      println(full)
    }
  }
}
