package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only = args.drop(2).headOption.toSeq.flatMap(_.split(","))
    new java.io.File(outDir).mkdirs()
    QueryLoop(only, sfDir) { loop =>
      import loop.spark.implicits._
      for ((name, frame) <- loop.queries) {
        val outcome = loop.run(frame().coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"))
        // A throwing query must still surface in the correctness gate
        // as a FAILING row, never as silence (round 10: a broken
        // sketch_union_rollup simply had no row). The sentinel parquet
        // can't match any oracle schema, so the driver reports a
        // schema/row mismatch with the error text in plain sight.
        for (e <- outcome.error(500)) {
          System.err.println(s"[verify] $name failed: $e")
          try Seq(e).toDF("__verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          catch { case e2: Throwable =>
            System.err.println(s"[verify] $name sentinel write failed: ${e2.getMessage}")
          }
        }
      }
    }
    // Some oracles audit an engine artifact the replay can't derive in
    // SQL (a learned BPE merge table, an ANN candidate set): they read
    // the SIBLING query's dumped parquet via read_parquet. The dump dir
    // is only known here, so those oracles carry the __VERIFY_OUT__
    // placeholder and get the absolute path substituted at dump time —
    // the checker runs against the same outDir it compares results from.
    val outAbs = Paths.get(outDir).toAbsolutePath.toString
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${QueryLoop.jsonString(k)}: ${QueryLoop.jsonString(v.replace("__VERIFY_OUT__", outAbs))}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
