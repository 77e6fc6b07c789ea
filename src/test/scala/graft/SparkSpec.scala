package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (getOrCreate returns the
  * same session across suites; per-suite sessions would thrash the JVM
  * in a forked test run). It is built by [[GraftSession]], so the tests
  * run the settings and SQL functions that ship.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[8]", 8)
      .appName("graft-tests")
      // bucketed-table specs saveAsTable; keep the warehouse out of the repo
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
