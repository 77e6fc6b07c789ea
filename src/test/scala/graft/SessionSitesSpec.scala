package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Structural gate: every session is built by [[GraftSession]], so the
  * bench, the shipped mains and the tests run one configuration. Smoke
  * is the one exception: it proves `SparkEntry.entry` needs none of it.
  */
class SessionSitesSpec extends AnyFunSuite {

  test("only GraftSession and Smoke call the Spark session builder") {
    val call = "SparkSession" + ".builder("
    val allowed = Set("GraftSession.scala", "Smoke.scala")
    val sources = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    assert(sources.forall(Files.isDirectory(_)), "run from the repository root")
    val offenders = sources.flatMap { dir =>
      val files = Files.walk(dir)
      try files.iterator().asScala.toList finally files.close()
    }.filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allowed(p.getFileName.toString))
      .filter(p => Files.readString(p).contains(call))
      .map(_.toString).sorted
    assert(offenders.isEmpty, s"build sessions through GraftSession.builder: $offenders")
  }

  test("the test session carries every GraftSession setting and the SQL functions") {
    val conf = SparkSpec.session.conf
    GraftSession.settings.foreach { case (k, v) =>
      assert(conf.get(k) == v, k)
    }
    assert(SparkSpec.session.catalog.functionExists("vec_dot"))
  }
}
