package graft.queries

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Structural gate: [[Fixtures]] alone knows where stored fixtures live,
  * and its registry lists every `stored*` builder, so Bench's and the
  * probe's warm-up installs each one.
  */
class FixtureSitesSpec extends AnyFunSuite {

  private def mainSources: List[Path] = {
    val dir = Paths.get("src/main/scala")
    assert(Files.isDirectory(dir), "run from the repository root")
    val files = Files.walk(dir)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally files.close()
  }

  test("only Fixtures.scala names the fixture directory") {
    val offenders = mainSources
      .filter(p => Files.readString(p).contains("graft_fixtures"))
      .map(_.getFileName.toString).sorted
    assert(offenders == List("Fixtures.scala"))
  }

  test("Fixtures.all lists every stored builder once") {
    val builder = """def (stored\w+)\(s: SparkSession,\s*dir: String\)""".r
    val defined = mainSources.flatMap(p =>
      builder.findAllMatchIn(Files.readString(p)).map(_.group(1)))
    val listed = Fixtures.all.map(_._1)
    assert(listed.distinct == listed)
    assert(defined.distinct == defined, "one builder per name")
    assert(listed.toSet == defined.toSet)
  }
}
