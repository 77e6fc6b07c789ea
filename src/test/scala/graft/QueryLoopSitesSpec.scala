package graft

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Structural gate, no session: the mains that run queries one by one
  * leave selection, session start-up, timing and clean-up to
  * [[QueryLoop]].
  */
class QueryLoopSitesSpec extends AnyFunSuite {

  test("Bench, Verify, Probe and Explain leave the per-query cycle to QueryLoop") {
    val mains = Seq("Bench.scala", "Verify.scala", "tools/Probe.scala", "Explain.scala")
      .map(f => Paths.get("src/main/scala/graft", f))
    assert(mains.forall(Files.isRegularFile(_)), "run from the repository root")
    val banned = Seq("getPersistentRDDs", "clearCache", "System.nanoTime", "GraftSession.builder")
    val offenders = for (p <- mains; b <- banned if Files.readString(p).contains(b))
      yield s"$p: $b"
    assert(offenders.isEmpty, s"go through QueryLoop: $offenders")
  }

  test("an unknown query name is rejected by name") {
    val e = intercept[IllegalArgumentException](QueryLoop.select(Seq("no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
  }

  test("jsonString escapes quote, backslash and control characters into valid JSON") {
    val s = "say \"hi\" \\ path\nline\rret\ttab\u0001end"
    val lit = QueryLoop.jsonString(s)
    assert(!lit.exists(_ < ' '))
    assert(new ObjectMapper().readValue(lit, classOf[String]) == s)
  }
}
