package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Bench.parseChildArtifact]] — the fork-mode child-artifact
  * scraper whose r19-advice bugs (exit-code-as-pass-signal, mantissa-
  * only number capture, value_min=value) were fixed but never
  * spec-locked (r20 verdict #4: "one parsing regression and a future
  * BENCH_sf*_fork.json silently lies again"). Synthetic child lines
  * exercise each failure signature without launching JVMs. */
class BenchForkSpec extends AnyFunSuite {

  private def child(name: String, v: String, failed: String = "",
      valueMin: String = "", warmup: String = "12.5"): String = {
    val vm = if (valueMin.nonEmpty) s""","value_min":$valueMin""" else ""
    s"""{"metric":"total","unit":"sec","sf":"x","rep_outliers":{},""" +
      s""""queries":{"$name":$v},"failed":[$failed],"value":$v$vm,""" +
      s""""reps":3,"wall_sec":9.9} """ +
      s"""{"metric":"total_compact","unit":"sec","value":$v,""" +
      s""""warmup_sec":$warmup,"wall_sec":9.9}"""
  }

  test("healthy child: median, value_min and warmup all parsed") {
    val (sec, secMin, warm) = Bench.parseChildArtifact("q1",
      child("q1", "2.5", valueMin = "2.1"), exit = 0)
    assert(sec === Some(2.5))
    assert(secMin === Some(2.1))
    assert(warm === 12.5)
  }

  test("scientific-notation child value parses fully (4.9E-4, not 4.9)") {
    val (sec, secMin, _) = Bench.parseChildArtifact("q1",
      child("q1", "4.9E-4"), exit = 0)
    assert(sec === Some(4.9e-4))
    // no value_min in the artifact -> falls back to the median
    assert(secMin === Some(4.9e-4))
  }

  test("child-reported failure with exit 0 is a FAILURE (r19 advice high)") {
    val (sec, secMin, _) = Bench.parseChildArtifact("q1",
      child("q1", "-1.0", failed = "\"q1\""), exit = 0)
    assert(sec === None)
    assert(secMin === None)
  }

  test("negative value with empty failed array is still not a pass") {
    val (sec, _, _) = Bench.parseChildArtifact("q1",
      child("q1", "-1.0"), exit = 0)
    assert(sec === None)
  }

  test("nonzero exit fails the query even with a plausible value") {
    val (sec, _, _) = Bench.parseChildArtifact("q1",
      child("q1", "2.5", valueMin = "2.1"), exit = 137)
    assert(sec === None)
  }

  test("empty/unreadable child artifact fails, warmup defaults to 0") {
    val (sec, secMin, warm) = Bench.parseChildArtifact("q1", "", exit = 0)
    assert(sec === None)
    assert(secMin === None)
    assert(warm === 0.0)
  }

  test("query-name regex is quoted: a name with regex metachars parses") {
    val (sec, _, _) = Bench.parseChildArtifact("q+1",
      child("q+1", "1.25"), exit = 0)
    assert(sec === Some(1.25))
  }

  test("negative value_min is ignored, median stands in") {
    val (sec, secMin, _) = Bench.parseChildArtifact("q1",
      child("q1", "2.5", valueMin = "-3.0"), exit = 0)
    assert(sec === Some(2.5))
    assert(secMin === Some(2.5))
  }

  test("a query named like a headline key reads its own per-query value") {
    val line = """{"metric":"total","unit":"sec","sf":"x","rep_outliers":{},""" +
      """"queries":{"value":2.5},"failed":[],"value":9.0,"reps":3,""" +
      """"wall_sec":9.9} {"metric":"total_compact","unit":"sec",""" +
      """"value":9.0,"warmup_sec":12.5,"wall_sec":9.9}"""
    val (sec, secMin, _) = Bench.parseChildArtifact("value", line, exit = 0)
    assert(sec === Some(2.5))
    assert(secMin === Some(2.5))
  }

  test("cold_sec trails the big line, one first-rep time per query; " +
      "a child artifact carrying it parses as before") {
    val q1 = Bench.Result("q1", Some(2.5), Some(2.1), 7.5, Nil)
    val q2 = Bench.Result("q2", None, None, 0.25, Nil)
    val (big, _) = Bench.artifactLines("x", Seq(q1, q2), 3, 9.9, fork = false)
    val node = Harness.json.readTree(big)
    assert(node.fieldNames().asScala.toSeq.last == "cold_sec")
    assert(node.get("cold_sec").get("q1").asDouble == 7.5)
    assert(node.get("cold_sec").get("q2").asDouble == 0.25)
    val (child, childCompact) = Bench.artifactLines("x", Seq(q1), 3, 9.9, fork = false)
    assert(Bench.parseChildArtifact("q1", s"$child\n$childCompact\n", exit = 0) ===
      ((Some(2.5), Some(2.1), 7.5)))
  }
}
