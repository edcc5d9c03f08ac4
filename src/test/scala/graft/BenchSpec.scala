package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Pass, Regression}

/** Bench's pure parts: the rules that could hide a regression in the
  * driver's timed record, pinned without a session.
  */
class BenchSpec extends AnyFunSuite {
  test("official time: a failed pass never substitutes its time; passes record it negated") {
    val failed2 = Seq(Pass(2.0, ok = true, 5L), Pass(0.3, ok = false, 1L))
    assert(Bench.official(failed2) == Pass(2.0, ok = true, 5L))
    assert(Bench.signedPasses(failed2) == Seq(2.0, -0.3))

    val failed1 = Seq(Pass(0.4, ok = false, 0L))
    assert(Bench.official(failed1) == failed1.head)
    assert(Bench.signedPasses(failed1) == Seq(-0.4))

    assert(Bench.official(Seq(Pass(1.5, ok = true, 7L), Pass(1.1, ok = true, 2L))).sec == 1.1)
    assert(Bench.official(Seq(Pass(0.9, ok = true, 7L), Pass(1.1, ok = true, 2L))).gcMs == 7L)
  }

  test("stdout line: 414 full names stay within the budget, parse, keep the slowest") {
    val results = (1 to 414).map(i => f"q$i%02d_query_number_$i" -> ((i % 97) * 0.137 + i * 1e-3))
      .sortBy(_._1)
    val failed = Seq("q17_query_number_17", "q300_query_number_300(timeout)")
    val line = Bench.stdoutLine(results, failed, "/data/sf0.1")
    assert(line.length <= Bench.StdoutBudget)

    val json = new ObjectMapper().readTree(line)
    val shown = json.get("queries").fieldNames().asScala.toSet
    assert(shown.nonEmpty && shown.size < 414)
    assert(json.get("queries_shown").asInt() == shown.size)
    assert(json.get("n_queries").asInt() == 414)
    assert(json.get("failed").elements().asScala.map(_.asText()).toSeq == failed)
    assert(math.abs(json.get("value").asDouble() - results.map(_._2).sum) < 1e-3)

    val (kept, dropped) = results.partition { case (k, _) => shown(Bench.shortKey(k)) }
    assert(kept.size == shown.size)
    assert(kept.map(_._2).min >= dropped.map(_._2).max)
  }

  test("stdout line: a surface that fits is shown whole, with no queries_shown") {
    val results = Seq("q01_select" -> 0.5, "q02_filter" -> 1.25)
    val json = new ObjectMapper().readTree(Bench.stdoutLine(results, Seq.empty, "sf"))
    assert(json.get("queries").get("q01").asDouble() == 0.5)
    assert(json.get("queries").get("q02").asDouble() == 1.25)
    assert(!json.has("queries_shown"))
    assert(json.get("failed").size() == 0)
  }

  test("regressions: a uniform 1.6x, >1 s slowdown flags every query") {
    val before = (1 to 40).map(i => f"q$i%02d_query" -> (2.0 + i * 0.1))
    val now = before.map { case (k, t) => k -> t * 1.6 }
    val short = before.map { case (k, t) => Bench.shortKey(k) -> t }.toMap
    val flagged = Bench.regressions(now, prev = short, best = before.toMap)
    assert(flagged.map(_.q) == now.map(_._1))
    assert(flagged.head == Regression("q01_query", Some(2.1), Some(2.1), 2.1 * 1.6))
    // either reference alone is enough
    assert(Bench.regressions(now, prev = Map.empty, best = short).size == 40)
    assert(Bench.regressions(now, prev = short, best = Map.empty).size == 40)
  }

  test("regressions: under 1.5x or under 1 s absolute is not flagged") {
    val ref = Map("q01_a" -> 1.0, "q02_b" -> 4.0)
    assert(Bench.regressions(Seq("q01_a" -> 1.9, "q02_b" -> 5.9), ref, ref).isEmpty)
    assert(Bench.regressions(Seq("q03_new" -> 99.0), ref, ref).isEmpty)
  }

  test("timesIn reads bench_out.json and a round artifact's escaped stdout line") {
    val out = """{"metric":"total","queries":{"q01_select":0.5,"q02_filter":1.25},"passes":{"q01_select":[0.6,0.5]}}"""
    assert(Bench.timesIn(out) == Map("q01_select" -> 0.5, "q02_filter" -> 1.25))
    val round = """{"tail":"[success]\n{\"metric\":\"total\",\"queries\":{\"q01\":0.50,\"q02\":1.25},\"failed\":[]}"}"""
    assert(Bench.timesIn(round) == Map("q01" -> 0.5, "q02" -> 1.25))
  }
}
