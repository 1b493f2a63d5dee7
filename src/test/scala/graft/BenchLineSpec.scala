package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout contract: the LAST stdout line is ONE JSON object
  * carrying `metric`, `value`, `unit`, `queries` and `sf`, with no
  * newline inside — a consumer parses exactly that line. The contract
  * broke three times before it was pinned here, against the pure
  * renderer `Bench.stdoutLine`. */
class BenchLineSpec extends AnyFunSuite {

  private val session = Bench.Session(reps = 3, canaryStart = 1.4219, canaryEnd = 0.98,
    loadStart = "1.93 1.19 2.16 4/227 10056", loadEnd = "2.31\t1.41\n2.19",
    settleBoundHits = 0, sfDir = "/data/sf0.1", rawPath = "BENCH_raw_HEAD_c4.json")

  private val results = Seq(
    Bench.QRes("q01_scan", 0.12345, 0.1, 0.2, None, Seq(3, 3, 3)),
    Bench.QRes("t75_persisted_topk", 5.3526, 5.1, 5.9, None, Seq(35, 35, 35)),
    Bench.QRes("x\"quoted\nname", -1, -1, -1, Some("boom:\n\"detail\""), Seq.empty))

  private val strict = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  test("the stdout line is one JSON object with the contract fields and no newline") {
    val line = Bench.stdoutLine(results, session)
    assert(!line.contains('\n') && !line.contains('\r'), line)
    val json = strict.readTree(line)
    assert(json.isObject)
    for (f <- Seq("metric", "value", "unit", "queries", "sf"))
      assert(json.has(f), s"missing $f in $line")
    assert(json.get("metric").asText == "total")
    assert(json.get("unit").asText == "sec")
    assert(json.get("sf").asText == "/data/sf0.1")
    // Value = sum of the healthy medians, 1 ms-rounded; an erroring
    // query is -1, never a fast timing.
    assert(json.get("value").asDouble == 5.476)
    val q = json.get("queries")
    assert(q.get("q01_scan").asDouble == 0.123)
    assert(q.get("t75_persisted_topk").asDouble == 5.353)
    assert(q.get("x\"quoted\nname").asDouble == -1.0)
    assert(json.get("loadavg_end").asText == "2.31\t1.41\n2.19")
  }

  test("the raw record parses too and keeps full precision, spread, jobs and errors") {
    val json = strict.readTree(Bench.fullRecord(results, session))
    assert(json.get("value").asDouble == 0.12345 + 5.3526)
    assert(json.get("queries").get("q01_scan").asDouble == 0.12345)
    assert(json.get("jobs").get("t75_persisted_topk").size == 3)
    assert(json.get("errors").get("x\"quoted\nname").asText == "boom:\n\"detail\"")
  }
}
