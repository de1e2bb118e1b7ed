package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's and BenchScale's records put the data dir through the one
  * escaper, Verify.q, so any dir name leaves them valid JSON. */
class BenchJsonSpec extends AnyFunSuite {

  test("a data dir with a quote and a tab still gives valid JSON records") {
    val json = new ObjectMapper
    val dir = "/data/sf\"odd\tdir"
    val detail = json.readTree(Bench.record(1.5, Seq("q_a" -> 1.5), Seq("q_b"),
      Verify.q(dir), ""","env":{"cpus":4}"""))
    assert(detail.get("sf").asText == dir)
    assert(detail.get("queries").get("q_a").asDouble == 1.5)
    assert(detail.get("failed").get(0).asText == "q_b")
    assert(detail.get("env").get("cpus").asInt == 4)
    assert(json.readTree(Bench.record(0, Nil, Nil, Bench.sfJson(dir))).get("sf").asText == dir)
    val scale = json.readTree(BenchScale.record(
      Seq(("q_a", Some(1.0), Some(2.0), Some(3.0)), ("q_b", None, None, None)), 3, dir))
    assert(scale.get("sf").asText == dir)
    assert(scale.get("failed").get(0).asText == "q_b")
    // a dir that names its scale keeps the numeric form of the stdout line
    assert(Bench.sfJson("/data/sf0.1/") == "0.1")
    assert(json.readTree(Bench.record(0, Nil, Nil, Bench.sfJson("/data/sf0.1"))).get("sf").isNumber)
  }
}
