package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchLineSpec extends AnyFunSuite {

  test("bench summary line is valid JSON with cpus = \"*\"") {
    val line = Bench.summaryLine("12.34", 1, ""","failed_queries":["q1"]""", "/data/sf0.1", "*", 133, 57L)
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(j.get("cpus").isTextual && j.get("cpus").asText() == "*", line)
    assert(j.get("total_sec").asDouble() == 12.34)
    assert(j.get("failed").asInt() == 1 && j.get("failed_queries").get(0).asText() == "q1")
    assert(j.get("sf").asText() == "/data/sf0.1" && j.get("n_queries").asInt() == 133)
    assert(j.get("codegen_compiles").asLong() == 57L)
  }

  test("SPARK_GRAFT_CONF entries split on ';', each at its first '='") {
    assert(HarnessConf.parse("a.b=1;c=x=y;;no-equals;d=") == Seq("a.b" -> "1", "c" -> "x=y", "d" -> ""))
    assert(HarnessConf.parse("").isEmpty)
  }
}
