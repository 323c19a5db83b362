package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("session fields stay valid JSON whatever the environment holds") {
    // a SPARK_GRAFT_CPUS-style override carrying a quote, a backslash
    // and a control character
    val cpus = "4\"} ,\\x\t"
    val line = "{" + Bench.sessionFields(cpus, s"local[$cpus]", "8") + "}"
    val root = mapper.readTree(line)
    assert(root.get("cpus").asText() == cpus)
    assert(root.get("master").asText() == s"local[$cpus]")
    assert(root.get("shuffle_parts").isInt)
    assert(root.get("shuffle_parts").asInt() == 8)
    // the contract's numeric shape stays bare
    assert(Bench.jsonNum("32") == "32")
    assert(mapper.readTree(Bench.jsonString("a\u0001\"\\b")).asText() ==
      "a\u0001\"\\b")
  }
}
