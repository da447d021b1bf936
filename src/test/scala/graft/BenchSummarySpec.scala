package graft

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's two JSON summaries (the BENCH_OUT.json record and the last
  * stdout line) must parse whatever the JVM's default locale and whatever
  * a SPARK_GRAFT_CONF override holds.
  */
class BenchSummarySpec extends AnyFunSuite {

  test("summaries parse as JSON under Locale.GERMANY; conf overrides escaped, cpus a string") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(f"${1.5}%.3f" == "1,500") // the default locale writes decimal commas
      val (full, line) = Bench.summaries(
        results = Seq(("q1", 1.5, 1.25), ("q\"2", -1.0, -1.0)),
        floorChecked = 1, floorWarn = Seq("q1" -> 1.75), floorFail = Nil,
        floorNoise = Seq(("q1", 2.5, 1.25)),
        conf = Seq("spark.x\"y" -> "a\"b\\c\n\u0001"), cpus = "4", sfDir = "/data/sf0.1")
      val json = new ObjectMapper()
      val f = json.readTree(full)
      assert(f.get("value").asDouble == 1.5)
      assert(f.get("queries").get("q1").asDouble == 1.5)
      assert(f.get("queries").get("q\"2").asDouble == -1.0)
      assert(f.get("queries_t2").get("q1").asDouble == 1.25)
      assert(f.get("failed").get(0).asText == "q\"2")
      assert(f.get("floor_warn").get("q1").asDouble == 1.75)
      assert(f.get("floor_noise").get("q1").get(0).asDouble == 2.5)
      assert(f.get("floor_noise").get("q1").get(1).asDouble == 1.25)
      assert(f.get("conf_overrides").get("spark.x\"y").asText == "a\"b\\c\n\u0001")
      assert(f.get("cpus").isTextual && f.get("cpus").asText == "4")
      assert(f.get("sf").asText == "/data/sf0.1")
      val l = json.readTree(line)
      assert(l.get("value").asDouble == 1.5 && l.get("floor_checked").asInt == 1)
      assert(!l.has("queries_t2") && !l.has("conf_overrides") && !l.has("cpus"))
    } finally Locale.setDefault(saved)
  }
}
