package graft

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's two JSON summaries (the BENCH_OUT_c<cpus>.json record and the
  * last stdout line), Verify's JSON files and the floor-file reader must
  * hold whatever the JVM's default locale and whatever the names and texts
  * they carry.
  */
class BenchSummarySpec extends AnyFunSuite {

  private val json = new ObjectMapper()

  private def underGermany[T](body: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(f"${1.5}%.3f" == "1,500") // the default locale writes decimal commas
      body
    } finally Locale.setDefault(saved)
  }

  private val profile = Harness.Profile(jobs = 3, stages = 4, stageMs = 120,
    shuffleReadBytes = 10, shuffleWriteBytes = 20, compiles = 5)

  private def summaries(runs: Seq[(String, Either[String, Bench.Run])]) =
    Bench.summaries(runs, floorChecked = 1, floorWarn = Seq("q1" -> 1.75),
      floorFail = Nil, floorNoise = Seq(("q1", 2.5, 1.25)), cpus = 4, sfDir = "/data/sf\"0.1")

  test("summaries parse under Locale.GERMANY; names escaped, profiles kept") {
    underGermany {
      val (full, line) = summaries(Seq(
        "q1" -> Right(Bench.Run(1.5, 1.25, profile)),
        "q\"2" -> Left("java.lang.IllegalStateException: boom at X.y(X.scala:1)")))
      assert(full.startsWith("{\"metric\":\"total\","))
      val f = json.readTree(full)
      assert(f.get("value").asDouble == 1.5)
      assert(f.get("queries").get("q1").asDouble == 1.5)
      assert(f.get("queries").get("q\"2").asDouble == -1.0)
      assert(f.get("queries_t2").get("q1").asDouble == 1.25)
      assert(f.get("failed").get(0).asText == "q\"2")
      assert(f.get("floor_warn").get("q1").asDouble == 1.75)
      assert(f.get("floor_noise").get("q1").get(0).asDouble == 2.5)
      assert(f.get("floor_noise").get("q1").get(1).asDouble == 1.25)
      val p = f.get("per_query").get("q1")
      assert(p.get("jobs").asInt == 3 && p.get("stages").asInt == 4 &&
        p.get("stage_ms").asLong == 120 && p.get("shuffle_read_bytes").asLong == 10 &&
        p.get("shuffle_write_bytes").asLong == 20 && p.get("compiles").asLong == 5, p)
      assert(f.get("cpus").asInt == 4)
      assert(f.get("sf").asText == "/data/sf\"0.1")
      assert(!f.has("conf_overrides"))
      val l = json.readTree(line)
      assert(l.get("value").asDouble == 1.5 && l.get("floor_checked").asInt == 1)
      assert(l.get("failed").asInt == 1 && l.get("floor_warn").asInt == 1 &&
        l.get("floor_fail").asInt == 0 && l.get("floor_noise").asInt == 1)
      assert(!l.has("queries") && !l.has("queries_t2") && !l.has("per_query"))
    }
  }

  test("times keep 3 decimals, rounded half up") {
    underGermany {
      val (full, _) = summaries(Seq("q1" -> Right(Bench.Run(1.0005, 2.0, profile))))
      assert(full.contains("\"queries\":{\"q1\":1.001}"), full)
      assert(full.contains("\"queries_t2\":{\"q1\":2.000}"), full)
    }
  }

  test("the stdout line for 384 long, quoted, control-character names stays under 1,500 bytes") {
    underGermany {
      val runs = (1 to 384).map { i =>
        val name = s"q_${"very_long_query_name_" * 4}$i\"\t\u0001"
        name -> (if (i % 7 == 0) Left(s"java.lang.RuntimeException: \"$i\"\n at X") else Right(Bench.Run(i / 7.0, i / 9.0, profile)))
      }
      val (full, line) = summaries(runs)
      assert(line.getBytes("UTF-8").length <= 1500, line)
      assert(!line.contains("\n"))
      val l = json.readTree(line)
      assert(l.get("failed").asInt == 54 && l.get("cpus").asInt == 4)
      val f = json.readTree(full)
      assert(f.get("queries").size == 384 && f.get("per_query").size == 384)
    }
  }

  test("the record carries a failed query's exception class and top frame") {
    underGermany {
      val err = try { val s: String = null; s.length; null } catch { case e: Throwable => e }
      val (full, _) = summaries(Seq("q_bad" -> Left(Harness.failure(err))))
      val failure = json.readTree(full).get("per_query").get("q_bad").get("failure").asText
      assert(failure.startsWith("java.lang.NullPointerException: "), failure)
      assert(failure.contains(" at graft.BenchSummarySpec"), failure)
    }
  }

  test("oracle_sql.json and band_checks.json text round-trips tabs, CRs and control characters") {
    underGermany {
      val nasty = "SELECT\t\"a\\b\"\r\nFROM t -- \u0001 é"
      val sql = json.readTree(Harness.json(Map("q_\t1" -> nasty, "q2" -> "x")))
      assert(sql.get("q_\t1").asText == nasty && sql.get("q2").asText == "x")
      val bands = json.readTree(BandChecks.toJson(Seq(
        BandChecks.Band("q_b\r", ok = false, s"check crashed: $nasty"))))
      assert(!bands.get("q_b\r").get("band_ok").asBoolean)
      assert(bands.get("q_b\r").get("detail").asText == s"check crashed: $nasty")
    }
  }

  test("bench_floor.json with a _doc key and nested floors reads to the map the old regex gave") {
    underGermany {
      val text =
        """{
          | "_doc": "Per-query t1 floors (sec) at sf0.1: warn ratio>1.5",
          | "floors": {
          |  "ann_filtered": 0.753,
          |  "q_big": 12,
          |  "q_exp": 1.5e-1
          | }
          |}
          |""".stripMargin
      val body = text.substring(text.indexOf("\"floors\"") + 8)
      val regex = "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9][0-9.eE+-]*)".r
        .findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble).toMap
      assert(Bench.readFloors(text) == regex)
      assert(regex == Map("ann_filtered" -> 0.753, "q_big" -> 12.0, "q_exp" -> 0.15))
    }
  }

  test("failure names the exception class and its top frame even when the message is null") {
    val npe = try { val s: String = null; s.length; null } catch { case e: Throwable => e }
    val line = Harness.failure(npe)
    assert(line.startsWith("java.lang.NullPointerException: "))
    assert(line.contains(" at graft.BenchSummarySpec"), line)
    val bare = new AssertionError()
    bare.setStackTrace(Array.empty)
    assert(Harness.failure(bare) == "java.lang.AssertionError: null at <no frame>")
  }
}
