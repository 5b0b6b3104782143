package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The SPARK_GRAFT_BENCH_RECORD override guards: the names their own
  * error text suggests must pass them, and a degraded run that
  * replaces an existing degraded record says so. The record reader
  * and the routing it feeds: spelling does not matter, and a file it
  * cannot parse is no record.
  */
class BenchSpec extends AnyFunSuite {

  private def freshDir(): Path = Files.createTempDirectory("graft_bench_record")

  test("every record name the guard error suggests passes the override guards") {
    val dir = freshDir()
    val e = intercept[IllegalArgumentException](
      Bench.overrideRecordPath(dir.resolve("BENCH_LOCAL.json").toString, degraded = false))
    val msg = e.getMessage
    val suggested = "BENCH_\\w+\\.json".r.findAllIn(msg.substring(msg.indexOf("e.g."))).toSeq
    assert(suggested.contains(Bench.ExampleRecordName), msg)
    for (name <- suggested) {
      val p = dir.resolve(name)
      assert(Bench.overrideRecordPath(p.toString, degraded = false) == p, name)
    }
  }

  test("a degraded DRIVERSHAPE run logs before it overwrites the degraded sibling") {
    val dir = freshDir()
    val clean = dir.resolve("BENCH_LOCAL_DRIVERSHAPE.json")
    val sibling = dir.resolve("BENCH_LOCAL_DRIVERSHAPE_DEGRADED.json")
    def route(): (Path, String) = {
      val buf = new java.io.ByteArrayOutputStream
      val prev = System.err
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      try (Bench.overrideRecordPath(clean.toString, degraded = true), buf.toString("UTF-8"))
      finally System.setErr(prev)
    }
    val (first, quiet) = route()
    assert(first == sibling && quiet.isEmpty)
    Files.writeString(sibling, "{}")
    val (second, logged) = route()
    assert(second == sibling)
    assert(logged.contains("overwrites") && logged.contains(sibling.toString), logged)
  }

  private val sfDir = "/data/sf0.001"
  private val compact =
    s"""{"metric":"total","degraded":true,"queries":{"q1":1.5,"q2":-1.0},"sf":"$sfDir"}"""
  // the same record as Python's json.dump writes it
  private val spaced =
    s"""{"metric": "total", "degraded": true, "queries": {"q1": 1.5, "q2": -1.0}, "sf": "$sfDir"}"""

  test("a record reads the same in compact and Python-spaced form") {
    val dir = freshDir()
    val expected = Bench.Record(Some(sfDir), degraded = true, Map("q1" -> 1.5, "q2" -> -1.0))
    for ((text, i) <- Seq(compact, spaced).zipWithIndex) {
      val p = Files.writeString(dir.resolve(s"r$i.json"), text)
      assert(Bench.readRecord(p).contains(expected), text)
    }
    // a substring check for "degraded":true misses the spaced spelling
    assert(!spaced.contains("\"degraded\":true"))
  }

  test("a degraded run claims a degraded record in either spelling, and diverts from a clean one") {
    for (text <- Seq(compact, spaced)) {
      val dir = freshDir()
      val clean = dir.resolve("BENCH_LOCAL.json")
      val diverted = dir.resolve("BENCH_LOCAL_DEGRADED.json")
      Files.writeString(clean, text)
      assert(Bench.guardedRoute(clean, diverted, sfDir, degraded = true) == clean, text)
      Files.writeString(clean, text.replace("true", "false"))
      assert(Bench.guardedRoute(clean, diverted, sfDir, degraded = true) == diverted, text)
    }
  }

  test("the ratified map is BASELINE.json's ratified.queries at its own SF only") {
    val committed = Bench.readRatified(Path.of("BASELINE.json"), "/data/sf0.1")
    assert(committed.size == 226)
    // values as json.load(open("BASELINE.json"))["ratified"]["queries"] reads them
    assert(committed("q1_pricing_summary") == 1.43887116)
    assert(committed("graph_pagerank") == 4.814073066)
    assert(committed("vocab_encode") == 0.942388085)
    assert(committed("v_genre_ratings") == 2.356863474)
    assert(Bench.readRatified(Path.of("BASELINE.json"), sfDir).isEmpty)
    val unstamped = Files.writeString(freshDir().resolve("BASELINE.json"),
      """{"ratified": {"note": "no sf stamp", "queries": {"q1": 1.0}}}""")
    assert(Bench.readRatified(unstamped, "/data/sf0.1").isEmpty)
  }

  test("a torn or unparseable record routes like a different-SF record") {
    def routed(text: String): Path = {
      val dir = freshDir()
      val clean = dir.resolve("BENCH_LOCAL.json")
      Files.writeString(clean, text)
      dir.relativize(Bench.guardedRoute(clean, dir.resolve("BENCH_LOCAL_DEGRADED.json"),
        sfDir, degraded = false))
    }
    val otherSf = routed(compact.replace(sfDir, "/data/sf0.1"))
    assert(otherSf == Path.of("BENCH_LOCAL_sf0.001.json"))
    for (text <- Seq(compact.take(compact.indexOf("\"sf\"")), "not json", "")) {
      assert(Bench.readRecord(Files.writeString(freshDir().resolve("r.json"), text)).isEmpty, text)
      assert(routed(text) == otherSf, text)
    }
    assert(Bench.readRecord(freshDir().resolve("missing.json")).isEmpty)
  }
}
