package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The SPARK_GRAFT_BENCH_RECORD override guards: the names their own
  * error text suggests must pass them, and a degraded run that
  * replaces an existing degraded record says so.
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
}
