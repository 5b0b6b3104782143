package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No dev scaffolding: `src/main` holds only the four documented
  * mains, and `tools/` holds no round-stamped one-shot scripts.
  */
class ScaffoldingSpec extends AnyFunSuite {

  test("src/main has exactly the Bench, Verify, PlanDump and StageProf mains") {
    val files = Files.walk(Path.of("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val mains = files.filter(f => Files.readString(f).contains("def main("))
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    assert(mains == Set("Bench", "Verify", "PlanDump", "StageProf"))
  }

  test("tools/ has no round-stamped scripts") {
    val stamped = Files.list(Path.of("tools")).iterator.asScala
      .map(_.getFileName.toString).filter(_.matches(".*_r\\d+\\.py")).toSeq
    assert(stamped.isEmpty)
  }
}
