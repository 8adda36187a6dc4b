package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the `main` entry points of the engine source set: a one-off
  * measurement main (an A/B or probe harness) must not ship in
  * `src/main` — measurement goes through `perfbench/run.py`.
  */
class EntryPointsSpec extends AnyFunSuite {
  test("src/main defines exactly the allow-listed main entry points") {
    val allowed = Set("Verify", "Bench", "Explain", "BreakLock", "LiveTelemetryDemo",
      "StreamingDedupExample")
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: no $root")
    val stream = java.nio.file.Files.walk(root)
    val mains =
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala
          .filter(p => p.toString.endsWith(".scala"))
          .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains("def main("))
          .map(_.getFileName.toString.stripSuffix(".scala"))
          .toSet
      } finally stream.close()
    assert(mains == allowed,
      s"unexpected: ${(mains -- allowed).mkString(", ")}; missing: ${(allowed -- mains).mkString(", ")}")
  }
}
