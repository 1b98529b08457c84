package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards over `src/main/scala` (the measurement mains
  * under `graft/tools/` are exempt):
  *  - observed metrics are read in ONE place, `core/Checkpoints.scala`
  *    (`cutObserved`), so a missing metric always fails with its
  *    diagnostic;
  *  - no `GRAFT_*` environment knobs: the token appears only as the
  *    `SPARK_GRAFT_*` harness keys of `Bench` and `Verify`. */
class SourceGuardSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, Seq[String])] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/'))
      .filterNot(_.startsWith("graft/tools/"))
      .toSeq.sorted
      .map(rel => rel -> java.nio.file.Files.readAllLines(root.resolve(rel)).asScala.toSeq)
    finally walk.close()
  }

  private def offending(pred: (String, String) => Boolean): Seq[String] =
    for ((rel, lines) <- sources; (line, i) <- lines.zipWithIndex
         if pred(rel, line)) yield s"$rel:${i + 1}: ${line.trim}"

  test("observedMetrics is read only in core/Checkpoints.scala") {
    assert(sources.exists(_._1 == "graft/core/Checkpoints.scala"), root.toAbsolutePath)
    val bad = offending((rel, line) =>
      rel != "graft/core/Checkpoints.scala" && line.contains("observedMetrics"))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("no GRAFT_* environment knobs outside the Bench/Verify SPARK_GRAFT_* keys") {
    val harness = Set("graft/Bench.scala", "graft/Verify.scala")
    val token = "[A-Z0-9_]*GRAFT_[A-Z0-9_]*".r
    val bad = offending((rel, line) => token.findAllIn(line)
      .exists(k => !harness(rel) || !k.startsWith("SPARK_GRAFT_")))
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
