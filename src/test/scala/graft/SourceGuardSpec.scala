package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards over every file under `src/main/scala`:
  *  - observed metrics are read in ONE place, `core/Checkpoints.scala`
  *    (`cutObserved`), so a missing metric always fails with its
  *    diagnostic;
  *  - no `GRAFT_*` environment knobs: the token appears only as the
  *    `SPARK_GRAFT_*` harness keys of `Bench` and `Verify`;
  *  - every optimizer rule or planner strategy installed imperatively
  *    (`spark.experimental.extraOptimizations` / `extraStrategies`) is
  *    also injected by `GraftExtensions`, so a session configured with
  *    the extensions plans like one an engine object set up;
  *  - the only `main` objects are the harness (`Bench`, `Verify`) and
  *    the three tools (`PlanDump`, `Smoke`, `EntryCheck`); measurement
  *    belongs to `perfbench/`, not to one-off probe mains;
  *  - the geodesic operators' latitude-banded grid has one definition
  *    (`DistanceJoin.LatBands`), not a copy per operator. */
class SourceGuardSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, Seq[String])] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/'))
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

  test("every imperatively installed plan hook is also injected by GraftExtensions") {
    val install = "extra(Optimizations|Strategies)\\s*:\\+\\s*([\\w.]+)".r
    val installed = (for ((rel, lines) <- sources; line <- lines;
                          m <- install.findAllMatchIn(line))
      yield (m.group(1), m.group(2).split('.').last, rel)).distinct
    assert(installed.exists(_._3 == "graft/engine/GeoDb.scala"),
      "no imperative hook install found in GeoDb — the guard would pass vacuously")
    val ext = sources.find(_._1 == "graft/GraftExtensions.scala")
      .getOrElse(fail("graft/GraftExtensions.scala not found"))._2.mkString("\n")
    val missing = installed.filterNot { case (kind, name, _) =>
      val inject = if (kind == "Optimizations") "injectOptimizerRule" else "injectPlannerStrategy"
      s"$inject\\(\\s*_\\s*=>\\s*$name\\s*\\)".r.findFirstIn(ext).isDefined
    }
    assert(missing.isEmpty, missing.map { case (k, n, rel) =>
      s"$rel installs $n into extra$k, GraftExtensions does not inject it" }.mkString("\n"))
  }

  test("no GRAFT_* environment knobs outside the Bench/Verify SPARK_GRAFT_* keys") {
    val harness = Set("graft/Bench.scala", "graft/Verify.scala")
    val token = "[A-Z0-9_]*GRAFT_[A-Z0-9_]*".r
    val bad = offending((rel, line) => token.findAllIn(line)
      .exists(k => !harness(rel) || !k.startsWith("SPARK_GRAFT_")))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the only main objects are Bench, Verify, PlanDump, Smoke and EntryCheck") {
    val pkg = "^package\\s+([\\w.]+)".r
    val obj = "^\\s*object\\s+(\\w+)".r.unanchored
    val mains = for ((_, lines) <- sources;
                     p = lines.collectFirst { case pkg(name) => name }.getOrElse("");
                     (line, i) <- lines.zipWithIndex if line.contains("def main(")) yield {
      val o = lines.take(i).reverseIterator.collectFirst { case obj(name) => name }
      s"$p.${o.getOrElse("?")}"
    }
    assert(mains.sorted == Seq("graft.Bench", "graft.Verify", "graft.tools.EntryCheck",
      "graft.tools.PlanDump", "graft.tools.Smoke"), mains.mkString("\n"))
  }

  test("the latitude-banded grid is defined once: one def nCellsOf in src/main") {
    val defs = offending((_, line) => line.contains("def nCellsOf"))
    assert(defs.size == 1, defs.mkString("\n"))
  }
}
