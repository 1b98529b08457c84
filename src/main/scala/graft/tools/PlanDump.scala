package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named gates to files — the
  * plan-evidence harness (`plans/<round>/<gate>_<tag>.txt`).
  * Usage: `runMain graft.tools.PlanDump <tag> <gate>[,<gate>...] [sfDir] [round]`
  * (sfDir defaults to the sf0.1 testdata, see TESTDATA.md — plans, not
  * timing, so the SF only matters for AQE size estimates; round
  * defaults to r16). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq.empty)
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val round = args.lift(3).getOrElse("r16")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = java.nio.file.Paths.get("plans", round)
    java.nio.file.Files.createDirectories(out)
    names.foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(out.resolve(s"${q}_$tag.txt"), txt)
      println(s"wrote plans/$round/${q}_$tag.txt (${txt.linesIterator.size} lines)")
    }
    spark.stop()
  }
}
