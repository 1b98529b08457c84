package graft

import org.apache.spark.sql.functions._

import graft.core.Checkpoints

/** [[graft.core.Checkpoints.cutObserved]]: one cut harvests every named
  * observe() metric of its plan (the fused stage-chain shape), and a
  * name the cut did not report fails with a diagnostic naming the scope
  * and the metric — in both the local and the reliable cut mode. */
class CheckpointsSpec extends SparkSpec {

  private def inBothModes(body: String => Unit): Unit = {
    body("local")
    val dir = tmpDir("graft-ckpt-spec")
    spark.conf.set(Checkpoints.ConfKey, dir)
    try body("reliable")
    finally spark.conf.unset(Checkpoints.ConfKey)
  }

  test("cutObserved: one cut harvests several names; a missing name throws the diagnostic") {
    inBothModes { mode =>
      // two chained observe() nodes, as StageChain marks two stages
      // before one materialization
      val base = spark.range(0, 100).toDF("id")
        .observe("st_all", count(lit(1)).as("n"))
      val evens = base.filter(col("id") % 2 === 0)
        .observe("st_even", count(lit(1)).as("n"), sum(col("id")).as("s"))
      val (cut, m) = Checkpoints.cutObserved(evens, "spec", "st_all", "st_even")
      assert(m.keySet === Set("st_all", "st_even"), mode)
      assert(m("st_all").getLong(0) === 100L, mode)
      assert(m("st_even").getLong(0) === 50L, mode)
      assert(m("st_even").getLong(1) === (0L until 100L by 2).sum, mode)
      assert(cut.count() === 50L, mode)

      val e = intercept[IllegalStateException] {
        Checkpoints.cutObserved(spark.range(0, 10).toDF("id")
          .observe("present", count(lit(1)).as("n")), "specScope",
          "present", "absent")
      }
      assert(e.getMessage.contains("specScope") &&
        e.getMessage.contains("'absent'"), s"$mode: ${e.getMessage}")
    }
  }
}
