package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, Row}

/**
 * Lineage cuts with a cluster-survivable option.
 *
 * Every iterative operator in the engine (pageRank / personalized
 * PageRank / bounded Bellman-Ford in [[graft.ext.Graph]],
 * [[graft.ext.Dedup.components]], [[graft.core.GeoCluster.geoDbscan]])
 * and every one-shot candidate-pair materialization must cut lineage,
 * or the plan tree grows per round until Catalyst analysis dominates.
 * There are two ways to cut, with very different failure modes:
 *
 *  - `localCheckpoint` (the default, conf unset): blocks live in
 *    executor storage ONLY, lineage is truncated. Fast (no FS write),
 *    correct at `local[n]` where the single JVM cannot "lose an
 *    executor". On a real cluster this is a resilience hazard: losing
 *    ONE executor mid-job discards blocks that the truncated lineage
 *    can never recompute, aborting a 10–100-round job over a 100-TB
 *    edge table unrecoverably.
 *  - reliable `checkpoint` (conf set): blocks are written to the
 *    fault-tolerant FS under `spark.graft.checkpointDir` (HDFS/S3 on a
 *    cluster; any path locally). An executor loss recomputes the lost
 *    partitions FROM THE CHECKPOINT FILES — the job survives. Costs
 *    one full write + read of the cut frame per round; for the slim
 *    `(node BIGINT, value BIGINT)` frames the iterative operators cut,
 *    that is bytes-per-row ≈ 16 — the cheapest insurance available.
 *
 * Set it per session (`spark.conf.set("spark.graft.checkpointDir",
 * "hdfs:///graft-ckpt")`) or at submit time (`--conf`). Checkpoint
 * files are NOT auto-deleted unless
 * `spark.cleaner.referenceTracking.cleanCheckpoints=true`; long-running
 * services should point the dir at a TTL'd bucket/path. Changing the
 * conf value mid-session re-targets subsequent cuts.
 *
 * Row-identity across both modes is pinned by ExtSpec ("reliable
 * checkpoint mode: identical results"): the cut is a pure
 * materialization boundary, never a semantic choice.
 *
 * Round-based operators read their per-round scalars (stage counts,
 * convergence, miss counts, dangling mass) from `observe()` metrics
 * evaluated by the cut's own action, through ONE helper,
 * [[cutObserved]] — the engine's only reader of
 * `queryExecution.observedMetrics`. A round is then one action: the
 * cut that materializes the frame also answers the loop's question.
 */
object Checkpoints {

  /** Session conf key selecting reliable checkpoints; unset → local. */
  val ConfKey = "spark.graft.checkpointDir"

  // last base dir pushed to SparkContext.setCheckpointDir, so a
  // mid-session conf change re-targets without re-setting every call
  @volatile private var lastBase: String = null

  /**
   * Cut `ds`'s lineage: reliable `checkpoint(eager)` when
   * [[ConfKey]] is set, `localCheckpoint(eager)` otherwise.
   */
  def cut[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] = {
    val dir = ds.sparkSession.conf.getOption(ConfKey).map(_.trim).filter(_.nonEmpty)
    dir match {
      case Some(d) =>
        val sc = ds.sparkSession.sparkContext
        if (lastBase != d || sc.getCheckpointDir.isEmpty) synchronized {
          if (lastBase != d || sc.getCheckpointDir.isEmpty) {
            sc.setCheckpointDir(d)
            lastBase = d
          }
        }
        ds.checkpoint(eager)
      case None => ds.localCheckpoint(eager)
    }
  }

  /**
   * [[cut]] `observed` eagerly and return the cut frame together with
   * every named `observe()` metric the cut's action collected. `names`
   * are `observe(name, ...)` names attached anywhere in `observed`'s
   * plan (a fused chain attaches several). A name the action did not
   * report throws one IllegalStateException naming `scope` and the
   * metric.
   */
  def cutObserved(observed: DataFrame, scope: String,
                  names: String*): (DataFrame, Map[String, Row]) = {
    val out = cut(observed)
    val metrics = observed.queryExecution.observedMetrics
    (out, names.map { n =>
      n -> metrics.getOrElse(n, throw new IllegalStateException(
        s"$scope: observed metric '$n' missing after the lineage cut — " +
          "the cut's action did not execute the observed plan"))
    }.toMap)
  }

  /** `.lineageCut(...)` chain syntax for [[cut]]. */
  implicit class CutOps[T](private val ds: Dataset[T]) extends AnyVal {
    def lineageCut(eager: Boolean = true): Dataset[T] = cut(ds, eager)
  }
}
