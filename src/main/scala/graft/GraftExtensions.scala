package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.GeoFunctions
import graft.ext.TextFunctions
import graft.plans.{BinnedRangeJoin, EnvelopePrefilter, GridSpatialJoin, ParamFilters}

/**
 * SparkSessionExtensions entry point: register with
 * `spark.sql.extensions=graft.GraftExtensions` to get the geo + text
 * function families, the envelope-prefilter optimizer rule and the
 * by-reference filter constants planner strategy in every session, with
 * no engine object needed. (GeoDb also installs the same pieces
 * imperatively for sessions created without the config.)
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.allBuilders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    ext.injectOptimizerRule(_ => EnvelopePrefilter)
    // opt-in via spark.graft.rangeJoin.binWidth (no-op otherwise)
    ext.injectOptimizerRule(_ => BinnedRangeJoin)
    // opt-in via spark.graft.spatialJoin.cellSize (no-op otherwise)
    ext.injectOptimizerRule(_ => GridSpatialJoin)
    ext.injectPlannerStrategy(_ => ParamFilters)
  }
}

object GraftExtensions {
  /** (name -> expression builder) for every registered function. */
  def allBuilders: Seq[(String, Seq[Expression] => Expression)] =
    GeoFunctions.builders ++ TextFunctions.builders
}
