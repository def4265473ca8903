package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.Functions

/** Production wiring for the engine: users add
  * `spark.sql.extensions=graft.GraftExtensions` to their session config
  * and every session gets the optimizer, planner and check rules below
  * plus every `graft_*` SQL function. The functions are injected from
  * the one catalog, [[graft.functions.Functions]], whose rows
  * [[QueryDef]] also installs on the session a query runs on — so a
  * session built with or without the extensions binds the same names
  * to the same builders.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(plans.RebalanceBeforeGenerate)
    // opt-in approx mode: count(DISTINCT x) → HLL estimate behind
    // graft.approxDistinct.enabled (default off — exact)
    ext.injectOptimizerRule(plans.ApproxDistinctRewrite)
    ext.injectOptimizerRule(plans.ApproxPercentileRewrite)
    // whole-operator extension tier: logical node + strategy + physical
    // merge operator (plans/AsOfJoin.scala)
    ext.injectPlannerStrategy(_ => plans.AsOfJoinStrategy)
    // analysis-time governance tier: opt-in cartesian-product guard
    ext.injectCheckRule(_ => plans.CartesianGuard)
    Functions.all.foreach(f => ext.injectFunction((f.id, f.info, f.build)))
  }
}
