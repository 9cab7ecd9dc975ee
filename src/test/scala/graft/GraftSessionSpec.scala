package graft

import graft.plans.RewriteToMv

/** GraftExtensions is installed once, when GraftSession builds the
  * session: queries that need its strategy or rule find them already
  * there, and running them installs nothing further, so no query's
  * plan depends on which queries ran before it.
  */
class GraftSessionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("a new session already has the native as-of strategy and the MV rule") {
    val plan = SparkEntry.queries("q66_asof_native")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .exists(_.isInstanceOf[RewriteToMv]))
  }

  test("running q66 and q298 installs nothing into the session") {
    Seq("q66_asof_native", "q298_mv_rewrite")
      .foreach(n => SparkEntry.queries(n)(spark, sf).collect())
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }
}
