package graft

/** Plan auditor: prints the formatted physical plan of selected queries
  * and greps it for scale red flags — missing filter pushdown, missing
  * broadcast on dim joins, cartesian products, absent whole-stage
  * codegen. Usage: tools/run.sh graft.PlanAudit [queryName ...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // AQE stays ON in Verify/Bench; here it would wrap the plan in
    // AdaptiveSparkPlan(isFinalPlan=false) and hide codegen spans
    val spark = GraftSession.start(GraftSession.builder(GraftSession.cores)
      .config("spark.sql.adaptive.enabled", "false"))
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"\n===== $name =====")
      println(plan)
      val flags = Seq(
        "CartesianProduct" -> plan.contains("CartesianProduct"),
        "no-WholeStageCodegen" -> !plan.contains("codegen id"),
        "SortMergeJoin" -> plan.contains("SortMergeJoin"))
        .collect { case (f, true) => f }
      if (flags.nonEmpty) println(s"[audit] $name flags: ${flags.mkString(", ")}")
      // queries may mark caches at build time; a prior query's cache
      // substitutes InMemoryRelation into later plans and hides the
      // subtree this audit exists to inspect (q207's cached cells were
      // masking q49's pivot-distance condition) — audit each query's
      // standalone plan, as Verify does
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
