package graft

/** Dev tool: run selected queries N times in one session to separate
  * per-query fixed overhead (planning, codegen, AQE rounds) from data
  * cost. Usage: tools/run.sh graft.Probe q01_pricing_summary [reps]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start()
    val reps = args.lastOption.flatMap(_.toIntOption).getOrElse(3)
    val names = args.filterNot(_.forall(_.isDigit)) match {
      case Array() => Array("q01_pricing_summary")
      case a => a
    }
    names.foreach { name =>
      val times = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-28s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
