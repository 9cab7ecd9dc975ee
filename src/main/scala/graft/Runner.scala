package graft

import org.apache.spark.sql.DataFrame

import graft.etl.{SyntheticSources, Warehouse}

/** End-to-end warehouse build main — the `process.py` equivalent
  * (`/root/reference/process.py:8-11`), one SparkSession, dims built
  * once, all four facts, distributed parquet sinks.
  *
  * Usage: tools/run.sh graft.Runner [scaleFactor] [outDir]
  * scaleFactor multiplies the base synthetic-source sizes (1.0 ≈ 2k
  * prescriptions); sources generate distributed, so large factors
  * exercise the same code path a cluster run would.
  */
object Runner {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toDouble).getOrElse(1.0)
    val outDir = args.lift(1).getOrElse("/tmp/graft_warehouse")
    val spark = GraftSession.start()

    val t0 = System.nanoTime()
    val sources = SyntheticSources.generate(
      spark, SyntheticSources.Sizes().scaled(factor))
    val wh = new Warehouse(spark, sources)
    wh.writeAll(outDir, stringifyDates = true)
    val elapsed = (System.nanoTime() - t0) / 1e9

    val tables = (wh.allDims ++ wh.allFacts).keys.toSeq.sorted
      .map(name => name -> spark.read.parquet(s"$outDir/$name"))
    def perTable(value: DataFrame => Long): String = tables
      .map { case (name, t) => s""""$name":${value(t)}""" }.mkString("{", ",", "}")
    // per table: the rows written and the data files holding them
    println(s"""{"metric":"warehouse_build","value":$elapsed,"unit":"sec","factor":$factor,""" +
      s""""counts":${perTable(_.count())},"files":${perTable(_.inputFiles.length)}}""")
    spark.stop()
  }
}
