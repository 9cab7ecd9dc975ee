package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing query names restrict the dump (local iteration);
    // the driver passes none and gets the full set
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      // fail loud: a typo'd name would otherwise look like a green no-op
      System.err.println(s"[verify] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val spark = GraftSession.start()
    new java.io.File(outDir).mkdirs()
    dump(spark, SparkEntry.queries.filter { case (name, _) =>
      only.isEmpty || only(name) }, sfDir, outDir)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a filtered run dumps oracle SQL only for the selected queries, so a
    // comparator pointed at this outDir never matches stale parquet from
    // an earlier unfiltered run against freshly-written SQL
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Write each query's result to `outDir/<name>` as one parquet file.
    * `outDir/<name>` is deleted before its builder runs, so a query
    * that throws leaves no result behind, never an earlier run's for
    * the comparator to pass; a failure (of the delete, the builder or
    * the write) is logged as that query's and the dump goes
    * on (the exit code stays 0: the comparator reads the per-query
    * results). */
  def dump(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      sfDir: String, outDir: String): Unit =
    queries.foreach { case (name, fn) =>
      val out = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      try {
        out.getFileSystem(spark.sessionState.newHadoopConf()).delete(out, true)
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(out.toString)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries may cache intermediates (e.g. q40's shingle sets);
      // don't let one query's cache pin memory for the rest
      spark.catalog.clearCache()
    }
}
