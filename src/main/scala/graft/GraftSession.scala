package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is configured. Every main starts its
  * session here and the test suite builds from [[builder]], so the
  * configuration cannot drift between them, and [[GraftExtensions]] is
  * installed once, at session creation (sessions derived with
  * `newSession()` inherit it).
  */
object GraftSession {

  /** `local[cores]` with one shuffle partition per core, UTC, parquet
    * nanosecond timestamps read as longs, AQE on, the quiet local file
    * system (no chmod fork per create, no .crc twin — see
    * [[graft.sources.QuietLocalFileSystem]]) and no UI.
    */
  def builder(cores: String): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.hadoop.fs.file.impl", "graft.sources.QuietLocalFileSystem")
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      "graft.sources.QuietLocalAbstractFs")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", classOf[GraftExtensions].getName)

  /** Cores for a main's session: `SPARK_GRAFT_CPUS`, default 32. */
  def cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Start a main's session from `b` (default: [[builder]] at
    * [[cores]]), logging at WARN. */
  def start(b: SparkSession.Builder = builder(cores)): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
