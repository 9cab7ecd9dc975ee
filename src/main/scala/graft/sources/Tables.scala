package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Loaders for the driver-generated testdata star schema (TESTDATA.md).
  *
  * The reference engine pulls whole tables through a driver-side cursor
  * (`/root/reference/conection.py:55-63`, `SELECT *` + fetchall) — our
  * scans are distributed parquet reads so Catalyst's column pruning and
  * predicate pushdown reach the file scan (check `PushedFilters` /
  * `ReadSchema` in `.explain`). At 100 TB each table is a partitioned
  * parquet dataset; nothing here assumes single-file inputs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Schema per (dir, table): skips the per-query footer read without
  // holding any session-referencing object (a DataFrame cache keyed by
  // session pins the session via its own plans — even in a WeakHashMap,
  // the value→key strong path defeats collection). StructType is a
  // plain value; the testdata is immutable, so schemas never go stale.
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      org.apache.spark.sql.types.StructType]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent((dir, name),
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** Surface events.ts as session-zoned TIMESTAMP regardless of how the
    * generator physically encoded it — the encoding has changed across
    * testdata generations and the engine must read both:
    *  - parquet TIMESTAMP(NANOS): Spark only reads it as a nanosecond
    *    long (`spark.sql.legacy.parquet.nanosAsLong`, set in
    *    Verify/Bench/tests) → truncate to µs, matching DuckDB's
    *    `CAST(ts_ns AS TIMESTAMP)`.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4
    *    infers TIMESTAMP_NTZ, which rejects `CAST(ts AS BIGINT)` →
    *    cast to the session-zoned type (sessions pin UTC, so the
    *    wall-clock values are unchanged — the same ones DuckDB reads).
    *  - already session-zoned TIMESTAMP: no-op.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** A fresh session carrying a copy of `spark`'s conf: the isolation a
    * query needs to set session-local confs (catalogs, planner
    * switches) without leaking them into its caller. It shares the
    * extensions `spark` was built with (see [[graft.GraftSession]]). */
  def isolated(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    s
  }

  /** Register every table as a temp view so `spark.sql` works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Table hash-repartitioned on its id across all cores. The
    * CPU-dense per-row pipelines (shingling, per-token hashing, dot
    * products) cost orders of magnitude more than one pass of the raw
    * rows over the wire, so an up-front even spread always pays for
    * itself: on a cluster it also defends against few/large input
    * files or skewed file sizes — task count follows cores, not file
    * layout.
    */
  private def sharded(s: SparkSession, d: String, table: String, idCol: String): DataFrame =
    load(s, d, table).repartition(s.sparkContext.defaultParallelism,
      org.apache.spark.sql.functions.col(idCol))

  def documentsSharded(s: SparkSession, d: String): DataFrame =
    sharded(s, d, "documents", "doc_id")

  def embeddingsSharded(s: SparkSession, d: String): DataFrame =
    sharded(s, d, "embeddings", "vec_id")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** The sink and streaming fixtures' keyed shape of an events frame:
    * `(event_id % m AS k, event_id AS v)`. Use as
    * `events.transform(Tables.keyed(101))`, batch or streaming. */
  def keyed(m: Int)(events: DataFrame): DataFrame =
    events.select((col("event_id") % m).as("k"), col("event_id").as("v"))
}
