package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTALLY-MAINTAINED MATERIALIZED VIEW over a sink table: a
  * grouped aggregate (`k -> COUNT(*), SUM(v)`) stored as its own sink
  * table, refreshed from the source's CHANGE DATA FEED instead of a
  * recompute — the textbook incremental-view-maintenance shape
  * (signed delta aggregation: inserts +1, deletes −1) bolted onto the
  * format's own metadata:
  *
  *   - the refresh WATERMARK (last source version folded in) lives in
  *     the MV's own TXN LEDGER (`#txn|mv|<version>` — the mechanism
  *     streaming exactly-once already uses), so the manifest rename
  *     that publishes the refreshed rows is the SAME atomic action
  *     that records how far they reach: a crash between "content
  *     written" and "watermark recorded" is impossible, and a
  *     replayed refresh sees the ledger at the source head and no-ops;
  *   - the delta is read through [[SinkChanges]] — ONLY files the
  *     source added since the watermark are opened, plus the vector
  *     diffs of any MoR deletes (whose retracted VALUES the feed
  *     carries, which is exactly what the signed aggregate needs);
  *   - groups whose count reaches zero drop out of the MV; a source
  *     rewrite the feed cannot express (truncate/CoW/compaction)
  *     fails the refresh loudly — rebuild with [[create]].
  *
  * Scale notes (100 TB): a full MV recompute costs the table; this
  * refresh costs (new data since the watermark) + (the MV itself,
  * which is groups-sized). That asymmetry is the entire point of
  * maintaining aggregates incrementally at corpus scale — and the
  * ledger-carried watermark makes unattended scheduled refreshes safe
  * to re-run (idempotent) without any external bookkeeping store.
  */
object SinkMv {

  /** The MV's own schema: group key + maintained aggregates. Field
    * id 1 (the layout key) IS the group key, so MV reads/writes ride
    * the ordinary keyed layout. */
  private val mvFields: Seq[SinkSchemas.SinkField] = Seq(
    SinkSchemas.SinkField(1, "k", org.apache.spark.sql.types.LongType),
    SinkSchemas.SinkField(2, "n_rows", org.apache.spark.sql.types.LongType),
    SinkSchemas.SinkField(3, "sum_v", org.apache.spark.sql.types.LongType))

  /** The aggregate the MV stores, `(k, n_rows, sum_v)` per key of a
    * keyed `(k, v)` frame, unordered. The sink and streaming fixtures
    * read their tables back through it too. */
  def keySums(keyed: DataFrame): DataFrame =
    keyed.groupBy(col("k"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))

  /** The source path recorded at create time (immutable metadata). */
  private[graft] def sourceOf(mvPath: String): String = {
    val f = SinkSource.fs(mvPath)
    val mf = new Path(mvPath, "_mv.psv")
    if (!f.exists(mf))
      throw new java.util.NoSuchElementException(
        s"$mvPath is not a materialized view (no _mv.psv)")
    val in = f.open(mf)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** Last source version folded into the MV — the `mv` ledger entry
    * the publishing commit recorded. */
  def watermark(mvPath: String): Int =
    SinkSource.txns(mvPath).getOrElse("mv", 0L).toInt

  /** Full build: aggregate the source's CURRENT version and publish
    * with the watermark in the same commit. */
  def create(spark: SparkSession, mvPath: String, srcPath: String): Int = {
    val srcV = SinkSource.currentVersion(srcPath)
    if (srcV == 0)
      throw new IllegalStateException(
        s"cannot create an MV over never-committed $srcPath")
    val agg = keySums(SinkSource.load(spark, srcPath))
    publish(agg, mvPath, srcV)
    if (!SinkSource.publishFile(mvPath, "_mv.psv", srcPath + "\n"))
      throw new IllegalStateException(s"MV metadata publish failed: $mvPath")
    srcV
  }

  /** Incremental refresh: fold the source's `(watermark, head]`
    * change feed into the stored aggregate. Returns the new
    * watermark; a no-op (already at head) returns it unchanged and
    * publishes NOTHING. */
  def refresh(spark: SparkSession, mvPath: String): Int = {
    val srcPath = sourceOf(mvPath)
    val last = watermark(mvPath)
    val head = SinkSource.currentVersion(srcPath)
    if (head == last) return last
    if (head < last)
      throw new IllegalStateException(
        s"MV watermark $last is ahead of source head $head — the " +
          s"source history under $srcPath was rewritten; rebuild the MV")
    // signed delta aggregation over the change feed: insert +1/+v,
    // delete -1/-v — the values the feed carries for deletes are what
    // make retraction possible without touching pre-watermark files
    val sign = when(col("_change_type") === "insert", lit(1L))
      .otherwise(lit(-1L))
    val delta = SinkChanges.load(spark, srcPath, last, head)
      .select(col("k"), sign.as("s"), col("v"))
      .groupBy(col("k"))
      .agg(sum(col("s")).as("n_rows"),
        sum(col("s") * col("v")).as("sum_v"))
    val current = SinkSource.load(spark, mvPath)
    val merged = current.unionByName(delta)
      .groupBy(col("k"))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("sum_v")).as("sum_v"))
      .filter(col("n_rows") > 0)
    publish(merged, mvPath, head)
    head
  }

  /** Overwrite-publish with the watermark riding the SAME manifest
    * commit (`txnId`/`txnEpoch` write options -> the commit's ledger
    * entry). */
  private def publish(df: DataFrame, mvPath: String, srcV: Int): Unit =
    df.write.format("graft.sources.SinkSource")
      .option("path", mvPath)
      .option("fields", SinkSchemas.encode(mvFields))
      .option("txnId", "mv")
      .option("txnEpoch", srcV.toString)
      .mode("overwrite")
      .save()
}
