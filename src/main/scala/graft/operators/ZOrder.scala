package graft.operators

import graft.SparkEntry.Query
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Z-order (Morton) clustering: interleave the bits of two dimension
  * keys so rows close in BOTH dimensions land close in the linear sort
  * order — the data-layout optimization behind multi-dimensional file
  * skipping. Writing a table range-partitioned and sorted by the
  * z-value gives every file/row-group a tight min-max envelope in both
  * dimensions at once, so a 2-D range predicate prunes most of them;
  * a single-column sort only prunes its own column. ZOrderSpec proves
  * the effect with parquet row-group statistics (the z-ordered layout
  * lets the pushed filters emit ~an order of magnitude fewer rows from
  * the scan than the single-column layout).
  *
  * Scale notes (100 TB): the z-value is a pure codegen projection (32
  * shift-and-mask terms, no shuffle); the clustering write is ONE
  * `repartitionByRange(z) + sortWithinPartitions(z)` — the same
  * exchange any sorted write pays. Production table formats call this
  * OPTIMIZE ZORDER BY; the mechanism here is identical, minus the
  * transaction log.
  */
object ZOrder {

  val ZBits = 16

  /** Morton code of the low [[ZBits]] bits of two non-negative keys —
    * bit i of `x` lands at position 2i, bit i of `y` at 2i+1. The
    * terms touch disjoint bits, so plus equals bitwise-or and the
    * whole code is one folded codegen expression.
    */
  def zValue(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Orders keyed by (customer, order day) — the two dimensions a
    * fact table is typically range-queried on together. [[zValue]]
    * reads only the low [[ZBits]] bits of EACH key, so keys wider than
    * 16 bits alias z-cells and dilute the clustering — a corpus whose
    * keys outgrow the budget should quantize them into 2^16 RANGE
    * buckets first (percentile buckets keep cells balanced under skew,
    * which a plain modulo would not).
    */
  private[operators] def ordersWithZ(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      col("o_custkey"),
      datediff(col("o_orderdate").cast("date"), lit("1970-01-01"))
        .cast("long").as("order_day"))
      .withColumn("z", zValue(col("o_custkey"), col("order_day")))

  def q102ZOrder(spark: SparkSession, dir: String): DataFrame =
    ordersWithZ(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("order_day"), col("z"))
      .orderBy(col("o_orderkey"))

  val q102Oracle: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey,
       |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
       |      AS BIGINT) AS order_day
       |  FROM orders)
       |SELECT o_orderkey, o_custkey, order_day,
       |  CAST(list_sum(list_transform(generate_series(0, ${ZBits - 1}),
       |    i -> (((o_custkey >> i) & 1) << (2*i))
       |       + (((order_day >> i) & 1) << (2*i + 1)))) AS BIGINT) AS z
       |FROM base
       |ORDER BY o_orderkey""".stripMargin

  def registry: Seq[Query] = Seq(
    Query("q102_zorder", q102ZOrder, q102Oracle))
}
