package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** In-engine surrogate keys, replacing the reference's
  * write-dim → read-back-via-JDBC → join round-trip (the warehouse's
  * SERIAL columns assigned the keys; `/root/reference/processing/
  * medical_formula_process.py:112-121`, SURVEY §1.2).
  *
  * Keys are the global rank under a canonical order, computed in two
  * phases with NO data-sized single-partition step: range-partition and
  * sort by the key order, then Spark core's `RDD.zipWithIndex` counts
  * every partition's rows in one job and numbers each row from its
  * partition's offset. Both phases read the SAME materialized RDD, so
  * the count and the numbering see one set of partition boundaries
  * whatever adaptive execution does to the range exchange.
  *
  * The call is EAGER: a row's id needs the sizes of every partition
  * before it, so `zipWithIndex` runs the range exchange and the count
  * job when `assign` is called, not when the returned frame is first
  * read.
  */
object SurrogateKeys {

  /** Add `idCol` = dense 1-based key over `orderCols`. The remaining
    * columns are appended as tie-breakers so the assignment stays
    * deterministic even when the natural key is unexpectedly non-unique
    * (dirty input); with a genuinely unique key the tie-breakers never
    * fire and ids are unchanged.
    *
    * Ids are Int, matching the reference warehouse's Postgres SERIAL
    * (int4) columns; ranks past Int.MaxValue raise rather than wrap —
    * use [[assignHashed]] for dimensions that large.
    */
  def assign(df: DataFrame, idCol: String, orderCols: Column*): DataFrame = {
    val named = orderCols.map(_.toString).toSet
    val tieBreakers = df.columns.filterNot(named.contains).map(col)
    val order = orderCols ++ tieBreakers
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val keyed = sorted.rdd.zipWithIndex().map { case (row, i) =>
      if (i >= Int.MaxValue)
        throw new ArithmeticException(
          s"surrogate id overflow in $idCol; use assignHashed: ${i + 1}")
      Row.fromSeq(row.toSeq :+ (i + 1).toInt)
    }
    df.sparkSession.createDataFrame(keyed,
      df.schema.add(idCol, IntegerType, nullable = false))
  }

  /** Scale path: a collision-free 64-bit key from the natural key,
    * computed per-row with no window/shuffle. Keys are stable across
    * runs but not dense. Use for dimensions too large to broadcast.
    */
  def assignHashed(df: DataFrame, idCol: String, naturalKey: Column*): DataFrame =
    df.withColumn(idCol,
      org.apache.spark.sql.functions.xxhash64(naturalKey: _*))
}
