package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension Type 2 versioning: turn a history of
  * attribute snapshots into versioned dimension rows with
  * `valid_from` / `valid_to` / `is_current`.
  *
  * The reference overwrote dimensions on every load (append-only
  * SERIAL keys, no history); SCD2 is the standard warehouse answer to
  * "what did this member's attributes look like when the fact
  * happened", and the role the `fecha_afiliacion`-style columns hint
  * at. All work is per-natural-key windows — the one shuffle is the
  * hash partition on the natural key, state per key is its version
  * count, and a 100 TB history processes as parallel as its key
  * cardinality.
  */
object Scd2 {

  /** Collapse consecutive identical snapshots and emit one row per
    * attribute version.
    *
    * @param snapshots   one row per (naturalKey, snapshotDate) with
    *                    attribute columns
    * @param naturalKey  business key column name
    * @param snapshotCol snapshot-date column name
    * @param attrs       attribute columns tracked for change
    */
  def versions(snapshots: DataFrame, naturalKey: String, snapshotCol: String,
      attrs: Seq[String]): DataFrame = {
    val byKey = Window.partitionBy(col(naturalKey)).orderBy(col(snapshotCol))
    val changed = attrs.map(a =>
      !(lag(col(a), 1).over(byKey) <=> col(a))).reduce(_ || _)
    val versioned = snapshots
      .withColumn("_is_change", when(row_number().over(byKey) === 1, true).otherwise(changed))
      .filter(col("_is_change"))
      .withColumn("version", row_number().over(byKey))
      .withColumn("valid_from", col(snapshotCol))
      .withColumn("valid_to",
        lead(col(snapshotCol), 1).over(byKey))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("_is_change", snapshotCol)
    versioned.select(
      (Seq(naturalKey) ++ attrs ++ Seq("version", "valid_from", "valid_to", "is_current"))
        .map(col): _*)
  }
}
