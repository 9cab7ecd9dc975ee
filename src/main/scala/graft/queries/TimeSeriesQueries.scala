package graft.queries

import graft.SparkEntry.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Time-series operators beyond plain event aggregation: interval
  * (range) joins, rolling time-window features, and gap-fill — the
  * temporal toolkit a warehouse needs once facts carry timestamps
  * rather than foreign keys. Every query is oracle-checked against
  * DuckDB; every plan is equi-join/window only (the range join is
  * binned into an equi join — no nested loop anywhere).
  */
object TimeSeriesQueries {

  import Relational.exprSum

  // --------------------------------------------------------------------
  // q106 — interval (range) join, binned to an equi join. "Incident
  // windows" — ±30 min around the top-3 highest-value events per type —
  // are joined to EVERY event whose timestamp falls inside them. The
  // naive plan is a nested-loop theta join (the O(n·m) trap Spark falls
  // into for BETWEEN conditions); instead both sides are bucketed into
  // 1800 s bins, each window is exploded into the bins it overlaps, and
  // the join runs as a hash equi-join on the bin key with the BETWEEN
  // as a post-join filter. Each event has exactly ONE bin, so a
  // (window, event) match appears exactly once — no dedup needed.
  // Scale notes (100 TB): bin fan-out is ceil(width/bin)+1 ≈ 3 rows per
  // window — the exploded side stays proportional to the window count;
  // the event side never replicates. Both sides hash-partition on the
  // bin key, so the join co-locates without a broadcast requirement
  // (though Spark will broadcast the window side when it is small, as
  // here). This is the standard range-join binning Spark lacks natively.
  private val WindowHalfSec = 1800L
  private val BinSec = 1800L
  private val TopPerType = 3

  def q106RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("ts").cast("long").as("s"), col("value"))
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("s"), col("event_id"))
    val windows = e
      .withColumn("rn", row_number().over(byType))
      .filter(col("rn") <= TopPerType)
      .select(
        concat(col("event_type"), lit("#"), col("rn")).as("wid"),
        col("event_type").as("wtype"),
        (col("s") - WindowHalfSec).as("ws"),
        (col("s") + WindowHalfSec).as("we"))
    val wbins = windows.withColumn(
      "bin", explode(expr(s"sequence(ws DIV $BinSec, we DIV $BinSec)")))
    val ebins = e.withColumn("bin", expr(s"s DIV $BinSec"))
    ebins.join(wbins, Seq("bin"))
      .filter(col("s").between(col("ws"), col("we")))
      .groupBy(col("wid"), col("wtype"), col("ws"), col("we"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        exprSum(col("value")).as("sum_value"))
      .orderBy(col("wid"))
  }

  val q106Oracle: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type,
       |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s, value
       |  FROM events),
       |ranked AS (
       |  SELECT event_type, s, ROW_NUMBER() OVER (PARTITION BY event_type
       |    ORDER BY value DESC, s, event_id) AS rn
       |  FROM e),
       |w AS (
       |  SELECT event_type || '#' || rn AS wid, event_type AS wtype,
       |    s - $WindowHalfSec AS ws, s + $WindowHalfSec AS we
       |  FROM ranked WHERE rn <= $TopPerType)
       |SELECT wid, wtype, ws, we, COUNT(*) AS n_events,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
       |FROM w JOIN e ON e.s BETWEEN w.ws AND w.we
       |GROUP BY 1, 2, 3, 4 ORDER BY wid""".stripMargin

  // --------------------------------------------------------------------
  // q107 — rolling time-window features: for every event, the count and
  // value-sum of the same user's events in the preceding 7 days,
  // computed with a RANGE frame over epoch seconds (time-based, not
  // row-based — q20's running total is the ROWS dual). The window sum
  // runs over DECIMAL so partial-order differences between engines
  // cannot drift the float.
  // Scale notes (100 TB): partitioned by user_id — no global window;
  // per-user ordering is the sort any time-based feature pays, and the
  // frame is bounded by the time span, not the row count. This is the
  // feature-engineering shape (trailing activity counts) a training
  // pipeline computes per entity.
  private val TrailingSec = 7L * 86400L

  def q107RollingFeatures(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("s"))
      .rangeBetween(-TrailingSec, 0)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts").cast("long").as("s"),
        col("value"))
      .withColumn("n_7d", count(lit(1)).over(w))
      .withColumn("sum_7d",
        sum(col("value").cast(DecimalType(24, 6))).over(w).cast("double"))
      .drop("value")
      .orderBy(col("event_id"))
  }

  val q107Oracle: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id,
       |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s, value
       |  FROM events)
       |SELECT event_id, user_id, s,
       |  COUNT(*) OVER w AS n_7d,
       |  CAST(SUM(CAST(value AS DECIMAL(24,6))) OVER w AS DOUBLE) AS sum_7d
       |FROM e
       |WINDOW w AS (PARTITION BY user_id ORDER BY s
       |  RANGE BETWEEN $TrailingSec PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------------
  // q110 — gap-fill with forward fill: densify each user's daily value
  // series over their own [first, last] day span and carry the last
  // observed value across missing days (`last(..., ignoreNulls)` /
  // LAST_VALUE IGNORE NULLS — the classic time-series densification).
  // The first day per user is an observation by construction (the span
  // comes from the user's own events), so the fill is total.
  // Scale notes (100 TB): the grid explodes at most span-days rows per
  // user from a 1-row-per-user aggregate — no calendar cross join; the
  // fill window partitions by user. Both the grid build and the fill
  // reuse the same user_id hash partitioning.
  def q110GapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), expr("CAST(ts AS LONG) DIV 86400").as("day"),
        col("value"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("value").cast(DecimalType(24, 6))).as("v"))
    val grid = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("day", explode(expr("sequence(d0, d1)")))
      .select(col("user_id"), col("day"))
    val fillW = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled", last(col("v"), ignoreNulls = true).over(fillW))
      .select(col("user_id"), col("day"),
        col("filled").cast("double").as("day_value"),
        col("v").isNull.as("was_gap"))
      .orderBy(col("user_id"), col("day"))
  }

  val q110Oracle: String =
    """WITH daily AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400 AS day,
      |    SUM(CAST(value AS DECIMAL(24,6))) AS v
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT user_id, CAST(unnest(generate_series(d0, d1)) AS BIGINT) AS day
      |  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      |        FROM daily GROUP BY 1)),
      |joined AS (
      |  SELECT g.user_id, g.day, d.v FROM grid g
      |  LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
      |SELECT user_id, day,
      |  CAST(LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS day_value,
      |  v IS NULL AS was_gap
      |FROM joined ORDER BY user_id, day""".stripMargin

  // --------------------------------------------------------------------
  // q113 — peak concurrency (interval overlap maximum): for every day,
  // the maximum number of user sessions active at the same instant.
  // Sessions (q24's) are clipped into per-day segments, each segment
  // becomes a +1 at its start and a -1 one second after its end
  // (half-open), deltas collapse per (day, second), and a per-day
  // running sum sweeps to the max — the distributed sweep-line. The
  // capacity-planning query every operations team runs.
  // Scale notes (100 TB): there is NO global sort — the sweep
  // partitions by day (the time-sliced form of the classic algorithm),
  // and the per-day row count is bounded by distinct active seconds
  // (≤86 400 after the delta collapse) regardless of session volume.
  // Sessions spanning days explode into at most span-days segments.
  def q113MaxConcurrency(spark: SparkSession, dir: String): DataFrame = {
    // materialize the day-exploded session segments ONCE (lazy
    // localCheckpoint — the q227 materialize-reused-subplans rule):
    // segs is referenced three times (both delta arms + the n_active
    // aggregate), and un-materialized each reference re-ran the whole
    // sessionization subtree (events scan + two windows + group)
    val segs = EventsQueries.q24Sessionization(spark, dir)
      .select(col("user_id"), col("session_start_sec").as("s0"),
        col("session_end_sec").as("s1"))
      .withColumn("day", explode(expr("sequence(s0 DIV 86400, s1 DIV 86400)")))
      .localCheckpoint(false)
    val deltas = segs.select(col("day"),
        greatest(col("s0"), col("day") * 86400L).as("t"), lit(1).as("d"))
      .unionByName(segs.select(col("day"),
        (least(col("s1"), col("day") * 86400L + 86399L) + 1L).as("t"),
        lit(-1).as("d")))
    val sweep = Window.partitionBy(col("day")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val conc = deltas.groupBy(col("day"), col("t"))
      .agg(sum(col("d")).as("delta"))
      .withColumn("conc", sum(col("delta")).over(sweep))
      .groupBy(col("day")).agg(max(col("conc")).as("max_concurrent"))
    val active = segs.groupBy(col("day")).agg(count(lit(1)).as("n_active"))
    conc.join(active, Seq("day")).orderBy(col("day"))
  }

  val q113Oracle: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec, ts
      |  FROM events),
      |lagged AS (
      |  SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS prev_sec
      |  FROM flagged),
      |sess AS (
      |  SELECT user_id, sec,
      |    CAST(SUM(CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800
      |                  THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM lagged),
      |bounds AS (
      |  SELECT user_id, session_id, MIN(sec) AS s0, MAX(sec) AS s1
      |  FROM sess GROUP BY 1, 2),
      |segs AS (
      |  SELECT CAST(unnest(generate_series(s0 // 86400, s1 // 86400)) AS BIGINT)
      |    AS day, s0, s1
      |  FROM bounds),
      |deltas AS (
      |  SELECT day, GREATEST(s0, day * 86400) AS t, 1 AS d FROM segs
      |  UNION ALL
      |  SELECT day, LEAST(s1, day * 86400 + 86399) + 1 AS t, -1 AS d FROM segs),
      |collapsed AS (
      |  SELECT day, t, CAST(SUM(d) AS BIGINT) AS delta FROM deltas GROUP BY 1, 2),
      |run AS (
      |  SELECT day, CAST(SUM(delta) OVER (PARTITION BY day ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
      |  FROM collapsed),
      |peak AS (
      |  SELECT day, MAX(conc) AS max_concurrent FROM run GROUP BY 1),
      |active AS (
      |  SELECT day, COUNT(*) AS n_active FROM segs GROUP BY 1)
      |SELECT day, max_concurrent, n_active
      |FROM peak JOIN active USING (day) ORDER BY day""".stripMargin

  def registry: Seq[Query] = Seq(
    Query("q106_range_join", q106RangeJoin, q106Oracle),
    Query("q107_rolling_features", q107RollingFeatures, q107Oracle),
    Query("q110_gap_fill", q110GapFill, q110Oracle),
    Query("q113_max_concurrency", q113MaxConcurrency, q113Oracle))
}
