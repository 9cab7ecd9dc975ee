package graft.queries

import graft.SparkEntry.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import graft.queries.Relational.exprSum

/** Time-series / event-log queries over the `events` table. These are
  * the batch duals of the streaming module: the same windowed
  * aggregation and sessionization semantics run under Structured
  * Streaming in `graft.streaming` (where watermarks replace the total
  * order), while these batch forms are oracle-checkable by DuckDB.
  */
object EventsQueries {

  // --------------------------------------------------------------------
  // q23 — tumbling-window aggregation (1 hour): the batch dual of a
  // `groupBy(window($"ts", "1 hour"))` streaming agg. At 100 TB the
  // bucket key is derived per-row (no shuffle beyond the groupBy) and
  // AQE coalesces post-shuffle partitions.
  def q23EventWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        window(col("ts"), "1 hour")("start").as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), exprSum(col("value")).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  val q23Oracle: String =
    """SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin

  // --------------------------------------------------------------------
  // q24 — gap-based sessionization (30-minute inactivity): lag + running
  // sum of new-session flags per user. Timestamps are floored to whole
  // epoch seconds on both sides so Spark's µs and DuckDB's ns precision
  // agree. Streaming dual: `flatMapGroupsWithState` in graft.streaming.
  def q24Sessionization(spark: SparkSession, dir: String): DataFrame = {
    val sec = col("ts").cast("long")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = Tables.events(spark, dir)
      .withColumn("sec", sec)
      .withColumn("prev_sec", lag(col("sec"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).as("session_start_sec"),
        max(col("sec")).as("session_end_sec"),
        exprSum(col("value")).as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val q24Oracle: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, value,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec,
      |    ts
      |  FROM events),
      |lagged AS (
      |  SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
      |  FROM flagged),
      |sessions AS (
      |  SELECT *,
      |    CAST(SUM(CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM lagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(sec) AS session_start_sec, MAX(sec) AS session_end_sec,
      |  CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS session_value
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // --------------------------------------------------------------------
  // q25 — JSON field extraction from the string `props` column.
  def q25JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .withColumn("k_bucket", col("k") % 10)
      .orderBy(col("event_id"))

  val q25Oracle: String =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket
      |FROM events ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------------
  // q98 — funnel analysis: first-touch view → click → purchase per
  // user, each stage within FunnelGapSec of the previous — the
  // conversion query every event warehouse serves. "First-touch" makes
  // it deterministic: the funnel anchors on each user's EARLIEST view,
  // then the earliest qualifying click after it, then the earliest
  // qualifying purchase — pure min aggregates, no row ordering
  // assumptions. Every stage joins and aggregates on user_id, so the
  // whole funnel rides ONE key partitioning (AQE reuses it); at 100 TB
  // this is three co-located hash aggs + two left joins, no window
  // over the full event stream.
  // one day: at the fixture's event density this lands a 90/35/25
  // stage split at sf0.01, so every funnel stage is genuinely
  // exercised (1 hour converted almost nobody, 30 days everybody)
  val FunnelGapSec = 86400L

  def q98Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"),
      col("event_type"), col("ts").cast("long").as("sec"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("sec")).as("v_sec"))
    val c = ev.filter(col("event_type") === "click").join(v, Seq("user_id"))
      .filter(col("sec") > col("v_sec") && col("sec") <= col("v_sec") + FunnelGapSec)
      .groupBy(col("user_id")).agg(min(col("sec")).as("c_sec"))
    val p = ev.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
      .filter(col("sec") > col("c_sec") && col("sec") <= col("c_sec") + FunnelGapSec)
      .groupBy(col("user_id")).agg(min(col("sec")).as("p_sec"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("v_sec"), col("c_sec"), col("p_sec"),
        (lit(1) + when(col("c_sec").isNotNull, 1).otherwise(0)
          + when(col("p_sec").isNotNull, 1).otherwise(0)).as("stage"))
      .orderBy(col("user_id"))
  }

  val q98Oracle: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type,
       |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
       |  FROM events),
       |v AS (SELECT user_id, min(sec) AS v_sec FROM e
       |      WHERE event_type = 'view' GROUP BY 1),
       |c AS (SELECT e.user_id, min(sec) AS c_sec FROM e JOIN v USING (user_id)
       |      WHERE event_type = 'click'
       |        AND sec > v_sec AND sec <= v_sec + $FunnelGapSec GROUP BY 1),
       |p AS (SELECT e.user_id, min(sec) AS p_sec FROM e JOIN c USING (user_id)
       |      WHERE event_type = 'purchase'
       |        AND sec > c_sec AND sec <= c_sec + $FunnelGapSec GROUP BY 1)
       |SELECT user_id, v_sec, c_sec, p_sec,
       |  CAST(1 + CASE WHEN c_sec IS NOT NULL THEN 1 ELSE 0 END
       |         + CASE WHEN p_sec IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS stage
       |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
       |ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------------
  // q99 — cohort retention: users grouped by first-activity DAY (the
  // cohort), then counted per (cohort_day, days_since) — the retention
  // triangle every growth dashboard is built on. Day ids are integer
  // epoch-second DIV 86400 (no calendar parsing, identical in both
  // engines; the fixture spans 30 days, so daily cohorts give a real
  // triangle where weekly ones gave 5 cells); the cohort assignment is
  // one user_id aggregate and the retention count one (cohort, offset)
  // aggregate over the distinct user-day pairs — co-located on the
  // user_id partitioning until the final small rollup.
  def q99Retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"),
      expr("CAST(ts AS LONG) DIV 86400").as("day"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(cohort, Seq("user_id"))
      .select(col("user_id"), col("cohort_day"),
        (col("day") - col("cohort_day")).as("days_since"))
      .distinct()
      .groupBy(col("cohort_day"), col("days_since"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("days_since"))
  }

  val q99Oracle: String =
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400
      |      AS BIGINT) AS day
      |  FROM events),
      |cohort AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
      |ud AS (
      |  SELECT DISTINCT user_id, cohort_day, day - cohort_day AS days_since
      |  FROM e JOIN cohort USING (user_id))
      |SELECT cohort_day, days_since, count(*) AS n_users
      |FROM ud GROUP BY 1, 2 ORDER BY cohort_day, days_since""".stripMargin

  // --------------------------------------------------------------------
  // q105 — incremental aggregate maintenance: the materialized-view
  // upkeep every warehouse runs nightly. A per-(user, event_type)
  // aggregate exists for history (events before the cutover day); the
  // new day's delta is aggregated ALONE and merged into it with
  // aggregate-algebra (counts/sums add, mins/maxes min/max over a full
  // outer join) — the base data is never rescanned. The oracle is the
  // full recompute over everything, so the gate proves merge-equals-
  // recompute. The fixture cutover is mid-span (day 19740 of the
  // 30-day window) so base, delta, overlap keys, and delta-only keys
  // all genuinely occur.
  // Scale notes (100 TB): one aggregate over the (pruned) delta
  // partition, one key-partitioned outer-join merge against the stored
  // view — the incremental cost is O(delta + |view|), not O(history);
  // both sides hash on the same key so the merge co-locates.
  val CutoverDay = 19740L

  def q105IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("user_id"), col("event_type"),
      expr("CAST(ts AS LONG) DIV 86400").as("day"),
      col("value"))
    def aggOf(df: DataFrame): DataFrame = df
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(24, 6))).as("sv"),
        min(col("day")).as("first_day"), max(col("day")).as("last_day"))
    mergeAggregates(aggOf(ev.filter(col("day") < CutoverDay)),
      aggOf(ev.filter(col("day") >= CutoverDay)))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** The aggregate-algebra merge: counts/sums add, day bounds min/max,
    * keys present on only one side pass through — a full outer join on
    * the view key. Factored so the one-sided coalesce paths (which the
    * evenly-active fixture never produces) are testable directly.
    */
  private[queries] def mergeAggregates(baseAgg: DataFrame, deltaAgg: DataFrame): DataFrame = {
    val zeroSv = lit(0).cast(org.apache.spark.sql.types.DecimalType(24, 6))
    val base = baseAgg.withColumnsRenamed(Map("n" -> "bn", "sv" -> "bsv",
      "first_day" -> "bf", "last_day" -> "bl"))
    val delta = deltaAgg.withColumnsRenamed(Map("n" -> "dn", "sv" -> "dsv",
      "first_day" -> "df_", "last_day" -> "dl"))
    base.join(delta, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_events"),
        (coalesce(col("bsv"), zeroSv) + coalesce(col("dsv"), zeroSv))
          .cast("double").as("sum_value"),
        least(coalesce(col("bf"), col("df_")), coalesce(col("df_"), col("bf"))).as("first_day"),
        greatest(coalesce(col("bl"), col("dl")), coalesce(col("dl"), col("bl"))).as("last_day"))
  }

  val q105Oracle: String =
    """SELECT user_id, event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value,
      |  min(CAST(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400 AS BIGINT)) AS first_day,
      |  max(CAST(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400 AS BIGINT)) AS last_day
      |FROM events GROUP BY 1, 2
      |ORDER BY user_id, event_type""".stripMargin

  // --------------------------------------------------------------------
  // q162 — RETRACTION-aware incremental aggregation: q105 handles
  // insert-only deltas; real CDC feeds also retract (deletes, and
  // updates as delete+insert). The stored view keeps only the
  // RETRACTABLE aggregates — count and sum, which absorb a signed
  // delta exactly — and a key whose count reaches zero VANISHES from
  // the view, matching the group's disappearance under a recompute.
  // min/max are deliberately absent: they are not retractable (a
  // deleted extremum needs the key's full history to re-derive — at
  // scale that is a per-affected-key q105-style rebuild, not algebra).
  // CDC derivation is deterministic from the fixture: base = events
  // with id % 10 != 0; the delta retracts id % 20 == 1 (all in base)
  // and inserts id % 10 == 0 (all new). The oracle recomputes the
  // final state directly — the gate proves merge-equals-recompute
  // under retraction, exactly (DECIMAL sums are order-insensitive, so
  // base - deletes + inserts is bit-equal to the direct sum).
  // Scale notes (100 TB): one aggregate over the (pruned) delta, one
  // key-co-located full-outer merge — O(delta + |view|), the q105
  // shape, now closed under the full CDC op set.
  /** The retractable view over any (event_id, user_id, event_type,
    * value) frame — q162 binds it to events; the spec drives the
    * all-rows-retracted path (key must VANISH) on a synthetic frame
    * the evenly-active fixture never produces.
    */
  private[queries] def retractableView(ev: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(24, 6)
    val view = ev.filter(col("event_id") % 10 =!= 0)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("bn"), sum(col("value").cast(dec)).as("bsv"))
    val delta = ev.filter(col("event_id") % 20 === 1)
      .withColumn("sgn", lit(-1L))
      .unionByName(ev.filter(col("event_id") % 10 === 0)
        .withColumn("sgn", lit(1L)))
    val deltaAgg = delta.groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("sgn")).as("dn"),
        sum(col("value").cast(dec) * col("sgn")).as("dsv"))
    val zero = lit(0).cast(dec)
    view.join(deltaAgg, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_events"),
        (coalesce(col("bsv"), zero) + coalesce(col("dsv"), zero)).as("svd"))
      .filter(col("n_events") > 0)
      .select(col("user_id"), col("event_type"), col("n_events"),
        col("svd").cast("double").as("sum_value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  def q162RetractableAgg(spark: SparkSession, dir: String): DataFrame =
    retractableView(Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value")))

  val q162Oracle: String =
    """SELECT user_id, event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE (event_id % 10 <> 0 AND event_id % 20 <> 1) OR event_id % 10 = 0
      |GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin

  // --------------------------------------------------------------------
  // q124 — regex extraction surface: every digit run in the JSON props
  // string via regexp_extract_all — the untyped-log field mining that
  // precedes proper parsing. Count plus first/last runs as ints; the
  // pattern is engine-neutral (no lookarounds — Java regex vs RE2
  // differences stay out of play).
  // Scale notes (100 TB): pure scan-side codegen projection, zero
  // shuffle before the terminal sort.
  def q124RegexExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        // Spark's idx defaults to capture group 1 (DuckDB's to 0) — an
        // explicit group keeps one pattern valid in both engines
        expr("regexp_extract_all(props, '([0-9]+)', 1)").as("runs"))
      .select(col("event_id"),
        size(col("runs")).as("n_runs"),
        element_at(col("runs"), 1).cast("long").as("first_run"),
        element_at(col("runs"), -1).cast("long").as("last_run"))
      .orderBy(col("event_id"))

  val q124Oracle: String =
    """SELECT event_id,
      |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS INTEGER) AS n_runs,
      |  CAST(regexp_extract_all(props, '[0-9]+')[1] AS BIGINT) AS first_run,
      |  CAST(regexp_extract_all(props, '[0-9]+')[-1] AS BIGINT) AS last_run
      |FROM events ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------------
  // q126 — deterministic set aggregation: each user's distinct event
  // types as ONE canonical string (collect_set → sort_array →
  // array_join) — the segment-signature build. collect_set order is
  // partition-dependent; the sort_array is what makes the result
  // reproducible and oracle-comparable (DuckDB: string_agg DISTINCT
  // with ORDER BY).
  // Scale notes (100 TB): one hash aggregate on user_id; the set is
  // bounded by the event-type vocabulary, so state per key is tiny.
  def q126TypeSignature(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        array_join(sort_array(collect_set(col("event_type"))), ",").as("type_sig"),
        countDistinct(col("event_type")).as("n_types"))
      .orderBy(col("user_id"))

  val q126Oracle: String =
    """SELECT user_id,
      |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS type_sig,
      |  COUNT(DISTINCT event_type) AS n_types
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------------
  // q130 — event transition matrix: the Markov view of the event log —
  // for every (from, to) pair of consecutive event types within a user,
  // the count and the row-normalized transition probability. lead()
  // over the per-user order, then ONE aggregate; the per-from totals
  // ride a window PARTITIONED BY from_type over the aggregated table
  // (vocabulary² rows — never data-sized). Counts are exact BIGINTs;
  // the probability is one IEEE division of exact integers + round(6),
  // so both engines agree bit-for-bit (the q128 mechanism).
  // Scale notes (100 TB): one shuffle on user_id for the lead, one
  // hash aggregate on the pair; the normalizing window touches only
  // the |types|² aggregate. No global window, no join.
  def q130Transitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val byFrom = Window.partitionBy(col("from_type"))
    pairs
      .withColumn("p", round(
        col("n").cast("double") / sum(col("n")).over(byFrom).cast("double"), 6))
      .orderBy(col("from_type"), col("to_type"))
  }

  val q130Oracle: String =
    """WITH steps AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_type
      |  FROM events),
      |t AS (
      |  SELECT from_type, to_type, COUNT(*) AS n FROM steps
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  round(CAST(n AS DOUBLE)
      |    / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
      |FROM t ORDER BY from_type, to_type""".stripMargin

  // --------------------------------------------------------------------
  // q132 — hopping (sliding) windows: 1-hour windows advancing every
  // 30 minutes, so each event lands in exactly TWO windows — the
  // overlapping-window aggregation Structured Streaming shares
  // (`window(ts, "1 hour", "30 minutes")`). Spark expands the window
  // set per-row at scan time (an Expand of width/slide = 2 rows), then
  // one hash aggregate; the oracle derives the same two window starts
  // arithmetically (start ∈ {sec − sec % 1800, that − 1800}).
  // Scale notes (100 TB): the Expand doubles scan-side rows BEFORE the
  // aggregate's map-side combine, so shuffled bytes stay at
  // |windows × types| partials — the overlap factor never reaches the
  // wire. That multiplier is width/slide: keep it small by choosing
  // slide proportional to width.
  def q132HoppingWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        window(col("ts"), "1 hour", "30 minutes")("start")
          .cast("long").as("win_start_sec"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), exprSum(col("value")).as("sum_value"))
      .orderBy(col("win_start_sec"), col("event_type"))

  val q132Oracle: String =
    """WITH e AS (
      |  SELECT event_type, value,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
      |  FROM events),
      |x AS (
      |  SELECT event_type, value, sec - (sec % 1800) AS win_start_sec FROM e
      |  UNION ALL
      |  SELECT event_type, value, sec - (sec % 1800) - 1800 FROM e)
      |SELECT win_start_sec, event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
      |FROM x GROUP BY 1, 2 ORDER BY win_start_sec, event_type""".stripMargin

  // --------------------------------------------------------------------
  // q142 — trailing 7-day active users (DAU/WAU stickiness): for every
  // observed day, the distinct users active that day and over the
  // trailing 7-day window. The exact form: each distinct (user, day)
  // pair COVERS report days d..d+6, so the trailing count is a
  // distinct-over-explode — no per-day window state, no distinct
  // inside a sliding frame (which Spark windows can't do exactly
  // anyway). Report days are clipped to observed days by a semi join.
  // Day ids are epoch-second DIV 86400 (the q99 convention).
  // Scale notes (100 TB): the fan-out is a fixed 7×; both distincts
  // and the counts hash-partition on (user, day)-derived keys with
  // map-side combine. The same shape computes any trailing-window
  // distinct; at 100 TB the exact form is the backfill job and the
  // approximate daily-HLL-merge is the dashboard form.
  def q142TrailingWau(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), expr("CAST(ts AS LONG) DIV 86400").as("day"))
      .distinct()
    val days = ud.select(col("day")).distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("day"))
      .distinct()
      .join(days, Seq("day"), "left_semi")
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .withColumn("stickiness", round(col("dau").cast("double") / col("wau"), 6))
      .orderBy(col("day"))
  }

  val q142Oracle: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400
      |      AS BIGINT) AS day
      |  FROM events),
      |days AS (SELECT DISTINCT day FROM ud),
      |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
      |cover AS (
      |  SELECT DISTINCT user_id, day + off AS day
      |  FROM ud, (SELECT unnest(range(0, 7)) AS off)),
      |wau AS (
      |  SELECT c.day, count(*) AS wau FROM cover c
      |  WHERE c.day IN (SELECT day FROM days) GROUP BY 1)
      |SELECT day, dau, wau,
      |  round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
      |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin

  // --------------------------------------------------------------------
  // q173 — recency-DECAYED user value, top-k per event_type through the
  // native TopKByLong aggregate: each event contributes
  // value · 1/(1 + age_days) relative to the corpus's newest event, the
  // per-(type, user) scores accumulate through DECIMAL so engine sum
  // order cannot drift them, and the per-type top-5 ships as PARTIAL
  // aggregate state (≤ k rows per map task — the q57 rationale; a rank
  // window would shuffle every user row). The decay weight is a pure
  // IEEE division on an integer age, so Spark and DuckDB compute
  // bit-identical terms; round(…, 8) is the shared HALF_UP contract.
  // The reference anchor ts (a 1-row max) joins through the
  // optimizer-opaque key so the whole query stays ONE lazy plan.
  // Scale notes (100 TB): two hash aggs (type,user → type) plus the
  // 1-row anchor join — no window, nothing collected, partial agg
  // bounds shuffle at k rows/task.
  val DecayTopK = 3

  def q173DecayedValue(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        col("ts").cast("long").as("sec"), col("value"))
    val anchor = ev.agg(max(col("sec")).as("mx_sec"))
      .withColumn("_k", graft.plans.Opaque.zeroKey(col("mx_sec")))
    val scored = ev.withColumn("_k", graft.plans.Opaque.zeroKey(col("sec")))
      .join(anchor, Seq("_k"))
      .withColumn("age_days", expr("(mx_sec - sec) div 86400"))
      .withColumn("term",
        round(col("value") / (col("age_days") + 1), 8)
          .cast(DecimalType(24, 8)))
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("term")).cast("double").as("score"))
    scored.groupBy(col("event_type"))
      .agg(graft.functions.TopKByLong.topk_by(
        col("score"), col("user_id"), DecayTopK).as("top_users"))
      .select(col("event_type"),
        posexplode(col("top_users")).as(Seq("pos", "user_id")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rk"),
        col("user_id"))
      .orderBy(col("event_type"), col("rk"))
  }

  val q173Oracle: String =
    s"""WITH e AS (
       |  SELECT event_type, user_id,
       |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec, value
       |  FROM events),
       |m AS (SELECT MAX(sec) AS mx_sec FROM e),
       |s AS (
       |  SELECT event_type, user_id,
       |    CAST(SUM(CAST(round(value / (1 + CAST(floor((m.mx_sec - sec) / 86400.0)
       |      AS BIGINT)), 8) AS DECIMAL(24,8))) AS DOUBLE) AS score
       |  FROM e, m GROUP BY event_type, user_id)
       |SELECT event_type, rk, user_id FROM (
       |  SELECT event_type, user_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
       |      ORDER BY score DESC, user_id) AS INTEGER) AS rk
       |  FROM s)
       |WHERE rk <= $DecayTopK ORDER BY event_type, rk""".stripMargin

  // --------------------------------------------------------------------
  // q174 — per-group OLS TREND (least-squares slope/intercept of value
  // over time): the drift detector a data pipeline runs per segment.
  // Everything reduces to the five classical sums — n, Σx, Σy, Σxy,
  // Σx² — which are EXACT here: x is an integer second offset from the
  // group's own first event (the offset join keeps x² inside long
  // range; absolute epochs would overflow per-term), y carries 2
  // decimals so x·y is exact in a double and accumulates through
  // DECIMAL. Slope/intercept then evaluate in double from identical
  // exact sums on both engines, rounded on the shared HALF_UP
  // contract.
  // Scale notes (100 TB): one agg for the per-group offset (a
  // group-cardinality dim frame, broadcast back), one agg for the
  // sums; no window, nothing collected.
  def q174GroupTrend(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast("long").as("sec"), col("value"))
    val base = ev.groupBy(col("event_type")).agg(min(col("sec")).as("min_sec"))
    val xy = ev.join(broadcast(base), Seq("event_type"))
      .withColumn("x", col("sec") - col("min_sec"))
    val sums = xy.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast(DecimalType(38, 0)).as("sx"),
      sum(col("value").cast(DecimalType(24, 6))).as("sy"),
      sum((col("x") * col("value")).cast(DecimalType(38, 6))).as("sxy"),
      sum(col("x") * col("x")).cast(DecimalType(38, 0)).as("sxx"))
    sums.select(col("event_type"), col("n"),
        // divide in DOUBLE: a decimal quotient's scale truncates a
        // per-second slope (~1e-6) to quantized steps on the Spark side
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope_raw"),
        col("sx").cast("double").as("sxd"), col("sy").cast("double").as("syd"))
      .select(col("event_type"), col("n"),
        round(col("slope_raw") * 86400, 8).as("slope_per_day"),
        round((col("syd") - col("slope_raw") * col("sxd")) / col("n"), 6)
          .as("intercept"))
      .orderBy(col("event_type"))
  }

  val q174Oracle: String =
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec, value
      |  FROM events),
      |b AS (SELECT event_type, MIN(sec) AS min_sec FROM e GROUP BY event_type),
      |xy AS (
      |  SELECT e.event_type, e.sec - b.min_sec AS x, e.value
      |  FROM e JOIN b ON e.event_type = b.event_type),
      |s AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
      |    SUM(CAST(value AS DECIMAL(24,6))) AS sy,
      |    SUM(CAST(x * value AS DECIMAL(38,6))) AS sxy,
      |    CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx
      |  FROM xy GROUP BY event_type),
      |r AS (
      |  SELECT event_type, n,
      |    CAST(n * sxy - sx * sy AS DOUBLE) /
      |      CAST(n * sxx - sx * sx AS DOUBLE) AS slope_raw,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM s)
      |SELECT event_type, n, round(slope_raw * 86400, 8) AS slope_per_day,
      |  round((syd - slope_raw * sxd) / n, 6) AS intercept
      |FROM r ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------------
  // q176 — event-RATE anomaly hours: which hours' event counts sit more
  // than 3 population standard deviations from their type's hourly
  // mean — the volume-spike/outage monitor a pipeline runs over ingest
  // telemetry. The 3σ test is ALL-INTEGER: |c − μ| > 3σ with μ = S1/n
  // and σ² = (n·S2 − S1²)/n² is equivalent to
  // (n·c − S1)² > 9·(n·S2 − S1²), every term an exact long — no
  // double ever enters the flag, so the two engines cannot diverge
  // even at a boundary (the q112 z-score query reports MAGNITUDES and
  // rounds; this one only DECIDES, so it gets to stay integer).
  // Scale notes (100 TB): two hash aggs (type×hour, then type) and a
  // broadcast-sized join of per-type stats back onto hour rows.
  def q176RateAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"), expr("CAST(ts AS LONG) div 3600").as("hr"))
      .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("cnt"))
    val stats = hourly.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_hours"), sum(col("cnt")).as("s1"),
      sum(col("cnt") * col("cnt")).as("s2"))
    hourly.join(broadcast(stats), Seq("event_type"))
      .filter(
        (col("n_hours") * col("cnt") - col("s1")) *
          (col("n_hours") * col("cnt") - col("s1")) >
          lit(9L) * (col("n_hours") * col("s2") - col("s1") * col("s1")))
      .select(col("event_type"), (col("hr") * 3600).as("hour_start_sec"),
        col("cnt"), col("n_hours"))
      .orderBy(col("event_type"), col("hour_start_sec"))
  }

  val q176Oracle: String =
    """WITH h AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS hr,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT event_type, COUNT(*) AS n_hours, SUM(cnt) AS s1,
      |    SUM(cnt * cnt) AS s2
      |  FROM h GROUP BY 1)
      |SELECT h.event_type, h.hr * 3600 AS hour_start_sec, h.cnt, s.n_hours
      |FROM h JOIN s USING (event_type)
      |WHERE (s.n_hours * h.cnt - s.s1) * (s.n_hours * h.cnt - s.s1)
      |  > 9 * (s.n_hours * s.s2 - s.s1 * s.s1)
      |ORDER BY event_type, hour_start_sec""".stripMargin

  // --------------------------------------------------------------------
  // q178 — SESSIONIZED funnel: q24's gap-islands composed with q98's
  // staged-progression semantics, but the time bound is the SESSION
  // itself — a user converts in-session when a click follows the
  // session's first view and a purchase follows that click, all inside
  // one 30-minute-gap island. Per-session funnels are what product
  // analytics actually reports (q98's per-user form can chain stages
  // across days); the composition exercises sessionization feeding a
  // staged min-filter chain, all co-located on user_id.
  // Scale notes (100 TB): one user-partitioned window (q24's islands),
  // then three (user, session)-keyed aggs chained by equi-joins on the
  // SAME key — the shuffles co-locate, and AQE broadcasts the
  // shrinking stage frames. No global window, nothing collected.
  def q178SessionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = Tables.events(spark, dir)
      .withColumn("sec", col("ts").cast("long"))
      .withColumn("prev_sec", lag(col("sec"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("sid"), col("event_type"), col("sec"))
    val k = Seq("user_id", "sid")
    val v = sess.filter(col("event_type") === "view")
      .groupBy(k.map(col): _*).agg(min(col("sec")).as("v_sec"))
    val c = sess.filter(col("event_type") === "click").join(v, k)
      .filter(col("sec") > col("v_sec"))
      .groupBy(k.map(col): _*).agg(min(col("sec")).as("c_sec"))
    val p = sess.filter(col("event_type") === "purchase").join(c, k)
      .filter(col("sec") > col("c_sec"))
      .groupBy(k.map(col): _*).agg(min(col("sec")).as("p_sec"))
    val bounds = sess.groupBy(k.map(col): _*)
      .agg(min(col("sec")).as("session_start_sec"))
    v.join(c, k, "left").join(p, k, "left").join(bounds, k)
      .select(col("user_id"), col("sid"), col("session_start_sec"),
        (lit(1) + when(col("c_sec").isNotNull, 1).otherwise(0)
          + when(col("p_sec").isNotNull, 1).otherwise(0)).as("stage"))
      .orderBy(col("user_id"), col("sid"))
  }

  val q178Oracle: String =
    """WITH flagged AS (
      |  SELECT user_id, event_type,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec,
      |    CAST(SUM(CASE WHEN prev IS NULL OR sec2 - prev > 1800 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS sid
      |  FROM (
      |    SELECT user_id, event_id, event_type, ts,
      |      CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec2,
      |      lag(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT))
      |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |    FROM events)),
      |v AS (SELECT user_id, sid, min(sec) AS v_sec FROM flagged
      |      WHERE event_type = 'view' GROUP BY 1, 2),
      |c AS (SELECT f.user_id, f.sid, min(sec) AS c_sec
      |      FROM flagged f JOIN v USING (user_id, sid)
      |      WHERE event_type = 'click' AND sec > v_sec GROUP BY 1, 2),
      |p AS (SELECT f.user_id, f.sid, min(sec) AS p_sec
      |      FROM flagged f JOIN c USING (user_id, sid)
      |      WHERE event_type = 'purchase' AND sec > c_sec GROUP BY 1, 2),
      |b AS (SELECT user_id, sid, min(sec) AS session_start_sec
      |      FROM flagged GROUP BY 1, 2)
      |SELECT v.user_id, v.sid, b.session_start_sec,
      |  1 + CASE WHEN c.c_sec IS NOT NULL THEN 1 ELSE 0 END
      |    + CASE WHEN p.p_sec IS NOT NULL THEN 1 ELSE 0 END AS stage
      |FROM v LEFT JOIN c USING (user_id, sid) LEFT JOIN p USING (user_id, sid)
      |JOIN b USING (user_id, sid)
      |ORDER BY user_id, sid""".stripMargin

  // --------------------------------------------------------------------
  // q180 — CONVERSATION assembly: fold each user's event log into one
  // ordered transcript document — the chat/interaction-format assembly
  // step of a dialog training pipeline (events → "turn" lines →
  // per-conversation document). Turn lines are `event_type#k` (the
  // JSON props key; the double `value` stays out of the text so no
  // float-to-string formatting contract is needed), ordered by
  // microsecond event time with event_id as the total-order tiebreak;
  // the fold is collect_list + one array_sort on a (us, event_id,
  // line) struct — sorts lexicographically by field order, so the
  // struct IS the sort key.
  // Scale notes (100 TB): one shuffle (groupBy user); per-group state
  // is the user's own turn list — the same bound any transcript
  // assembly has to hold in memory to emit a document. No window.
  def q180ConversationAssembly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"),
      concat_ws("#", col("event_type"),
        coalesce(get_json_object(col("props"), "$.k"), lit("-"))).as("line"))
    ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_turns"),
        array_join(transform(
          array_sort(collect_list(struct(col("us"), col("event_id"), col("line")))),
          s => s("line")), " | ").as("transcript"))
      .orderBy(col("user_id"))
  }

  val q180Oracle: String =
    """SELECT user_id, COUNT(*) AS n_turns,
      |  string_agg(
      |    event_type || '#' || COALESCE(json_extract_string(props, '$.k'), '-'),
      |    ' | ' ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
      |    AS transcript
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  def registry: Seq[Query] = Seq(
    Query("q180_conversation_assembly", q180ConversationAssembly, q180Oracle),
    Query("q178_session_funnel", q178SessionFunnel, q178Oracle),
    Query("q176_rate_anomalies", q176RateAnomalies, q176Oracle),
    Query("q173_decayed_value", q173DecayedValue, q173Oracle),
    Query("q174_group_trend", q174GroupTrend, q174Oracle),
    Query("q142_trailing_wau", q142TrailingWau, q142Oracle),
    Query("q130_transitions", q130Transitions, q130Oracle),
    Query("q132_hopping_windows", q132HoppingWindows, q132Oracle),
    Query("q124_regex_extract", q124RegexExtract, q124Oracle),
    Query("q126_type_signature", q126TypeSignature, q126Oracle),
    Query("q23_event_windows", q23EventWindows, q23Oracle),
    Query("q24_sessionization", q24Sessionization, q24Oracle),
    Query("q25_json_extract", q25JsonExtract, q25Oracle),
    Query("q98_funnel", q98Funnel, q98Oracle),
    Query("q99_retention", q99Retention, q99Oracle),
    Query("q105_incremental_agg", q105IncrementalAgg, q105Oracle),
    Query("q162_retractable_agg", q162RetractableAgg, q162Oracle))
}
