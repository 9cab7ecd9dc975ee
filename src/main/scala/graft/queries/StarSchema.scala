package graft.queries

import graft.SparkEntry.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Calendar
import graft.sources.Tables
import graft.queries.Relational.{exprSum, moneySum}

/** Warehouse-shaped queries: the generated calendar dimension, surrogate
  * keys, role-playing dimension joins, window functions, and grouping
  * sets — the star-schema mechanics of the reference ETL (SURVEY §1.2,
  * §2.5 J23-J26, §2.9) plus the analytics layer the warehouse feeds.
  */
object StarSchema {

  /** Date span covering every date column in the testdata. */
  private val CalStart = "1992-01-01"
  private val CalEnd = "1998-12-31"

  /** Spanish-name CASE chains for the DuckDB oracle, mirroring
    * [[Calendar.spanishDayName]] / [[Calendar.spanishMonthName]].
    * DuckDB `dayofweek` is 0=Sunday; Spark's is 1=Sunday, hence the +1.
    */
  private val DowSql = "(dayofweek(fecha) + 1)"
  private val DiaSemanaSql =
    s"""CASE $DowSql WHEN 1 THEN 'Domingo' WHEN 2 THEN 'Lunes'
       | WHEN 3 THEN 'Martes' WHEN 4 THEN 'Miércoles' WHEN 5 THEN 'Jueves'
       | WHEN 6 THEN 'Viernes' WHEN 7 THEN 'Sábado' END""".stripMargin
  private val MesSql =
    """CASE month(fecha) WHEN 1 THEN 'enero' WHEN 2 THEN 'febrero'
      | WHEN 3 THEN 'marzo' WHEN 4 THEN 'abril' WHEN 5 THEN 'mayo'
      | WHEN 6 THEN 'junio' WHEN 7 THEN 'julio' WHEN 8 THEN 'agosto'
      | WHEN 9 THEN 'septiembre' WHEN 10 THEN 'octubre'
      | WHEN 11 THEN 'noviembre' WHEN 12 THEN 'diciembre' END""".stripMargin
  private val CalendarSql =
    s"""SELECT CAST(unnest(generate_series(DATE '$CalStart', DATE '$CalEnd', INTERVAL 1 DAY)) AS DATE) AS fecha"""

  // --------------------------------------------------------------------
  // q16 — generated calendar dimension (SURVEY §2.1 S7 + §2.8 F7-F9):
  // in-engine `sequence`+`explode`, Spanish day/month names, weekend
  // flag. No driver-side loop — works at any span.
  def q16DateDim(spark: SparkSession, dir: String): DataFrame =
    Calendar.dimFecha(spark, CalStart, CalEnd).orderBy(col("fecha"))

  val q16Oracle: String =
    s"""SELECT fecha,
       |  CAST(year(fecha) AS INTEGER) AS anio,
       |  CAST(month(fecha) AS INTEGER) AS mes_numero,
       |  $MesSql AS mes,
       |  CAST(day(fecha) AS INTEGER) AS dia_numero,
       |  $DiaSemanaSql AS dia_semana,
       |  $DowSql IN (1, 7) AS es_fin_de_semana
       |FROM ($CalendarSql) ORDER BY fecha""".stripMargin

  // --------------------------------------------------------------------
  // q17 — surrogate-keyed star fact (SURVEY §1.2): dim_fecha gets
  // dense keys (day offset from span start == row_number over fecha,
  // computed windowless); the fact joins natural date → fecha_id,
  // collapsing the reference's write→read-back round-trip into one
  // in-engine step. Dim is broadcast.
  def q17SurrogateFact(spark: SparkSession, dir: String): DataFrame = {
    val dimFecha = Calendar.withFechaId(
      Calendar.dimFecha(spark, CalStart, CalEnd), CalStart)
      .select(col("fecha_id"), col("fecha"))
    val o = Tables.orders(spark, dir)
    o.join(broadcast(dimFecha), o("o_orderdate").cast("date") === dimFecha("fecha"))
      .select(col("o_orderkey"), col("fecha_id"),
        col("o_custkey").as("cliente_id"),
        col("o_totalprice").as("valor_pagado"))
      .orderBy(col("o_orderkey"))
  }

  val q17Oracle: String =
    s"""WITH dim_fecha AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY fecha) AS INTEGER) AS fecha_id, fecha
       |  FROM ($CalendarSql))
       |SELECT o_orderkey, fecha_id, o_custkey AS cliente_id,
       |  o_totalprice AS valor_pagado
       |FROM orders JOIN dim_fecha ON CAST(o_orderdate AS DATE) = fecha
       |ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // q18 — role-playing dimension: the same dim_fecha joined twice under
  // different roles (SURVEY §2.5 J23-J26: request/attention date+hour).
  def q18RolePlayingDates(spark: SparkSession, dir: String): DataFrame = {
    val dimFecha = Calendar.withFechaId(
      Calendar.dimFecha(spark, CalStart, CalEnd), CalStart)
      .select(col("fecha_id"), col("fecha"))
    val pedido = dimFecha.select(col("fecha_id").as("fecha_pedido_id"), col("fecha").as("f1"))
    val envio = dimFecha.select(col("fecha_id").as("fecha_envio_id"), col("fecha").as("f2"))
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(pedido), o("o_orderdate").cast("date") === col("f1"))
      .join(broadcast(envio), li("l_shipdate").cast("date") === col("f2"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("fecha_pedido_id"), col("fecha_envio_id"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val q18Oracle: String =
    s"""WITH dim_fecha AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY fecha) AS INTEGER) AS fecha_id, fecha
       |  FROM ($CalendarSql))
       |SELECT l_orderkey, l_linenumber,
       |  p.fecha_id AS fecha_pedido_id, e.fecha_id AS fecha_envio_id
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN dim_fecha p ON CAST(o_orderdate AS DATE) = p.fecha
       |JOIN dim_fecha e ON CAST(l_shipdate AS DATE) = e.fecha
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // --------------------------------------------------------------------
  // q19 — ranking window: top-3 customers by spend per nation
  // (SURVEY §2.9: the analytics layer's Window.partitionBy.orderBy).
  // Ties broken by c_custkey so the rank is total.
  def q19TopPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir).groupBy(col("o_custkey"))
      .agg(moneySum(col("o_totalprice")).as("total_spend"))
    val c = Tables.customer(spark, dir)
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("total_spend").desc, col("c_custkey"))
    c.join(spend, c("c_custkey") === spend("o_custkey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("c_nationkey"), col("rk"), col("c_custkey"), col("total_spend"))
      .orderBy(col("c_nationkey"), col("rk"))
  }

  val q19Oracle: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      |  FROM orders GROUP BY o_custkey)
      |SELECT c_nationkey, rk, c_custkey, total_spend FROM (
      |  SELECT c_nationkey, c_custkey, total_spend,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |      ORDER BY total_spend DESC, c_custkey) AS INTEGER) AS rk
      |  FROM customer JOIN spend ON c_custkey = o_custkey)
      |WHERE rk <= 3 ORDER BY c_nationkey, rk""".stripMargin

  // --------------------------------------------------------------------
  // q241 — correlated LATERAL subquery with LIMIT: the declarative
  // "top-k matches per driving row" form. Naively this is a nested
  // loop (one ordered sub-scan per part); Catalyst's DecorrelateInnerQuery
  // must rewrite it into a row_number window over the fact keyed by
  // the correlation column + an EQUI-join back to the driving table —
  // LateralTopkSpec locks the decorrelated shape (Window + equi-join,
  // no nested loop). The full tiebreak in the lateral ORDER BY
  // (price, orderkey, linenumber) makes the selected rows unique, so
  // both engines pick identical top-2 sets. DuckDB executes the SAME
  // lateral SQL — the gate proves the decorrelation is
  // semantics-preserving against an engine that runs laterals
  // natively.
  // Scale notes (100 TB): the decorrelated plan is one hash shuffle
  // of the fact on the correlation key + a per-key sorted limit —
  // same cost class as q19; the lateral FORM costs nothing extra
  // once decorrelated, which is exactly what the spec pins.
  def q241LateralTopk(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir).createOrReplaceTempView("g241_part")
    Tables.lineitem(spark, dir).createOrReplaceTempView("g241_li")
    spark.sql(
      """SELECT p.p_partkey, p.p_brand, t.l_orderkey, t.l_extendedprice
        |FROM g241_part p, LATERAL (
        |  SELECT l_orderkey, l_extendedprice FROM g241_li
        |  WHERE g241_li.l_partkey = p.p_partkey
        |  ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |  LIMIT 2) t
        |WHERE p.p_size = 1
        |ORDER BY p.p_partkey, t.l_extendedprice DESC, t.l_orderkey"""
        .stripMargin)
  }

  val q241Oracle: String =
    """SELECT p.p_partkey, p.p_brand, t.l_orderkey, t.l_extendedprice
      |FROM part p, LATERAL (
      |  SELECT l_orderkey, l_extendedprice FROM lineitem li
      |  WHERE li.l_partkey = p.p_partkey
      |  ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |  LIMIT 2) t
      |WHERE p.p_size = 1
      |ORDER BY p_partkey, l_extendedprice DESC, l_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // q20 — running total window (cumulative sum per customer over order
  // date). The cumulative DECIMAL sum is exact at every prefix, so the
  // result is order-of-evaluation independent.
  def q20RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"),
      sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .over(w).cast("double").as("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q20Oracle: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // q21 — ROLLUP over the region→nation hierarchy; q22 — CUBE over
  // status×priority (SURVEY §7.1 step 6 analytics). Group keys are
  // COALESCEd to 'ALL' so no null sort keys cross the Spark/DuckDB
  // null-ordering difference.
  def q21Rollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), moneySum(col("c_acctbal")).as("sum_acctbal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nacion"),
        col("n_customers"), col("sum_acctbal"))
      .orderBy(col("region"), col("nacion"))
  }

  val q21Oracle: String =
    """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nacion,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY region, nacion""".stripMargin

  def q22Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("sum_total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("estado"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("prioridad"),
        col("n_orders"), col("sum_total"))
      .orderBy(col("estado"), col("prioridad"))

  val q22Oracle: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS estado,
      |  COALESCE(o_orderpriority, 'ALL') AS prioridad,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY estado, prioridad""".stripMargin

  // --------------------------------------------------------------------
  // q44 — pivot / crosstab: yearly order counts and exact money totals
  // spread across status columns. The pivot value list is explicit, so
  // the output schema is static (required at scale: no extra pass to
  // discover values, and the oracle schema is deterministic).
  def q44Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("anio"))
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
      .na.fill(0L, Seq("O_n", "F_n", "P_n"))
      .na.fill(0.0, Seq("O_total", "F_total", "P_total"))
      .orderBy(col("anio"))

  val q44Oracle: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS anio,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O_n",
      |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE), 0.0) AS "O_total",
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F_n",
      |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE), 0.0) AS "F_total",
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P_n",
      |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE), 0.0) AS "P_total"
      |FROM orders GROUP BY 1 ORDER BY anio""".stripMargin

  // --------------------------------------------------------------------
  // q117 — unpivot / melt (q44's inverse): a wide per-day metrics table
  // turned into long (day, metric, value) form via Dataset.unpivot —
  // the wide→long reshape every metrics export needs. All measures are
  // cast to DOUBLE first (unpivot requires a common value type); the
  // oracle replays as the dialect-neutral UNION ALL of one SELECT per
  // metric.
  // Scale notes (100 TB): unpivot is a scan-side Expand (rows × k
  // metrics) over the already-aggregated table — no shuffle beyond the
  // day aggregate that builds the wide input.
  def q117Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.events(spark, dir)
      .groupBy(expr("CAST(ts AS LONG) DIV 86400").as("day"))
      .agg(count(lit(1)).cast("double").as("n_events"),
        countDistinct(col("user_id")).cast("double").as("n_users"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(24, 6)))
          .cast("double").as("sum_value"))
    wide.unpivot(Array(col("day")),
        Array(col("n_events"), col("n_users"), col("sum_value")),
        "metric", "value")
      .orderBy(col("day"), col("metric"))
  }

  val q117Oracle: String =
    """WITH d AS (
      |  SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400
      |      AS day,
      |    CAST(COUNT(*) AS DOUBLE) AS n_events,
      |    CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users,
      |    CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1)
      |SELECT day, metric, value FROM (
      |  SELECT day, 'n_events' AS metric, n_events AS value FROM d
      |  UNION ALL SELECT day, 'n_users', n_users FROM d
      |  UNION ALL SELECT day, 'sum_value', sum_value FROM d)
      |ORDER BY day, metric""".stripMargin

  // --------------------------------------------------------------------
  // q118 — the ranking-window surface: lag, lead, percent_rank,
  // cume_dist and ntile in one pass over a per-group total order
  // (event_type, ordered by value with the event_id tie-break that
  // makes every rank deterministic). The rank-based functions are
  // frame-independent and the offset functions are position-based, so
  // no frame pinning is needed — but the ORDER BY must be unique or
  // the engines may disagree on peers.
  // Scale notes (100 TB): one hash shuffle on the group key + the
  // per-group sort; all five functions ride the same window — Spark
  // evaluates them in a single WindowExec pass.
  def q118WindowSurface(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("prev_v", lag(col("value"), 1).over(w))
      .withColumn("next_v", lead(col("value"), 1).over(w))
      .withColumn("pct", round(percent_rank().over(w), 6))
      .withColumn("cd", round(cume_dist().over(w), 6))
      .withColumn("tile", ntile(4).over(w))
      .orderBy(col("event_id"))
  }

  val q118Oracle: String =
    """SELECT event_id, event_type, value,
      |  lag(value) OVER w AS prev_v,
      |  lead(value) OVER w AS next_v,
      |  round(percent_rank() OVER w, 6) AS pct,
      |  round(cume_dist() OVER w, 6) AS cd,
      |  CAST(ntile(4) OVER w AS INTEGER) AS tile
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
      |ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------------
  // q150 — late-arriving dimension (inferred members): facts reference
  // customers the dimension does not know yet (simulated by hiding
  // every 10th customer), and the warehouse must NOT drop or stall
  // those facts — it synthesizes a placeholder member per unknown
  // natural key ('_INFERRED_' segment), loads facts against the
  // augmented dimension, and reports resolution per segment so the
  // backfill job can find the placeholders later. This is the Kimball
  // inferred-member pattern; the reference's J7→J12 chain silently
  // DROPS such facts (q06 pins that trap) — this is the corrected
  // form a production warehouse runs.
  // Scale notes (100 TB): unknown keys come from one anti join on the
  // dim key (facts-sized shuffle, dim side broadcast when it fits);
  // placeholders are distinct-key-sized (tiny); the fact load joins
  // against the augmented dim exactly as before — no second pass over
  // history when the real member arrives, only a dim UPDATE.
  def q150LateDimension(spark: SparkSession, dir: String): DataFrame = {
    val known = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 10 =!= 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    val orders = Tables.orders(spark, dir)
    val placeholders = orders.select(col("o_custkey").as("c_custkey"))
      .distinct()
      .join(known, Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), lit("_INFERRED_").as("c_mktsegment"))
    val dim = known.unionByName(placeholders)
    orders.join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segmento"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        graft.queries.Relational.moneySum(col("o_totalprice")).as("total"))
      .orderBy(col("segmento"))
  }

  val q150Oracle: String =
    """WITH known AS (
      |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 10 <> 0),
      |ph AS (
      |  SELECT DISTINCT o_custkey AS c_custkey, '_INFERRED_' AS c_mktsegment
      |  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM known)),
      |dim AS (SELECT * FROM known UNION ALL SELECT * FROM ph)
      |SELECT c_mktsegment AS segmento, COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders JOIN dim ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY segmento""".stripMargin

  def registry: Seq[Query] = Seq(
    Query("q150_late_dimension", q150LateDimension, q150Oracle),
    Query("q117_unpivot", q117Unpivot, q117Oracle),
    Query("q118_window_surface", q118WindowSurface, q118Oracle),
    Query("q44_pivot", q44Pivot, q44Oracle),
    Query("q16_date_dim", q16DateDim, q16Oracle),
    Query("q17_surrogate_fact", q17SurrogateFact, q17Oracle),
    Query("q18_role_playing_dates", q18RolePlayingDates, q18Oracle),
    Query("q19_top_per_group", q19TopPerGroup, q19Oracle),
    Query("q241_lateral_topk", q241LateralTopk, q241Oracle),
    Query("q20_running_total", q20RunningTotal, q20Oracle),
    Query("q21_rollup", q21Rollup, q21Oracle),
    Query("q22_cube", q22Cube, q22Oracle))
}
