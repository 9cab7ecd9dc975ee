package graft.queries

import graft.SparkEntry.Query
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Core relational queries over the testdata star schema, covering the
  * reference's operator inventory (SURVEY.md §2) re-expressed on the
  * TPC-H-ish tables so the driver's DuckDB oracle can check them.
  *
  * Each query has a matching DuckDB oracle in [[Relational.registry]];
  * the pair must produce bit-identical sorted results (driver gate).
  *
  * Determinism rules used throughout (oracle hash-compare is exact):
  *   - money aggregates go through DECIMAL so the sum is exact and
  *     order-independent, then cast to DOUBLE for a stable final type;
  *   - every query ends in a total order on a unique key set;
  *   - column names are aliased identically on both sides.
  */
object Relational {

  /** Exact, order-independent sum of a double money column: cast each
    * value to DECIMAL(18,2) (exact at source precision), sum exactly,
    * surface as DOUBLE. Matches `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS
    * DOUBLE)` in DuckDB bit-for-bit.
    */
  def moneySum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact sum of a per-row double expression, rounded to 6 decimals
    * per row before the (exact) decimal sum. The per-row double math is
    * IEEE-deterministic; the DECIMAL(24,6) cast rounds identically in
    * Spark and DuckDB (binary doubles never land exactly on a decimal
    * midpoint beyond 1 fractional digit).
    */
  def exprSum(c: Column): Column = sum(c.cast(DecimalType(24, 6))).cast("double")

  // --------------------------------------------------------------------
  // q01 — pricing summary (groupBy + multi-agg + filter; TPC-H Q1 shape).
  // Covers SURVEY §2.7 aggregation plus the filter the query layer adds
  // (§2.4 note). Filter + column pruning reach the parquet scan.
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        exprSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        exprSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        (moneySum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (moneySum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q01Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --------------------------------------------------------------------
  // q02 — projection / rename / computed column / drop (SURVEY §2.3
  // P1-P5). `round` before the int cast because Spark truncates
  // double→bigint while DuckDB rounds; round()+cast agrees on both.
  def q02ProjectRename(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .withColumnRenamed("p_partkey", "part_id")
      .withColumn("retail_cents", round(col("p_retailprice") * 100).cast("bigint"))
      .drop("p_retailprice", "p_type", "p_size")
      .select(col("part_id"), col("p_name"), col("p_brand"), col("retail_cents"))
      .orderBy(col("part_id"))

  val q02Oracle: String =
    """SELECT p_partkey AS part_id, p_name, p_brand,
      |  CAST(ROUND(p_retailprice * 100) AS BIGINT) AS retail_cents
      |FROM part ORDER BY part_id""".stripMargin

  // --------------------------------------------------------------------
  // q03 — standalone filter (SURVEY §2.4: the query layer exposes
  // `filter` even though the reference only had join/CASE predicates).
  // Both predicates push down to the parquet scan.
  def q03Filter(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "O" &&
        col("o_totalprice") > 1000.0 &&
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  val q03Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderstatus = 'O' AND o_totalprice > 1000.0
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // q04 — star join: fact ⋈ 4 dims (SURVEY §2.5 J1-J4 shape). The dim
  // sides are small → Catalyst plans BroadcastHashJoin for every hop;
  // at 100 TB only the lineitem scan shuffles (for the final groupBy).
  def q04StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        exprSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q04Oracle: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // --------------------------------------------------------------------
  // q05 — left join + na.fill (SURVEY §2.5 J11 + §2.8 F6: self-employed
  // members get empresa_id 0; here customers without orders get 0.0).
  def q05LeftJoinFill(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(moneySum(col("o_totalprice")).as("total_spend"),
        count(lit(1)).as("n_orders"))
    c.join(perCust, c("c_custkey") === perCust("o_custkey"), "left")
      .na.fill(0.0, Seq("total_spend")).na.fill(0L, Seq("n_orders"))
      .select(col("c_custkey"), col("c_name"), col("total_spend"), col("n_orders"))
      .orderBy(col("c_custkey"))
  }

  val q05Oracle: String =
    """SELECT c_custkey, c_name,
      |  COALESCE(t.total_spend, 0.0) AS total_spend,
      |  COALESCE(t.n_orders, 0) AS n_orders
      |FROM customer
      |LEFT JOIN (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY o_custkey) t ON c_custkey = t.o_custkey
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------------
  // q06 — left join whose nulls are silently dropped by a later inner
  // join: the J7→J12 / J27→J28 semantics trap (SURVEY §7.4). Orders
  // left-join a filtered customer subset, then inner-join nation on the
  // (possibly null) c_nationkey — non-BUILDING orders vanish.
  def q06LeftThenInner(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val cb = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
    val n = Tables.nation(spark, dir)
    o.join(cb, o("o_custkey") === cb("c_custkey"), "left")
      .join(n, cb("c_nationkey") === n("n_nationkey"))
      .select(col("o_orderkey"), col("c_custkey"), col("n_name"))
      .orderBy(col("o_orderkey"))
  }

  val q06Oracle: String =
    """SELECT o_orderkey, c_custkey, n_name
      |FROM orders
      |LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
      |  ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // q07 — surrogate-key dimension + multi-column natural-key lookup
  // (SURVEY §1.2 + §2.5 J5: dim_demografica joined back on its full
  // attribute set). row_number over a canonical order replaces the
  // reference's write→read-back SERIAL round-trip. The dim is tiny;
  // the join back is a broadcast.
  def q07NaturalKeyLookup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val dim = graft.etl.SurrogateKeys.assign(
      c.select(col("c_nationkey"), col("c_mktsegment")).distinct(),
      "demo_id", col("c_nationkey"), col("c_mktsegment"))
    c.join(broadcast(dim), Seq("c_nationkey", "c_mktsegment"))
      .select(col("c_custkey"), col("demo_id"))
      .orderBy(col("c_custkey"))
  }

  val q07Oracle: String =
    """WITH dim AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(ROW_NUMBER() OVER (ORDER BY c_nationkey, c_mktsegment) AS INTEGER) AS demo_id
      |  FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer))
      |SELECT c.c_custkey, dim.demo_id
      |FROM customer c
      |JOIN dim ON c.c_nationkey = dim.c_nationkey AND c.c_mktsegment = dim.c_mktsegment
      |ORDER BY c.c_custkey""".stripMargin

  // --------------------------------------------------------------------
  // q08 — positional union after drop/rename/lit schema alignment
  // (SURVEY §2.6 U2: the 4-way service union). Column ORDER carries the
  // semantics, exactly like the reference's `union`.
  def q08UnionPositional(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def branch(status: String, label: String): DataFrame =
      o.filter(col("o_orderstatus") === status)
        .withColumnRenamed("o_orderkey", "codigo")
        .withColumn("tipo_servicio", lit(label))
        .select(col("codigo"), col("o_custkey"), col("o_totalprice"), col("tipo_servicio"))
    branch("O", "open").union(branch("F", "finished")).union(branch("P", "pending"))
      .orderBy(col("codigo"))
  }

  val q08Oracle: String =
    """SELECT o_orderkey AS codigo, o_custkey, o_totalprice, 'open' AS tipo_servicio
      |  FROM orders WHERE o_orderstatus = 'O'
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_totalprice, 'finished' FROM orders WHERE o_orderstatus = 'F'
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_totalprice, 'pending' FROM orders WHERE o_orderstatus = 'P'
      |ORDER BY codigo""".stripMargin

  // --------------------------------------------------------------------
  // q09 — unionByName with mismatched column order (SURVEY §2.6 U1:
  // contributors+beneficiaries → dim_usuario after rename-align).
  def q09UnionByName(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val a = c.filter(col("c_nationkey") < 12)
      .select(col("c_custkey").as("usuario_id"), col("c_name").as("nombre"),
        lit("cotizante").as("tipo_usuario"))
    val b = c.filter(col("c_nationkey") >= 12)
      .select(lit("beneficiario").as("tipo_usuario"),
        col("c_name").as("nombre"), col("c_custkey").as("usuario_id"))
    a.unionByName(b).orderBy(col("usuario_id"))
  }

  val q09Oracle: String =
    """SELECT c_custkey AS usuario_id, c_name AS nombre, 'cotizante' AS tipo_usuario
      |  FROM customer WHERE c_nationkey < 12
      |UNION ALL
      |SELECT c_custkey, c_name, 'beneficiario' FROM customer WHERE c_nationkey >= 12
      |ORDER BY usuario_id""".stripMargin

  // --------------------------------------------------------------------
  // q10 — dropDuplicates / distinct (SURVEY §2.7 A1/A2: every dimension
  // ends with an all-column dedup). Map-side partial aggregation makes
  // this a single shuffle of the already-projected columns.
  def q10DedupDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_mktsegment"))
      .dropDuplicates()
      .distinct() // idempotent second dedup, as in dimension.py:139-140
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  val q10Oracle: String =
    """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  // --------------------------------------------------------------------
  // q11 — split + explode (SURVEY §2.8 F1/F2: the prescription-grain
  // explode). One output row per word, then re-aggregated.
  def q11SplitExplode(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .withColumn("word", explode(split(col("p_name"), " ")))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("word"))

  val q11Oracle: String =
    """SELECT word, COUNT(*) AS n FROM (
      |  SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
      |GROUP BY word ORDER BY word""".stripMargin

  // --------------------------------------------------------------------
  // q12 — multi-branch CASE-WHEN repair + int→bool (SURVEY §2.8 F4/F5:
  // the mojibake city-name repair and proviene_otra_eps flag).
  def q12CaseWhen(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir).select(
      col("n_nationkey"),
      when(col("n_name") === "FRANCE", "Francia")
        .when(col("n_name") === "GERMANY", "Alemania")
        .when(col("n_name") === "BRAZIL", "Brasil")
        .when(col("n_name") === "UNITED STATES", "Estados Unidos")
        .when(col("n_name") === "JAPAN", "Japón")
        .when(col("n_name") === "PERU", "Perú")
        .when(col("n_name") === "ARGENTINA", "Argentina")
        .when(col("n_name") === "CANADA", "Canadá")
        .when(col("n_name") === "SPAIN", "España")
        .otherwise(col("n_name")).as("nombre_es"),
      (when(col("n_regionkey") === 1, true).otherwise(false)).as("es_america"))
      .orderBy(col("n_nationkey"))

  val q12Oracle: String =
    """SELECT n_nationkey,
      |  CASE n_name
      |    WHEN 'FRANCE' THEN 'Francia' WHEN 'GERMANY' THEN 'Alemania'
      |    WHEN 'BRAZIL' THEN 'Brasil' WHEN 'UNITED STATES' THEN 'Estados Unidos'
      |    WHEN 'JAPAN' THEN 'Japón' WHEN 'PERU' THEN 'Perú'
      |    WHEN 'ARGENTINA' THEN 'Argentina' WHEN 'CANADA' THEN 'Canadá'
      |    WHEN 'SPAIN' THEN 'España' ELSE n_name END AS nombre_es,
      |  n_regionkey = 1 AS es_america
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // --------------------------------------------------------------------
  // q13 — semi join: rows with a match, right side never duplicated
  // (EXISTS). q14 — anti join (NOT EXISTS).
  def q13SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val bigOrders = Tables.orders(spark, dir).filter(col("o_totalprice") > 50000.0)
    c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val q13Oracle: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 50000.0)
      |ORDER BY c_custkey""".stripMargin

  def q14AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val q14Oracle: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------------
  // q15 — scalar string/date functions (SURVEY §2.8 F10/F11 plus the
  // string repertoire the query layer adds).
  def q15ScalarFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("fecha_str"),
      year(col("o_orderdate")).as("anio"),
      month(col("o_orderdate")).as("mes_numero"),
      dayofmonth(col("o_orderdate")).as("dia_numero"),
      concat(upper(col("o_orderstatus")), lit("-"), trim(col("o_orderpriority"))).as("etiqueta"),
      substring(col("o_orderpriority"), 1, 1).as("prioridad_num"),
      length(col("o_orderpriority")).as("prio_len"))
      .orderBy(col("o_orderkey"))

  val q15Oracle: String =
    """SELECT o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS fecha_str,
      |  CAST(year(o_orderdate) AS INTEGER) AS anio,
      |  CAST(month(o_orderdate) AS INTEGER) AS mes_numero,
      |  CAST(day(o_orderdate) AS INTEGER) AS dia_numero,
      |  upper(o_orderstatus) || '-' || trim(o_orderpriority) AS etiqueta,
      |  substring(o_orderpriority, 1, 1) AS prioridad_num,
      |  CAST(length(o_orderpriority) AS INTEGER) AS prio_len
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // q243 — AQE RUNTIME skew-join mitigation: the brief's third answer
  // to key skew after manual salting (q50/q51) and the skew REPORT
  // (q177) — the engine one. A hot key (90% of fact rows) lands one
  // reduce partition orders of magnitude above the median; AQE's
  // OptimizeSkewedJoin reads the real map-output statistics at
  // runtime and splits that partition across map-index ranges, each
  // split joining the (replicated) dim side — no salting column, no
  // query rewrite (AqeSkewSpec locks `SortMergeJoin(skew=true)` and
  // the `skewed` AQEShuffleRead in the final adaptive plan). The
  // consumer is exchange-free below the join (a post-join filter,
  // never a groupBy/orderBy) because a downstream redistribution
  // would make the split's partitioning moot — that placement IS part
  // of the pattern. The driver gate sorts rows itself, so no final
  // ORDER BY is needed.
  // Derived-session knobs are fixture-scale only: the 256 MB/5x
  // defaults fire naturally on a real hot key at 100 TB; the 1 KB
  // threshold here keeps even the 6 k-row spec fixture (further
  // thinned by the pushed-down %7 filter) above the skew bar. The
  // repartition(8) gives the join shuffle multiple map outputs —
  // split granularity is the map index, so a single-mapper stage
  // (one parquet file at fixture scale) could never split.
  // Scale notes (100 TB): this is THE zero-touch skew answer — the
  // salting queries document the manual fallback for engines without
  // runtime stats; AQE replans from observed sizes, handling drift
  // (today's hot key is not yesterday's) with no pipeline change.
  def q243AqeSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.isolated(spark)
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "1KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    skewJoin(s, dir)
  }

  /** The skewed join on the caller's session — exposed so AqeSkewSpec
    * can assert the FINAL adaptive plan after execution. */
  private[graft] def skewJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = graft.sources.Tables.events(s, dir)
      .select(col("event_id")).repartition(8)
      .withColumn("k", when(col("event_id") % 10 < 9, lit(0L))
        .otherwise(col("event_id") % 997))
    val dim = s.range(0, 997).toDF("k")
      .withColumn("grp", col("k") % 10)
    fact.join(dim, Seq("k"))
      .filter(col("event_id") % 7 === 0)
      .select(col("event_id"), col("k"), col("grp"))
  }

  val q243Oracle: String =
    """WITH f AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 10 < 9 THEN 0
      |         ELSE event_id % 997 END AS k
      |  FROM events),
      |d AS (
      |  SELECT CAST(unnest(range(0, 997)) AS BIGINT) AS k)
      |SELECT event_id, f.k, f.k % 10 AS grp
      |FROM f JOIN d ON f.k = d.k
      |WHERE event_id % 7 = 0""".stripMargin

  // --------------------------------------------------------------------
  // q242 — COST-BASED join reordering: every other optimization the
  // registry pins is rule-based; this one needs STATISTICS. The query
  // is written in the worst order — fact-first, the selective dim
  // last — and with CBO + ANALYZE'd column stats Catalyst must
  // reorder the join tree to build the small intermediate first
  // (orders against the filtered customer segment) before touching
  // lineitem; without stats the left-to-right order stands
  // (CboReorderSpec locks both shapes). Broadcast is disabled so
  // intermediate SIZE is what the optimizer is reasoning about — the
  // 100 TB case where every side shuffles and a wrong order
  // materializes a fact-sized intermediate.
  // The tables are written once per dataset into the metastore
  // (external, data under the session tmp dir) and ANALYZE ... FOR
  // ALL COLUMNS computes the row counts + NDVs + min/max the
  // reorderer consumes — the nightly-stats ritual every warehouse
  // runs.
  // Scale notes (100 TB): join order is THE cost lever on multi-way
  // star joins — (fact ⋈ fact-sized) ⋈ tiny vs fact ⋈ (tiny join)
  // differ by orders of magnitude in shuffle bytes; stats-driven
  // reorder is how the engine gets it right without hand-tuning
  // every query.
  def q242CboReorder(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.isolated(spark)
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    cboTables(s, dir)
    cboJoin(s, dir)
  }

  /** Dataset discriminator baked into the METASTORE TABLE NAMES, not
    * just the stats-done marker: the metastore is JVM-global, so a
    * globally-named table written for dataset A then rebuilt for
    * dataset B would let A's still-present marker answer A's next
    * invocation with B's rows. Name-scoping makes (table, dataset) a
    * bijection — the marker and the table it guards can never refer
    * to different datasets.
    */
  private[graft] def cboSuffix(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
  }

  /** Write + ANALYZE the three join sides (idempotent per dataset).
    * Exposed for CboReorderSpec. */
  private[graft] def cboTables(s: SparkSession, dir: String): Unit = {
    val sfx = cboSuffix(dir)
    val base = s"${sys.props("java.io.tmpdir")}/graft_cbo_" +
      s"${s.sparkContext.applicationId}_${math.abs(dir.hashCode)}"
    // stats only for what the reorderer consumes: row counts plus
    // NDV/min-max on the join keys and the filter column — FOR ALL
    // COLUMNS would re-scan for stats nothing reads. Idempotent per
    // (JVM, dataset): the nightly stats ritual runs once, every later
    // query consumes the stats — a repeat invocation re-joining is the
    // steady state (the marker is session-tmp-scoped like the data, so
    // a fresh JVM always rebuilds; the testdata is immutable).
    def save(df: DataFrame, table: String, statCols: String): Unit = {
      val marker = new java.io.File(s"$base/${table}__stats_done")
      if (marker.exists() && s.catalog.tableExists(table)) return
      s.sql(s"DROP TABLE IF EXISTS $table")
      df.write.mode("overwrite").format("parquet")
        .option("path", s"$base/$table").saveAsTable(table)
      s.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR COLUMNS $statCols")
      marker.getParentFile.mkdirs()
      marker.createNewFile()
    }
    save(graft.sources.Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity")), s"graft_q242_li_$sfx",
      "l_orderkey")
    save(graft.sources.Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey")), s"graft_q242_o_$sfx",
      "o_orderkey, o_custkey")
    save(graft.sources.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment")), s"graft_q242_c_$sfx",
      "c_custkey, c_mktsegment")
  }

  /** The deliberately badly-ordered 3-way join. Exposed for
    * CboReorderSpec's with/without-stats plan comparison. */
  private[graft] def cboJoin(s: SparkSession, dir: String): DataFrame = {
    val sfx = cboSuffix(dir)
    s.sql(
      s"""SELECT c_mktsegment, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE)
        |    AS sum_qty
        |FROM graft_q242_li_$sfx
        |JOIN graft_q242_o_$sfx ON l_orderkey = o_orderkey
        |JOIN graft_q242_c_$sfx ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  val q242Oracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------------
  // q237 — RUNTIME bloom-filter join pruning: the third pruning
  // mechanism after static partition pruning (q63) and dynamic
  // partition pruning (q145), and the only one that works when the
  // join key is NOT the partition column and the dim is too large to
  // broadcast. Catalyst's InjectRuntimeFilter turns the selective dim
  // filter into a bloom_filter_agg scalar subquery and plants
  // might_contain(xxhash64(l_partkey)) on the fact side BELOW the
  // shuffle, so fact rows that cannot match never enter the exchange
  // (RuntimeFilterSpec locks both halves in the optimized plan).
  // False positives only weaken the pre-filter — the join still
  // verifies equality, so results are exact and the driver hash gate
  // is untouched.
  // The derived session (the streaming precedent for conf isolation)
  // sets the fixture-scale knobs: the application-side scan threshold
  // is 10 GB by default — a REAL fact table passes it naturally, the
  // 60 MB fixture must waive it — and broadcast is disabled because a
  // broadcast join needs no runtime filter (the fixture dim would
  // broadcast; the 100 TB shape this query pins is the
  // too-big-to-broadcast dim joined through a shuffle).
  // Scale notes (100 TB): on a shuffle join, every fact row pays
  // serialize+exchange before a non-matching key is discarded; the
  // bloom filter moves that discard to the scan for the cost of one
  // ~8 MB broadcast bitmap. This is the standard semi-join reduction
  // for fact-to-large-dim joins.
  def q237RuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.isolated(spark)
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "100MB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    runtimeFilterJoin(s, dir)
  }

  /** The join itself, on the caller's session — split out so
    * RuntimeFilterSpec can assert the injected plan. */
  private[graft] def runtimeFilterJoin(s: SparkSession, dir: String): DataFrame = {
    val li = graft.sources.Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val p = graft.sources.Tables.part(s, dir)
      .filter(col("p_brand") === "Brand#13")
      .select(col("p_partkey"), col("p_type"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_items"),
        exprSum(col("l_quantity")).as("sum_qty"),
        exprSum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("p_type"))
  }

  val q237Oracle: String =
    """SELECT p_type, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand = 'Brand#13'
      |GROUP BY 1 ORDER BY p_type""".stripMargin

  def registry: Seq[Query] = Seq(
    Query("q237_runtime_filter", q237RuntimeFilter, q237Oracle),
    Query("q242_cbo_reorder", q242CboReorder, q242Oracle),
    Query("q243_aqe_skew_join", q243AqeSkewJoin, q243Oracle),
    Query("q01_pricing_summary", q01PricingSummary, q01Oracle),
    Query("q02_project_rename", q02ProjectRename, q02Oracle),
    Query("q03_filter", q03Filter, q03Oracle),
    Query("q04_star_join", q04StarJoin, q04Oracle),
    Query("q05_left_join_fill", q05LeftJoinFill, q05Oracle),
    Query("q06_left_then_inner", q06LeftThenInner, q06Oracle),
    Query("q07_natural_key_lookup", q07NaturalKeyLookup, q07Oracle),
    Query("q08_union_positional", q08UnionPositional, q08Oracle),
    Query("q09_union_by_name", q09UnionByName, q09Oracle),
    Query("q10_dedup_distinct", q10DedupDistinct, q10Oracle),
    Query("q11_split_explode", q11SplitExplode, q11Oracle),
    Query("q12_case_when", q12CaseWhen, q12Oracle),
    Query("q13_semi_join", q13SemiJoin, q13Oracle),
    Query("q14_anti_join", q14AntiJoin, q14Oracle),
    Query("q15_scalar_funcs", q15ScalarFuncs, q15Oracle))
}
