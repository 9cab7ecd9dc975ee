package graft.queries

import graft.SparkEntry.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Data-profiling queries. q39 reports exact per-column distinct counts
  * and null counts for lineitem — the oracle-checkable form of profile
  * scans. At 100 TB the same shape runs with
  * `approx_count_distinct` (HyperLogLog++, one pass, no shuffle of
  * distinct values); the exact form here is what the DuckDB gate can
  * reproduce bit-for-bit. q166 is the sketch form: per-group HLL
  * sketches, merged.
  */
object Profiling {

  val ProfiledCols: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_linestatus")

  def q39ProfileNdv(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val aggs = ProfiledCols.flatMap { c =>
      Seq(countDistinct(col(c)).as(s"ndv_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    }
    li.agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  val q39Oracle: String = {
    val aggs = ProfiledCols.flatMap { c =>
      Seq(s"COUNT(DISTINCT $c) AS ndv_$c",
        s"CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_$c")
    }.mkString(",\n  ")
    s"""SELECT COUNT(*) AS n_rows,
       |  $aggs
       |FROM lineitem""".stripMargin
  }

  // --------------------------------------------------------------------
  // q101 — data-quality expectation report: one row per audited column
  // with row/null/distinct counts and typed min/max — the publish gate
  // every warehouse load runs before a table goes live (the reference
  // loads blind; this is the check its users would bolt on first).
  // One single-column aggregate per audited column, unioned: each scan
  // prunes to ONE column (columnar scans make per-column passes the
  // scalable form — a single all-columns aggregate would pay q39's
  // Expand or a wide row read instead). Numeric bounds stay DOUBLE and
  // string bounds stay VARCHAR — casting doubles to strings for a
  // uniform column would make the hash hostage to formatting.
  def q101DqReport(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    def audit(c: String, numeric: Boolean): DataFrame = {
      val col0 = col(c)
      orders.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col0.isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col0).as("n_distinct"),
        (if (numeric) min(col0).cast("double") else lit(null).cast("double")).as("min_num"),
        (if (numeric) max(col0).cast("double") else lit(null).cast("double")).as("max_num"),
        (if (numeric) lit(null).cast("string") else min(col0).cast("string")).as("min_str"),
        (if (numeric) lit(null).cast("string") else max(col0).cast("string")).as("max_str"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_num"), col("max_num"),
          col("min_str"), col("max_str"))
    }
    audit("o_orderkey", numeric = true)
      .unionByName(audit("o_custkey", numeric = true))
      .unionByName(audit("o_totalprice", numeric = true))
      .unionByName(audit("o_orderstatus", numeric = false))
      .orderBy(col("col_name"))
  }

  val q101Oracle: String = {
    def num(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
         |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         |FROM orders""".stripMargin
    def str(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
         |  CAST(min($c) AS VARCHAR) AS min_str, CAST(max($c) AS VARCHAR) AS max_str
         |FROM orders""".stripMargin
    s"""${num("o_orderkey")}
       |UNION ALL
       |${num("o_custkey")}
       |UNION ALL
       |${num("o_totalprice")}
       |UNION ALL
       |${str("o_orderstatus")}
       |ORDER BY col_name""".stripMargin
  }

  // --------------------------------------------------------------------
  // q166 — MERGEABLE distinct-count profiling via HLL sketches
  // (Apache DataSketches HllSketch, the `hll_sketch_agg` family added
  // in Spark 3.5): one partial sketch of user_id per event_type, then
  // `hll_union_agg` merges the partials into the global estimate
  // WITHOUT re-scanning — the commutative-merge property that makes
  // sketch profiling the 100-TB form (each shard/partition aggregates
  // its own sketch; merging k sketches is O(k·2^lgK) driver work, vs
  // q39's exact form which shuffles every distinct value). The oracle
  // cannot replay DataSketches bit-for-bit, so the query emits the
  // EXACT ndv per group (DuckDB-verified) plus an `est_ok` flag
  // asserting the sketch estimate lands within 5% — same
  // fidelity-report contract as q165's JL sketch. The exact column
  // exists for the gate; production keeps only the sketches.
  def q166HllProfile(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def okFlag(est: org.apache.spark.sql.Column,
               exact: org.apache.spark.sql.Column) =
      (abs(est.cast("double") - exact.cast("double")) <=
        exact.cast("double") * 0.05).as("est_ok")
    // One pass builds the partial sketches AND the per-group exact ndv.
    val per = ev.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("exact_ndv"))
    val perRows = per.select(col("event_type"), col("exact_ndv"),
      okFlag(hll_sketch_estimate(col("sk")), col("exact_ndv")))
    // The merge path: union the per-group partials — no event re-scan.
    val merged = per.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val totalExact = ev.agg(countDistinct(col("user_id")).as("exact_ndv"))
    // 1-row × 1-row combine on an optimizer-OPAQUE key (a plain lit(1)
    // folds via FoldablePropagation and the join collapses to the
    // banned cartesian — see graft.plans.Opaque): equi-join, so it
    // plans a broadcast HASH join and stays inside the nested-loop lock.
    val totalRow = merged
      .withColumn("k", graft.plans.Opaque.zeroKey(col("est").cast("long")))
      .join(totalExact
        .withColumn("k", graft.plans.Opaque.zeroKey(col("exact_ndv"))), Seq("k"))
      .select(lit("__ALL__").as("event_type"), col("exact_ndv"),
        okFlag(col("est"), col("exact_ndv")))
    perRows.unionByName(totalRow).orderBy(col("event_type"))
  }

  val q166Oracle: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_ndv,
      |  TRUE AS est_ok
      |FROM events GROUP BY event_type
      |UNION ALL
      |SELECT '__ALL__' AS event_type, COUNT(DISTINCT user_id) AS exact_ndv,
      |  TRUE AS est_ok
      |FROM events
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------------
  // q169 — MERGEABLE quantile profiling: `approx_percentile` (the
  // KLL-style mergeable summary behind Spark's approximate quantiles)
  // per event_type against the exact interpolated percentile, under
  // the q165/q166 fidelity-report contract — the oracle cannot replay
  // the sketch bit-for-bit, so the query emits the EXACT quantile
  // (DuckDB-verified; both engines linearly interpolate at rank
  // q·(n−1)) plus an `est_ok` flag asserting the sketch answer lands
  // inside the tolerance. Production keeps only the sketches: the
  // per-partition summaries merge commutatively, so a 100-TB profile
  // is one pass + an O(groups·summary) reduce — the exact form
  // shuffles every value to sort inside its group.
  val QuantileQs: Seq[Double] = Seq(0.5, 0.9, 0.99)

  /** Rank tolerance for the fidelity flag: the estimate must land at a
    * value whose RANK is within ±2% of the requested quantile — the
    * shape of `approx_percentile`'s actual guarantee (it returns a
    * real data point at a rank within ε·n of the target; a VALUE-based
    * band breaks whenever the distribution's tail is sparse).
    */
  val QuantileRankTol = 0.02

  def q169QuantileProfile(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val qsArr = array(QuantileQs.map(lit): _*)
    val loArr = array(QuantileQs.map(q => lit(math.max(q - QuantileRankTol, 0.0))): _*)
    val hiArr = array(QuantileQs.map(q => lit(math.min(q + QuantileRankTol, 1.0))): _*)
    val per = ev.groupBy(col("event_type"))
      .agg(percentile(col("value"), qsArr).as("exact"),
        percentile(col("value"), loArr).as("lo"),
        percentile(col("value"), hiArr).as("hi"),
        approx_percentile(col("value"), qsArr, lit(10000)).as("est"))
    per.select(col("event_type"),
        explode(arrays_zip(qsArr.as("q"), col("exact"), col("lo"), col("hi"),
          col("est"))).as("z"))
      .select(col("event_type"), col("z.q").as("q"),
        // round through DECIMAL so the hash compare cannot drift on the
        // interpolation's last ulp
        col("z.exact").cast(DecimalType(24, 4)).cast("double").as("exact_q"),
        (col("z.est") >= col("z.lo") && col("z.est") <= col("z.hi")).as("est_ok"))
      .orderBy(col("event_type"), col("q"))
  }

  val q169Oracle: String =
    """SELECT event_type, q, exact_q, TRUE AS est_ok FROM (
      |  SELECT event_type, CAST(0.5 AS DOUBLE) AS q,
      |    CAST(CAST(quantile_cont(value, 0.5) AS DECIMAL(24,4)) AS DOUBLE) AS exact_q
      |  FROM events GROUP BY event_type
      |  UNION ALL
      |  SELECT event_type, CAST(0.9 AS DOUBLE) AS q,
      |    CAST(CAST(quantile_cont(value, 0.9) AS DECIMAL(24,4)) AS DOUBLE) AS exact_q
      |  FROM events GROUP BY event_type
      |  UNION ALL
      |  SELECT event_type, CAST(0.99 AS DOUBLE) AS q,
      |    CAST(CAST(quantile_cont(value, 0.99) AS DECIMAL(24,4)) AS DOUBLE) AS exact_q
      |  FROM events GROUP BY event_type)
      |ORDER BY event_type, q""".stripMargin

  // --------------------------------------------------------------------
  // q170 — heavy hitters through a QUERYABLE Count-Min sketch: the
  // built-in `count_min_sketch` aggregate builds one serialized sketch
  // per event_type, and the native [[graft.functions.CountMinEstimate]]
  // expression probes it IN-PLAN (Spark ships the builder but no query
  // function — without the expression the probe needs a driver-side
  // collect, which would break plan laziness). The probe keys are the
  // exact top-3 users per type; `est_ok` asserts the CMS contract
  // (estimate never under-counts; over-counts by at most ε·N at the
  // configured confidence). The exact column exists for the gate;
  // production keeps only the sketches, which merge commutatively
  // across shards — the 100-TB heavy-hitter form.
  // Scale notes: the sketch agg is map-side partial (state = one
  // ε=0.001 sketch per task per group); the probe joins a
  // group-cardinality sketch frame to k probe rows — never the event
  // stream. The per-type rank window partitions on event_type.
  val CmsEps = 0.001
  val CmsTopK = 3

  def q170CmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val top = ev.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("exact_n"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("exact_n").desc, col("user_id"))).cast("int"))
      .filter(col("rk") <= CmsTopK)
    val sketches = ev.groupBy(col("event_type"))
      .agg(count_min_sketch(col("user_id"), lit(CmsEps), lit(0.99), lit(42)).as("sk"),
        count(lit(1)).as("n_tot"))
    val est = graft.functions.CountMinEstimate.cms_estimate(col("sk"), col("user_id"))
    top.join(sketches, Seq("event_type"))
      .select(col("event_type"), col("user_id"), col("rk"), col("exact_n"),
        (est >= col("exact_n") &&
          est <= col("exact_n") + ceil(lit(CmsEps) * col("n_tot")).cast("long"))
          .as("est_ok"))
      .orderBy(col("event_type"), col("rk"))
  }

  val q170Oracle: String =
    s"""SELECT event_type, user_id, rk, exact_n, TRUE AS est_ok FROM (
       |  SELECT event_type, user_id, COUNT(*) AS exact_n,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
       |      ORDER BY COUNT(*) DESC, user_id) AS INTEGER) AS rk
       |  FROM events GROUP BY event_type, user_id)
       |WHERE rk <= $CmsTopK ORDER BY event_type, rk""".stripMargin

  // --------------------------------------------------------------------
  // q177 — JOIN-KEY SKEW report: the pre-flight a pipeline runs before
  // a big shuffle join to decide whether a key needs salting or an AQE
  // skew hint. One pass builds per-key frequencies; the global top-5
  // heaviest keys ship as TopKByLong PARTIAL-aggregate state (k rows
  // per map task — no rank window, no global sort), alongside the key
  // count and total rows. The output is ALL-INTEGER (key, cnt, n_keys,
  // total_rows) — the skew ratio cnt·n_keys/total_rows is derivable,
  // and emitting only integers means no rounding contract at all.
  // Scale notes (100 TB): one hash agg on the key + one 5-row
  // broadcast join back for the counts; the 1-row stats frame rides
  // the optimizer-opaque key.
  val SkewTopK = 5

  def q177KeySkewReport(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(
      graft.functions.TopKByLong.topk_by(
        col("cnt").cast("double"), col("l_orderkey"), SkewTopK).as("top"),
      count(lit(1)).as("n_keys"), sum(col("cnt")).as("total_rows"))
    val top = stats
      .select(posexplode(col("top")).as(Seq("pos", "l_orderkey")),
        col("n_keys"), col("total_rows"))
      .select(col("l_orderkey"), (col("pos") + 1).cast("int").as("rk"),
        col("n_keys"), col("total_rows"))
    top.join(counts, Seq("l_orderkey"))
      .select(col("rk"), col("l_orderkey"), col("cnt"),
        col("n_keys"), col("total_rows"))
      .orderBy(col("rk"))
  }

  val q177Oracle: String =
    s"""WITH counts AS (
       |  SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
       |s AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       |    CAST(SUM(cnt) AS BIGINT) AS total_rows
       |  FROM counts)
       |SELECT rk, l_orderkey, cnt, n_keys, total_rows FROM (
       |  SELECT l_orderkey, cnt,
       |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, l_orderkey) AS INTEGER)
       |      AS rk
       |  FROM counts), s
       |WHERE rk <= $SkewTopK ORDER BY rk""".stripMargin

  def registry: Seq[Query] = Seq(
    Query("q177_key_skew_report", q177KeySkewReport, q177Oracle),
    Query("q39_profile_ndv", q39ProfileNdv, q39Oracle),
    Query("q101_dq_report", q101DqReport, q101Oracle),
    Query("q166_hll_profile", q166HllProfile, q166Oracle),
    Query("q169_quantile_profile", q169QuantileProfile, q169Oracle),
    Query("q170_cms_heavy_hitters", q170CmsHeavyHitters, q170Oracle))
}
