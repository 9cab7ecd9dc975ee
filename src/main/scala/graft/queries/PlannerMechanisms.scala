package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Planner/runtime join + write mechanisms (q245–q249, q251, q254, q255):
  * each query pins
  * a Catalyst or executor MECHANISM no earlier query exercises, on the
  * real testdata tables with a DuckDB oracle. Completes the round-13
  * engine-mechanism tier (q234–q244) on the join-planning and runtime
  * side:
  *
  *   - q245 null-aware ANTI join — NOT IN's tri-valued logic as a
  *     single join (vs q14's left_anti, which is NOT EXISTS);
  *   - q246 collation-aware grouping/join — Spark 4 collations push
  *     case-equivalence into the engine's hash/compare;
  *   - q247 exchange + scalar-subquery reuse — one shuffle feeds a
  *     diamond self-join and repeated subqueries;
  *   - q248 AQE empty-relation propagation — a runtime-empty join side
  *     eliminates the join at execution time;
  *   - q249 ExistenceJoin — disjunctive membership (IN-subquery OR
  *     local predicate) planned as the internal existence join type;
  *   - q251 storage-partitioned join — DataSource V2 tables reporting
  *     KeyGroupedPartitioning join with zero shuffle exchanges;
  *   - q254 SQL-language scalar + table functions — catalog macros
  *     inlined at plan time, the transparent middle ground between
  *     native expressions and banned opaque UDFs;
  *   - q255 connector-side manifest pruning — pushed key predicates
  *     drop whole partitions at V2 planning time
  *     (q250, the RocksDB state backend, and q253, AvailableNow,
  *     live with the streaming queries).
  *
  * Reference provenance: the reference engine's query surface is plain
  * Python ETL (the /root/reference/processing scripts) with no optimizer to
  * speak of; these queries document how the SAME relational semantics
  * (anti joins, case-normalized lookups, partitioned rewrites) are
  * expressed so Spark's planner machinery does the heavy lifting at
  * 100 TB.
  */
object PlannerMechanisms {

  /** Exact, order-independent money sum (see [[Relational.moneySum]]). */
  private def moneySum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  // --------------------------------------------------------------------
  // q245 — NULL-AWARE anti join: `NOT IN (subquery)` under SQL's
  // tri-valued logic. q14's left_anti is NOT EXISTS — a NULL probe key
  // simply never matches and SURVIVES; NOT IN is stricter: a NULL
  // probe key can never be PROVEN absent (NULL = x is unknown for
  // every x), so the row is dropped, and a single NULL in the subquery
  // drops EVERYTHING. Expressing that as a join needs the join
  // condition `(k = k') OR isnull(k = k')`, which a hash join cannot
  // evaluate — except in Spark's special-cased single-column
  // null-aware anti join (BroadcastHashJoin, LeftAnti,
  // isNullAwareAntiJoin=true; NullAwareAntiJoinSpec pins the flag and
  // both semantic halves). Here: non-negative-balance customers with
  // no finalized order — customers whose balance is negative get a
  // NULL probe key (their membership is declared unknowable) and are
  // excluded by the semantics, not by a hand-written filter.
  // Scale notes (100 TB): NAAJ is BROADCAST-ONLY — Spark must see
  // every build key (plus whether any is NULL) on one node, so an
  // unbounded build side degrades to BroadcastNestedLoopJoin. The
  // production rule this query documents: keep NOT IN subqueries
  // bounded (dedup'd key sets, not fact tables), or rewrite to
  // NOT EXISTS (q14's shape) when the key is provably non-null —
  // the planner's choice between the two IS the semantic difference.
  def q245NullAwareAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"),
        when(col("c_acctbal") < 0, lit(null).cast("bigint"))
          .otherwise(col("c_custkey")).as("probe_key"))
      .createOrReplaceTempView("graft_q245_cust")
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"))
      .createOrReplaceTempView("graft_q245_fin")
    spark.sql(
      """SELECT c_custkey, c_name FROM graft_q245_cust
        |WHERE probe_key NOT IN (SELECT o_custkey FROM graft_q245_fin)
        |ORDER BY c_custkey""".stripMargin)
  }

  val q245Oracle: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE (CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END)
      |  NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------------
  // q246 — COLLATION-aware grouping and join (Spark 4 string
  // collations): case-insensitive entity resolution at the ENGINE
  // level. Every earlier case-merge in the registry normalizes with
  // lower() (a projection); a collated column instead changes the
  // EQUALITY — groupBy hashes the collation key, the join compares
  // under UTF8_LCASE — so the original text survives untouched and
  // every operator downstream of the column is case-insensitive for
  // free. The fixture scrambles c_mktsegment's case per row (even
  // custkeys lowercased), groups by the collated label, and joins a
  // lowercase-keyed segment dim under collation; CollationSpec pins
  // the collated grouping-key type, the variant merge, and the
  // cross-case join. The oracle is the lower()-normalized equivalent
  // — the two MUST agree, which is exactly the property that makes
  // collations safe to adopt.
  // Scale notes (100 TB): normalize-with-lower() materializes a
  // second copy of every string column it normalizes (and loses the
  // original); a collated comparison is computed in the hash/compare
  // path with no extra column, and partitioning/grouping on the
  // collated key shuffles original bytes once. Collation keys cost a
  // transform per comparison — for hot join keys, a one-off
  // lower()-projected BUCKETED layout still wins; collations win on
  // ad-hoc grouping and mixed-source text.
  def q246CollationGroup(spark: SparkSession, dir: String): DataFrame = {
    val labeled = Tables.customer(spark, dir)
      .select(
        when(col("c_custkey") % 2 === 0, lower(col("c_mktsegment")))
          .otherwise(col("c_mktsegment")).as("label"),
        col("c_acctbal"))
    val dim = Tables.customer(spark, dir)
      .select(lower(col("c_mktsegment")).as("seg")).distinct()
      .withColumn("code", substring(col("seg"), 1, 2))
    labeled
      .join(dim, collate(col("label"), "UTF8_LCASE") === collate(col("seg"), "UTF8_LCASE"))
      .groupBy(collate(col("label"), "UTF8_LCASE").as("k"))
      .agg(
        max(col("seg")).as("seg"),
        max(col("code")).as("code"),
        countDistinct(col("label")).as("n_case_variants"),
        count(lit(1)).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
      .drop("k")
      .orderBy(col("seg"))
  }

  val q246Oracle: String =
    """WITH lab AS (
      |  SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
      |              ELSE c_mktsegment END AS label,
      |         c_acctbal
      |  FROM customer),
      |dim AS (
      |  SELECT DISTINCT lower(c_mktsegment) AS seg,
      |         substring(lower(c_mktsegment), 1, 2) AS code
      |  FROM customer)
      |SELECT max(d.seg) AS seg, max(d.code) AS code,
      |  COUNT(DISTINCT l.label) AS n_case_variants,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM lab l JOIN dim d ON lower(l.label) = d.seg
      |GROUP BY lower(l.label)
      |ORDER BY seg""".stripMargin

  // --------------------------------------------------------------------
  // q247 — EXCHANGE and SCALAR-SUBQUERY reuse: a diamond plan where
  // one shuffle feeds multiple consumers WITHIN a single query. The
  // monthly revenue aggregate is self-joined one month apart
  // (month-over-month delta) and its total/count are referenced twice
  // each as scalar subqueries in the filter ("this or the prior month
  // beat the average", in exact rev*n > total decimal arithmetic —
  // avg() would round differently across engines). Catalyst's
  // ReuseExchangeAndSubquery rule plans the monthly aggregate's
  // shuffle ONCE — the second join side and the repeated subqueries
  // read ReusedExchange/ReusedSubquery nodes (ExchangeReuseSpec pins
  // one of each in the executed plan). The StageBoundary pattern is
  // the CROSS-query materialization of the same idea; this query pins
  // the engine's automatic WITHIN-query form.
  // Scale notes (100 TB): a fact-sized aggregate feeding a diamond
  // would scan and shuffle the fact TWICE if reuse failed — the
  // difference between one 100 TB scan and two is the whole game; the
  // spec makes a silent reuse regression (e.g. a non-deterministic
  // expression sneaking into one branch) loud.
  def q247ExchangeReuse(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_q247_orders")
    spark.sql(
      """WITH m AS (
        |  SELECT date_trunc('month', o_orderdate) AS mon,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM graft_q247_orders GROUP BY 1)
        |SELECT cur.mon AS mon,
        |       CAST(cur.rev AS DOUBLE) AS rev,
        |       CAST(cur.rev - prev.rev AS DOUBLE) AS mom_delta
        |FROM m cur JOIN m prev ON cur.mon = prev.mon + INTERVAL '1' MONTH
        |WHERE cur.rev * (SELECT COUNT(*) FROM m) > (SELECT SUM(rev) FROM m)
        |   OR prev.rev * (SELECT COUNT(*) FROM m) > (SELECT SUM(rev) FROM m)
        |ORDER BY mon""".stripMargin)
  }

  val q247Oracle: String =
    """WITH m AS (
      |  -- DuckDB's month-granularity date_trunc yields DATE; Spark's
      |  -- yields TIMESTAMP — align the canonical textual form
      |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1)
      |SELECT cur.mon AS mon,
      |       CAST(cur.rev AS DOUBLE) AS rev,
      |       CAST(cur.rev - prev.rev AS DOUBLE) AS mom_delta
      |FROM m cur JOIN m prev ON cur.mon = prev.mon + INTERVAL 1 MONTH
      |WHERE cur.rev * (SELECT COUNT(*) FROM m) > (SELECT SUM(rev) FROM m)
      |   OR prev.rev * (SELECT COUNT(*) FROM m) > (SELECT SUM(rev) FROM m)
      |ORDER BY mon""".stripMargin

  // --------------------------------------------------------------------
  // q248 — AQE EMPTY-RELATION propagation: the runtime complement of
  // static join elimination. The oversized-document blocklist
  // (n_chars > 1e6) is structurally part of the plan — tomorrow's
  // corpus release may populate it — but is EMPTY for this corpus,
  // which no static rule can know (the predicate compares a data
  // column). AQE observes the built side's zero rows at runtime and
  // rewrites the anti join to its left child, so the per-lang
  // survivor stats pay ZERO join cost (AqeEmptyRelationSpec pins:
  // initial plan joins, final adaptive plan has no join node). Third
  // member of the runtime-replan family: q243 splits a skewed
  // exchange, q237 prunes with a runtime bloom filter, q248 deletes a
  // dead operator.
  // Scale notes (100 TB): gating pipelines carry many
  // usually-empty guards (blocklists, quarantine sets, manual
  // overrides). Keeping them in the PLAN costs nothing at runtime
  // precisely because of this rule — the alternative (a driver-side
  // count-then-branch) serializes an extra job per guard and splits
  // the lineage.
  def q248AqeEmptyRelation(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val blocklist = docs.filter(col("n_chars") > 1000000L)
      .select(col("doc_id"))
    docs.join(blocklist, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"))
      .orderBy(col("lang"))
  }

  val q248Oracle: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE doc_id NOT IN
      |  (SELECT doc_id FROM documents WHERE n_chars > 1000000)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------------
  // q249 — EXISTENCE join: disjunctive membership. `IN (subquery) OR
  // local-predicate` can be neither a semi join (rows failing the
  // subquery may still pass the disjunct) nor a filter (the subquery
  // is a relation); Catalyst plans the internal ExistenceJoin type —
  // a semi join that DOESN'T filter, emitting every probe row plus an
  // `exists` bit the filter then consumes (ExistenceJoinSpec pins the
  // join type and the disjunctive semantics). Here: keep documents
  // that have a gold-label embedding OR are long enough — the typical
  // curation union of "editorially pinned" and "metric-qualified".
  // Scale notes (100 TB): the naive rewrite is a UNION of a semi join
  // and a filter with a dedup — two corpus scans and a
  // corpus-sized distinct. ExistenceJoin is one scan, one hash
  // lookup per row, no dedup; the planner derives it from the natural
  // SQL, which is why the query text should STAY declarative.
  def q249ExistenceJoin(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).createOrReplaceTempView("graft_q249_docs")
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
      .createOrReplaceTempView("graft_q249_emb")
    spark.sql(
      """SELECT doc_id, lang, n_chars FROM graft_q249_docs
        |WHERE doc_id IN (SELECT vec_id FROM graft_q249_emb WHERE label = 1)
        |   OR n_chars >= 400
        |ORDER BY doc_id""".stripMargin)
  }

  val q249Oracle: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id IN (SELECT vec_id FROM embeddings WHERE label = 1)
      |   OR n_chars >= 400
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q251 — STORAGE-PARTITIONED join (SPJ): the DataSource V2 form of
  // the exchange-free co-located join. q129 pins the V1 mechanism
  // (Hive bucketBy tables); modern table formats (Iceberg/Delta)
  // instead REPORT their layout through the connector API — the scan
  // advertises KeyGroupedPartitioning over the join key and each
  // split carries its partition VALUE (HasPartitionKey), so Catalyst
  // aligns the two sides split-by-split and plans the join with NO
  // shuffle exchange on either side (SpjSpec pins zero exchanges
  // below the join). Because partition values are first-class (not
  // just a bucket count), the planner also handles MISMATCHED key
  // sets by padding empty splits (`pushPartValues`) — exercised for
  // real at sf0.001, where only 10 of the customer side's 25 nations
  // have suppliers; V1 bucketing would shuffle there. Both sides are
  // per-nation aggregates staged into graft.sources.SpjSource's
  // key-grouped layout (bounded: ≤25 keys).
  // Scale notes (100 TB): SPJ is how lakehouse fact-fact joins skip
  // the shuffle entirely — two tables partitioned by the same key
  // join at scan parallelism with zero exchange bytes; the padding
  // path keeps that true across partition-set drift (late-arriving
  // partitions, asymmetric retention), which is the everyday state
  // of two independently-loaded 100 TB tables.
  def q251StoragePartitionedJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.isolated(spark)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val root = spjStage(s, dir)
    spjJoin(s, root).orderBy(col("nationkey"))
  }

  /** Stage both per-nation aggregates into the key-grouped layout;
    * returns the local root. Exposed for SpjSpec. */
  private[graft] def spjStage(s: SparkSession, dir: String): String = {
    val root = new org.apache.hadoop.fs.Path(
      graft.sources.ShardPaths.resolve(s, "q251", dir)).toUri.getPath
    def agg(df: DataFrame, key: String): Seq[(Long, Long)] =
      df.groupBy(col(key).cast("long").as("k")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.sources.SpjSource.stage(
      agg(Tables.customer(s, dir), "c_nationkey"), s"$root/cust")
    graft.sources.SpjSource.stage(
      agg(Tables.supplier(s, dir), "s_nationkey"), s"$root/supp")
    root
  }

  /** The SPJ join itself (no final sort). Exposed for SpjSpec's
    * exchange-free plan assertion. */
  private[graft] def spjJoin(s: SparkSession, root: String): DataFrame =
    graft.sources.SpjSource.load(s, s"$root/cust")
      .withColumnRenamed("v", "n_cust")
      .join(graft.sources.SpjSource.load(s, s"$root/supp")
        .withColumnRenamed("v", "n_supp"), Seq("k"))
      .select(col("k").as("nationkey"), col("n_cust"), col("n_supp"))

  val q251Oracle: String =
    """WITH c AS (
      |  SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1),
      |s AS (
      |  SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
      |SELECT CAST(c.k AS BIGINT) AS nationkey, c.n_cust, s.n_supp
      |FROM c JOIN s ON c.k = s.k
      |ORDER BY nationkey""".stripMargin

  // --------------------------------------------------------------------
  // q254 — SQL-language functions (scalar + table-valued): the third
  // point on the extensibility spectrum this registry documents. The
  // functions/ package shows native Catalyst expressions (maximum
  // control, codegen); the registry bans opaque Scala/Python UDFs
  // (black boxes the optimizer can't see through); BETWEEN the two
  // sit Spark 4's SQL-language functions — reusable, catalog-visible
  // macros whose bodies are INLINED at plan time. The scalar
  // avg-word-length scorer disappears into the aggregate expression
  // (whole-stage codegen keeps running), and the table-valued
  // per-source profile inlines as a subquery whose literal argument
  // becomes a parquet-scan PUSHED FILTER — a parameterized view with
  // zero evaluation overhead (SqlFunctionSpec pins the pushed
  // literal, the absence of any UDF/Invoke node, and macro ≡ inline
  // equality).
  // Scale notes (100 TB): shared logic as SQL functions keeps every
  // consumer's plan fully transparent — predicates still push down
  // THROUGH the macro, codegen spans stay wide, and a scorer fix
  // lands in the catalog once instead of in every pipeline's jar. An
  // opaque UDF with the same body would block both the pushdown and
  // codegen everywhere it appears.
  def q254SqlFunctions(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).createOrReplaceTempView("graft_q254_docs")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_q254_wlen(
        |    text STRING, n_chars BIGINT)
        |RETURNS DOUBLE
        |RETURN CAST(n_chars AS DOUBLE) /
        |  (length(text) - length(replace(text, ' ', '')) + 1)""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_q254_profile(src STRING)
        |RETURNS TABLE(lang STRING, n_docs BIGINT, avg_wlen DOUBLE)
        |RETURN SELECT lang, COUNT(*),
        |  CAST(SUM(CAST(graft_q254_wlen(text, n_chars) AS DECIMAL(24,6)))
        |    AS DOUBLE) / COUNT(*)
        |FROM graft_q254_docs WHERE source = src GROUP BY lang""".stripMargin)
    spark.sql(
      """SELECT 'src0' AS source, * FROM graft_q254_profile('src0')
        |UNION ALL
        |SELECT 'src1' AS source, * FROM graft_q254_profile('src1')
        |ORDER BY source, lang""".stripMargin)
  }

  val q254Oracle: String =
    """WITH scored AS (
      |  SELECT source, lang,
      |    CAST(CAST(n_chars AS DOUBLE) /
      |      (length(text) - length(replace(text, ' ', '')) + 1)
      |      AS DECIMAL(24,6)) AS wlen
      |  FROM documents WHERE source IN ('src0', 'src1'))
      |SELECT source, lang, COUNT(*) AS n_docs,
      |  CAST(SUM(wlen) AS DOUBLE) / COUNT(*) AS avg_wlen
      |FROM scored GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin

  // --------------------------------------------------------------------
  // q255 — CONNECTOR-side manifest pruning: key-column predicates
  // pushed into the V2 source are evaluated against the partition
  // VALUES at planning time, so whole `k=` partitions never become
  // input splits. q63 pins Spark's OWN directory pruning over a
  // parquet layout it manages; for V2 tables the pruning decision
  // lives in the CONNECTOR (Iceberg/Delta prune from partition-stats
  // manifests), which is the contract SpjSource's ScanBuilder
  // implements. Every pushed filter stays residual — Spark
  // re-verifies rows, so pruning is purely an I/O reduction and a
  // connector pruning BUG can never corrupt results
  // (ManifestPruningSpec pins planned-split count == matching keys,
  // the `keys=m/n` plan evidence, and pruned ≡ unpruned results).
  // Scale notes (100 TB): a date-ranged query against a
  // 10 000-partition table should list and open ~the matching
  // partitions' files, and the listing itself must be metadata-only —
  // at lakehouse scale the manifest prune IS the difference between
  // a planning step and a full-table file listing.
  def q255ManifestPruning(spark: SparkSession, dir: String): DataFrame = {
    val root = spjStage(spark, dir)
    graft.sources.SpjSource.load(spark, s"$root/cust")
      .filter(col("k") >= 5 && col("k") < 12)
      .select(col("k").as("nationkey"), col("v").as("n_cust"))
      .orderBy(col("nationkey"))
  }

  val q255Oracle: String =
    """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
      |  COUNT(*) AS n_cust
      |FROM customer
      |WHERE c_nationkey >= 5 AND c_nationkey < 12
      |GROUP BY 1 ORDER BY nationkey""".stripMargin

  // --------------------------------------------------------------------
  // q257 — AQE RUNTIME join-strategy demotion (shuffle → broadcast):
  // the fourth member of the runtime-replan family, and the one that
  // changes the JOIN ALGORITHM itself. q243 splits a skewed exchange,
  // q237 plants a runtime bloom filter, q248 deletes a runtime-empty
  // side; here the static planner — denied a broadcast because it
  // cannot size a FILTERED dim (selectivity of c_mktsegment='BUILDING'
  // is unknowable without column stats, so conservative deployments
  // pin autoBroadcastJoinThreshold=-1) — plans a SortMergeJoin, and
  // AQE reads the dim's ACTUAL shuffle-write bytes at stage boundary,
  // sees they fit the adaptive broadcast threshold, and re-plans the
  // join as a BroadcastHashJoin with a LocalShuffleRead on the fact
  // side (no fact-side wide exchange ever runs). AqeDemotionSpec pins
  // both halves: SortMergeJoin in the initial plan, BroadcastHashJoin
  // in the final adaptive plan.
  // Scale notes (100 TB): this is the stats-free answer to the
  // broadcast-sizing dilemma — a static mis-broadcast OOMs the
  // driver/executors, a static non-broadcast shuffles the full fact
  // table; runtime demotion pays one dim-side shuffle write (tiny by
  // observation) to turn the fact side's shuffle into a local read.
  // The adaptive threshold stays at the broadcast default (10 MB here)
  // — unlike q243's fixture-scaled knobs, nothing is tuned for test
  // size; a filtered dim under the bar converts at any SF.
  def q257AqeJoinDemotion(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.isolated(spark)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
    demotedJoin(s, dir)
  }

  /** The statically-SMJ, adaptively-BHJ join on the caller's session —
    * exposed so AqeDemotionSpec can assert both plan halves after
    * execution. */
  private[graft] def demotedJoin(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("total_price"))
      .orderBy(col("c_nationkey"))

  val q257Oracle: String =
    """SELECT c_nationkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // --------------------------------------------------------------------
  // q259 — V2 FUNCTION-CATALOG scalar function: the third function-
  // resolution path after native Catalyst expressions (compile-time,
  // GraftExtensions) and SQL-language macros (q254, plan-time
  // inlining) — the function arrives FROM A CATALOG (the
  // FunctionCatalog API Iceberg/Delta use to ship `bucket`/`truncate`
  // to the engine), is bound against the actual input schema at
  // analysis time, and plans through the MAGIC-method `Invoke` path
  // (codegen'd, unboxed — V2FunctionSpec pins that no interpreted
  // ApplyFunctionExpression node survives). The function is the
  // token-budget primitive `clip_len(text, cap)`; the query is the
  // per-language ingested-characters report under a 500-char context
  // budget. See [[graft.functions.GraftFunctionCatalog]].
  // Scale notes (100 TB): catalog functions are how a deployment adds
  // scalar surface WITHOUT session-extension jars — resolution is
  // per-query, the bound instance is serialized to executors like any
  // expression, and the magic-invoke form keeps it inside whole-stage
  // codegen (an opaque UDF would fence the span).
  def q259V2FunctionCatalog(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.isolated(spark)
    s.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.functions.GraftFunctionCatalog].getName)
    catalogFnReport(s, dir)
  }

  /** The clip_len report on the caller's session (catalog conf must
    * already be set). Exposed for V2FunctionSpec's plan assertions. */
  private[graft] def catalogFnReport(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("graft_q259_docs")
    s.sql(
      """SELECT lang,
        |  SUM(CAST(graft_fns.ops.clip_len(text, 500) AS BIGINT))
        |    AS clipped_chars,
        |  COUNT(*) AS n_docs
        |FROM graft_q259_docs
        |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val q259Oracle: String =
    """SELECT lang,
      |  CAST(SUM(LEAST(length(text), 500)) AS BIGINT) AS clipped_chars,
      |  COUNT(*) AS n_docs
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------------
  // q266 — V2 RUNTIME filtering: dynamic partition pruning with the
  // pruning decision INSIDE the connector. q145 pins Spark's V1 DPP
  // (the engine prunes its own parquet layout); for V2 tables the
  // engine cannot see the layout, so the contract inverts — the scan
  // advertises its prunable attribute (`filterAttributes`), and after
  // the join's build side materializes, Spark hands it the feasible
  // key set (`Scan.filter`) and the connector drops whole partitions
  // before planning splits (SpjSource.SpjScan). The query joins the
  // key-grouped per-nation customer inventory against one region's
  // nation dim; only that region's `k=` directories become input
  // splits (V2RuntimeFilterSpec pins the dynamicpruning expression on
  // the scan and that the scan's output-row metric shrinks to the
  // matching partitions, vs all partitions with DPP disabled).
  // Scale notes (100 TB): a fact-dim join where the dim filter
  // selects 5 of 10 000 partitions must not list — let alone read —
  // the other 9 995; at V2 that is only possible if the CONNECTOR
  // receives the runtime key set, which is exactly this contract.
  def q266V2RuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    val root = spjStage(spark, dir)
    runtimeFilteredJoin(spark, dir, root)
  }

  /** The DPP-prunable join on the caller's session. Exposed for
    * V2RuntimeFilterSpec's metric comparison. */
  private[graft] def runtimeFilteredJoin(s: SparkSession, dir: String,
      root: String): DataFrame = {
    val nations = Tables.nation(s, dir)
      .filter(col("n_regionkey") === 2)
      .select(col("n_nationkey").cast("long").as("k"), col("n_name"))
    graft.sources.SpjSource.load(s, s"$root/cust")
      .join(nations, Seq("k"))
      .select(col("k").as("nationkey"), col("n_name").as("nation"),
        col("v").as("n_cust"))
      .orderBy(col("nationkey"))
  }

  val q266Oracle: String =
    """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
      |  n_name AS nation, COUNT(*) AS n_cust
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE n_regionkey = 2
      |GROUP BY 1, 2 ORDER BY nationkey""".stripMargin

  // --------------------------------------------------------------------
  // q268 — V2 COLUMNAR reads: the connector hands Spark whole
  // ColumnarBatches (on-heap vectors, bounded 4096-row batches)
  // instead of row iterators, and the engine consumes them through a
  // ColumnarToRow boundary whose generated code reads column
  // accessors directly — the vectorized-ingest contract parquet/ORC
  // and Arrow-native connectors run on, exercised here end-to-end
  // through a custom source (SpjSource `columnar=true`; the row
  // reader stays the default so every existing SPJ plan is
  // unchanged). V2ColumnarSpec pins the ColumnarToRow boundary in
  // the plan, multi-batch partitions (a >4096-row partition must
  // span batches), and columnar ≡ row results.
  // Scale notes (100 TB): row-at-a-time source iterators put an
  // InternalRow allocation + virtual call on every ingested row;
  // batch handoff amortizes that to once per 4 k rows and keeps the
  // consuming operators' codegen loop tight — this is why every
  // serious columnar format's reader speaks ColumnarBatch.
  def q268V2ColumnarScan(spark: SparkSession, dir: String): DataFrame = {
    val root = spjStage(spark, dir)
    graft.sources.SpjSource.load(spark, s"$root/cust", columnar = true)
      .groupBy((col("k") % 5).as("k_bucket"))
      .agg(count(lit(1)).as("n_nations"), sum(col("v")).as("n_cust"))
      .orderBy(col("k_bucket"))
  }

  val q268Oracle: String =
    """WITH per_nation AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS k, COUNT(*) AS v
      |  FROM customer GROUP BY 1)
      |SELECT k % 5 AS k_bucket, COUNT(*) AS n_nations,
      |  CAST(SUM(v) AS BIGINT) AS n_cust
      |FROM per_nation GROUP BY 1 ORDER BY k_bucket""".stripMargin

  // --------------------------------------------------------------------
  // q273 — connector-reported ORDERING ([[SupportsReportOrdering]],
  // SpjSource `ordered=true`): each key-grouped split is one `k=`
  // directory, so rows are trivially k-sorted within a partition —
  // reporting that lets the planner drop BOTH Sort nodes under the
  // storage-partitioned sort-merge join. q251 pinned the
  // zero-EXCHANGE half of the contract; this is the zero-SORT half:
  // the join becomes a pure streaming merge of pre-laid-out splits
  // (SpjOrderedSpec pins no `Sort [` node, no Exchange, and
  // result-identity against the sorted plan). The query joins the
  // per-nation aggregates through two ordered scans and derives the
  // customer-supplier gap; the oracle recomputes from the sources.
  // Scale notes (100 TB): the write side already paid for the layout
  // (q269's sink-demanded clustering+ordering is the producer half);
  // re-sorting petabytes at read time because the scan didn't REPORT
  // the layout is the single largest avoidable cost in a fact-fact
  // join — ordering metadata is what makes write-time sorting
  // actually purchasable.
  def q273ReportedOrdering(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.isolated(spark)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val root = spjStage(s, dir)
    graft.sources.SpjSource.load(s, s"$root/cust", ordered = true)
      .withColumnRenamed("v", "n_cust")
      .join(graft.sources.SpjSource.load(s, s"$root/supp", ordered = true)
        .withColumnRenamed("v", "n_supp"), Seq("k"))
      .select(col("k").as("nationkey"),
        (col("n_cust") - col("n_supp")).as("cust_supp_gap"))
      .orderBy(col("nationkey"))
  }

  val q273Oracle: String =
    """WITH c AS (
      |  SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1),
      |s AS (
      |  SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
      |SELECT CAST(c.k AS BIGINT) AS nationkey,
      |  c.n_cust - s.n_supp AS cust_supp_gap
      |FROM c JOIN s ON c.k = s.k
      |ORDER BY nationkey""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q273_reported_ordering" -> q273ReportedOrdering,
    "q268_v2_columnar_scan" -> q268V2ColumnarScan,
    "q266_v2_runtime_filter" -> q266V2RuntimeFilter,
    "q259_v2_function_catalog" -> q259V2FunctionCatalog,
    "q257_aqe_join_demotion" -> q257AqeJoinDemotion,
    "q245_null_aware_anti_join" -> q245NullAwareAntiJoin,
    "q246_collation_group" -> q246CollationGroup,
    "q247_exchange_reuse" -> q247ExchangeReuse,
    "q248_aqe_empty_relation" -> q248AqeEmptyRelation,
    "q249_existence_join" -> q249ExistenceJoin,
    "q251_storage_partitioned_join" -> q251StoragePartitionedJoin,
    "q254_sql_functions" -> q254SqlFunctions,
    "q255_manifest_pruning" -> q255ManifestPruning)

  def oracleSql: Map[String, String] = Map(
    "q273_reported_ordering" -> q273Oracle,
    "q268_v2_columnar_scan" -> q268Oracle,
    "q266_v2_runtime_filter" -> q266Oracle,
    "q259_v2_function_catalog" -> q259Oracle,
    "q257_aqe_join_demotion" -> q257Oracle,
    "q245_null_aware_anti_join" -> q245Oracle,
    "q246_collation_group" -> q246Oracle,
    "q247_exchange_reuse" -> q247Oracle,
    "q248_aqe_empty_relation" -> q248Oracle,
    "q249_existence_join" -> q249Oracle,
    "q251_storage_partitioned_join" -> q251Oracle,
    "q254_sql_functions" -> q254Oracle,
    "q255_manifest_pruning" -> q255Oracle)
}
