package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The CountMinEstimate expression against Spark's own builder: the
  * CMS contract (never under-counts; over by at most ε·N at the
  * configured confidence), exactness on a collision-free load, and the
  * null path.
  */
class CountMinEstimateSpec extends SparkSpec {

  import CountMinEstimate.cms_estimate

  test("estimate is exact on a light load and never under-counts under collisions") {
    import spark.implicits._
    // 20 keys with known multiplicities 1..20 over a w≈2719 sketch —
    // effectively collision-free, so every estimate should be exact
    val rows = (1 to 20).flatMap(k => Seq.fill(k)(k.toLong))
    val sk = rows.toDF("k")
      .agg(count_min_sketch(col("k"), lit(0.001), lit(0.99), lit(42)).as("sk"))
    val probes = (1 to 20).map(_.toLong).toDF("k")
    val est = probes.crossJoin(sk) // 20 × 1 — bounded by construction
      .select(col("k"), cms_estimate(col("sk"), col("k")).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to 20).foreach(k => assert(est(k.toLong) == k.toLong,
      s"light-load estimate for $k drifted: ${est(k.toLong)}"))

    // heavy collision regime: ε=0.5 → w=6 counters for 1000 keys;
    // the estimate must still never under-count
    val heavy = (1L to 1000L).toDF("k")
      .agg(count_min_sketch(col("k"), lit(0.5), lit(0.9), lit(7)).as("sk"))
    val under = (1L to 1000L).toDF("k").crossJoin(heavy)
      .select(cms_estimate(col("sk"), col("k")).as("est"))
      .filter(col("est") < 1L).count()
    assert(under == 0L, s"$under keys under-counted")
  }

  test("cms_estimate is SQL-registered via GraftExtensions") {
    import spark.implicits._
    Seq(1L, 1L, 2L).toDF("k").createOrReplaceTempView("cms_in")
    val est = spark.sql(
      """SELECT cms_estimate(sk, 1L) AS e FROM (
        |  SELECT count_min_sketch(k, 0.01d, 0.9d, 1) AS sk FROM cms_in)""".stripMargin)
      .head().getLong(0)
    assert(est == 2L)
  }

  test("null sketch or null item yields null") {
    import spark.implicits._
    val sk = Seq(1L).toDF("k")
      .agg(count_min_sketch(col("k"), lit(0.01), lit(0.9), lit(1)).as("sk"))
    val out = sk.select(
      cms_estimate(lit(null).cast("binary"), lit(1L)).as("a"),
      cms_estimate(col("sk"), lit(null).cast("long")).as("b")).head()
    assert(out.isNullAt(0) && out.isNullAt(1))
  }

  test("q170 rows carry the exact top counts and every fidelity flag holds") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.Profiling.q170CmsHeavyHitters(spark, dir).collect()
    assert(got.length == 5 * graft.queries.Profiling.CmsTopK)
    assert(got.forall(_.getBoolean(4)), "a CMS estimate broke the ε·N contract")
    // exact counts replicated independently
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val counts = ev.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    got.foreach { r =>
      assert(counts((r.getString(0), r.getLong(1))) == r.getLong(3),
        s"exact_n mismatch for ${r.getString(0)}/${r.getLong(1)}")
    }
  }
}
