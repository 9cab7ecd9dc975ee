package graft.queries

import graft.SparkSpec

class ProfilingSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q166: merged per-group HLL sketches match a monolithic sketch") {
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    val ev = Tables.events(spark, dir)
    // Merging the per-event_type partials must give the SAME estimate as
    // one sketch over the whole column — the commutative-merge property
    // the 100-TB profile relies on (shard-local sketches, no re-scan).
    val merged = ev.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().head.getLong(0)
    val mono = ev.agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))))
      .collect().head.getLong(0)
    assert(merged === mono, s"merged $merged vs monolithic $mono")
  }

  test("q166: every est_ok flag is true and the ALL row is present") {
    val rows = Profiling.q166HllProfile(spark, dir).collect()
    assert(rows.map(_.getString(0)).contains("__ALL__"))
    rows.foreach(r => assert(r.getBoolean(2), s"estimate out of band: $r"))
  }

  test("q169: mergeable quantile summaries stay inside the fidelity band") {
    import org.apache.spark.sql.functions._
    val rows = Profiling.q169QuantileProfile(spark, dir).collect()
    assert(rows.length == 5 * Profiling.QuantileQs.length)
    rows.foreach(r => assert(r.getBoolean(3), s"quantile estimate out of band: $r"))
    // exact_q really is the interpolated percentile: recompute p50 for
    // one group by hand
    val vals = graft.sources.Tables.events(spark, dir)
      .filter(col("event_type") === "click").select("value")
      .collect().map(_.getDouble(0)).sorted
    val idx = 0.5 * (vals.length - 1)
    val lo = vals(idx.toInt)
    val expected = lo + (idx - idx.toInt) * (vals(math.ceil(idx).toInt) - lo)
    val got = rows.find(r => r.getString(0) == "click" && r.getDouble(1) == 0.5).get.getDouble(2)
    assert(math.abs(got - expected) < 1e-3, s"p50 $got vs $expected")
  }
}
