package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{SinkCatalog, SinkMv, SinkSource}

/** q298 — MV query rewriting. The oracle proves the answers; this
  * spec locks WHEN the substitution may fire:
  *   - fresh MV + whole-table aggregate of the maintained shape →
  *     the plan reads the MV and plans NO aggregate;
  *   - stale MV (source advanced past the watermark) → no rewrite;
  *   - a filtered aggregate → no rewrite (not the MV's content);
  *   - a different aggregate (AVG) → no rewrite;
  *   - tombstoned source read without MoR → no rewrite (plain reads
  *     include rows the MV retracted);
  *   - empty registry → no rewrite.
  */
class MvRewriteSpec extends SparkSpec {

  private def fixture(tag: String): (String, () => DataFrame) = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft_mvrw_$tag").toString
    import spark.implicits._
    SinkSource.write((0L until 40L).map(i => (i % 4, i)).toDF("k", "v")
      .repartition(2, col("k")), s"$root/src", overwrite = true)
    SinkMv.create(spark, s"$root/mv", s"$root/src")
    spark.conf.set("graft.mv.registry", s"$root/mv")
    // plans are cached per Dataset, so hand back a BUILDER — each
    // check re-plans against the current metadata state
    def agg() = SinkSource.load(spark, s"$root/src")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    (root, () => agg())
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("a fresh MV answers the maintained aggregate with no scan, no agg") {
    val (root, agg) = fixture("fresh")
    val plan = planOf(agg())
    assert(plan.contains(s"$root/mv"), s"plan does not read the MV:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"rewritten plan must have no aggregate:\n$plan")
    // kill-shot: remove the SOURCE's data; only the MV can answer
    val f = SinkSource.fs(root)
    assert(f.delete(new org.apache.hadoop.fs.Path(s"$root/src/data"), true))
    val got = agg().collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expected = (0L until 40L).groupBy(_ % 4)
      .map { case (k, vs) => k -> ((vs.size.toLong, vs.sum)) }
    assert(got == expected, s"rewritten answer wrong: $got")
    spark.conf.unset("graft.mv.registry")
  }

  test("stale, filtered, reshaped, and unregistered aggregates do not rewrite") {
    val (root, agg) = fixture("neg")
    import spark.implicits._
    // stale: source advances past the watermark
    SinkSource.write(Seq((1L, 100L)).toDF("k", "v").coalesce(1),
      s"$root/src", overwrite = false)
    assert(!planOf(agg()).contains(s"$root/mv"), "stale MV must not serve")
    val freshAgain = SinkMv.refresh(spark, s"$root/mv")
    assert(freshAgain == 2 && planOf(agg()).contains(s"$root/mv"))
    // filtered: not the MV's content
    val filtered = SinkSource.load(spark, s"$root/src")
      .filter(col("v") < 10)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    assert(!planOf(filtered).contains(s"$root/mv"),
      "a filtered aggregate must not rewrite")
    // different shape
    val avgDf = SinkSource.load(spark, s"$root/src")
      .groupBy(col("k")).agg(avg(col("v")).as("a"))
    assert(!planOf(avgDf).contains(s"$root/mv"), "AVG must not rewrite")
    // empty registry
    spark.conf.unset("graft.mv.registry")
    assert(!planOf(agg()).contains(s"$root/mv"), "unregistered must not rewrite")
  }

  test("a tombstoned source only rewrites for the MoR read") {
    val (root, agg) = fixture("mor")
    spark.conf.set("spark.sql.catalog.graft_mvrw", classOf[SinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_mvrw.root", root)
    spark.conf.set("spark.sql.catalog.graft_mvrw.mor", "true")
    spark.sql("DELETE FROM graft_mvrw.src WHERE v = 7")
    SinkMv.refresh(spark, s"$root/mv")
    // plain read would include the tombstoned row the MV retracted
    assert(!planOf(agg()).contains(s"$root/mv"),
      "a plain read of a tombstoned source must not rewrite")
    val morAgg = spark.table("graft_mvrw.src")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    val plan = planOf(morAgg)
    assert(plan.contains(s"$root/mv"), s"MoR read should rewrite:\n$plan")
    val got = morAgg.collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expected = (0L until 40L).filterNot(_ == 7L).groupBy(_ % 4)
      .map { case (k, vs) => k -> ((vs.size.toLong, vs.sum)) }
    assert(got == expected, s"MoR rewrite wrong: $got")
    spark.conf.unset("graft.mv.registry")
  }
}
