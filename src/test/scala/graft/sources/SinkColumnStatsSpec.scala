package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Column-level statistics from commit metadata (round 18): the scan
  * reports exact min/max (zone maps), exact null counts (`#null`
  * headers), and — identity-era only — the key's exact distinct
  * count (manifest entry keys ARE the key domain), all through
  * [[org.apache.spark.sql.connector.read.Statistics#columnStats]].
  * This spec pins the values, the soundness gates (bucket-era key
  * stats withheld; uncovered columns withheld), and the propagation
  * into the logical plan's attributeStats — the surface CBO feeds on.
  */
class SinkColumnStatsSpec extends SparkSpec {

  private def statsOf(root: String) = {
    import scala.jdk.CollectionConverters._
    new SinkScan(root).estimateStatistics().columnStats().asScala
      .map { case (k, v) => k.fieldNames()(0) -> v }
  }

  test("exact column stats from the manifest; logical-plan propagation") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cstats").toString
    import spark.implicits._
    SinkSource.write((0L until 100L).map(i => (i % 5, i * 3))
      .toDF("k", "v").repartition(4, col("k")), root, overwrite = true)

    val cs = statsOf(root)
    val k = cs("k")
    assert(k.min().get() == java.lang.Long.valueOf(0L))
    assert(k.max().get() == java.lang.Long.valueOf(4L))
    assert(k.distinctCount().getAsLong == 5L, "entry keys are the key domain")
    assert(k.nullCount().getAsLong == 0L)
    val v = cs("v")
    assert(v.min().get() == java.lang.Long.valueOf(0L))
    assert(v.max().get() == java.lang.Long.valueOf(297L))
    assert(v.nullCount().getAsLong == 0L)
    assert(!v.distinctCount().isPresent,
      "no NDV sketch exists for non-key columns — must stay unknown")

    // propagation: the V2 relation's logical stats carry them
    val df = SinkSource.load(spark, root)
    val rel = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head
    val attr = rel.stats.attributeStats
    assert(attr.nonEmpty, "column stats must reach the logical plan")
    val kStat = attr.find(_._1.name == "k").map(_._2)
    assert(kStat.exists(_.distinctCount.contains(BigInt(5))),
      s"k's exact NDV must propagate: $kStat")
  }

  test("MoR posture: min/max stay (sound bounds), exactness claims withheld") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cstats_mor").toString
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    s.conf.set("spark.sql.catalog.graft_cstm", classOf[SinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_cstm.root", root)
    s.conf.set("spark.sql.catalog.graft_cstm.mor", "true")
    import s.implicits._
    SinkSource.write((0L until 50L).map(i => (i % 5, i)).toDF("k", "v"),
      s"$root/t", overwrite = true)
    s.sql("DELETE FROM graft_cstm.t WHERE v % 7 = 1") // DVs land
    assert(SinkSource.deleteSidecar(s"$root/t").nonEmpty)
    import scala.jdk.CollectionConverters._
    val cs = new SinkScan(s"$root/t", mor = true).estimateStatistics()
      .columnStats().asScala
      .map { case (nr, st) => nr.fieldNames()(0) -> st }
    val k = cs("k")
    assert(k.min().get() == java.lang.Long.valueOf(0L) &&
      k.max().get() == java.lang.Long.valueOf(4L),
      "min/max are sound bounds under tombstones and must stay")
    assert(!k.distinctCount().isPresent && !k.nullCount().isPresent,
      "exactness claims must be withheld once rows can be tombstoned")
    assert(!cs("v").nullCount().isPresent,
      "null counts ignore tombstones — withheld under MoR")
    assert(cs("v").min().isPresent, "v zone bounds must stay")
  }

  test("soundness gates: bucket-era keys and uncovered columns withheld") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cstats2").toString
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    s.conf.set("spark.sql.catalog.graft_cst", classOf[SinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_cst.root", root)
    import s.implicits._
    SinkSource.write((0L until 20L).map(i => (i % 5, i)).toDF("k", "v"),
      s"$root/t", overwrite = true)
    s.sql("CALL graft_cst.evolve_spec('t', 'bucket(2)')").collect()
    SinkSource.write((20L until 40L).map(i => (i % 5, i)).toDF("k", "v"),
      s"$root/t", overwrite = false)
    val cs = statsOf(s"$root/t")
    assert(!cs.contains("k"),
      "bucket-era entry keys are pmod(k, m), not k — key stats must be withheld")
    assert(cs.get("v").exists(_.min().isPresent),
      "v zone maps are era-independent and must still be reported")
  }
}
