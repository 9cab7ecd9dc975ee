package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q302 — history-preserving rollback (`CALL rollback('t', v)`). The
  * oracle proves the restored read; this spec locks the PROTOCOL:
  * rollback is a new commit (history grows, the bad version stays
  * addressable), restoring the head is a no-op, tombstones and the
  * schema id travel with the restored snapshot, expire retires the
  * rolled-over commit's files while keeping the restored ones, and
  * the impossible restores refuse up front.
  */
class SinkRollbackSpec extends SparkSpec {

  private def session() = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    s
  }

  test("rollback is a commit; history stays addressable; expire retires the bad files") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_rollback").toString
    val s = session()
    import s.implicits._
    def df(rows: Seq[(Long, Long)]) = rows.toDF("k", "v")
    SinkSource.write(df(Seq((0L, 1L), (1L, 2L))), s"$root/t",
      overwrite = true)                                              // v1
    SinkSource.write(df(Seq((0L, 3L))), s"$root/t", overwrite = false) // v2
    SinkSource.write(df(Seq((1L, 99L), (2L, 98L))), s"$root/t",
      overwrite = false)                                             // v3 bad
    s.conf.set("spark.sql.catalog.graft_rbs", classOf[SinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_rbs.root", root)
    val res = s.sql("CALL graft_rbs.rollback('t', 2)").collect()(0)
    assert(res.getLong(0) == 2L && res.getLong(1) == 4L, res.toString)
    def rows(q: String) = s.sql(q).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows("SELECT k, v FROM graft_rbs.t") ==
      Seq((0L, 1L), (0L, 3L), (1L, 2L)), "head must equal v2's state")
    // the incident snapshot remains addressable for the post-mortem
    assert(rows("SELECT k, v FROM graft_rbs.t VERSION AS OF 3")
      .contains((1L, 99L)), "bad version must stay readable")
    // restoring the head is a no-op, not a commit
    val noop = s.sql("CALL graft_rbs.rollback('t', 4)").collect()(0)
    assert(noop.getLong(1) == 4L, s"no-op rollback must not commit: $noop")
    assert(SinkSource.currentVersion(s"$root/t") == 4)
    // expire to the head only: v3's exclusive files are GC'd, the
    // restored files (cited by v4) survive
    val sum = s.sql("CALL graft_rbs.expire('t', 1)").collect()(0)
    assert(sum.getLong(2) >= 1L,
      s"the bad commit's exclusive files must be reclaimed: $sum")
    assert(rows("SELECT k, v FROM graft_rbs.t") ==
      Seq((0L, 1L), (0L, 3L), (1L, 2L)), "restored read survived expiry")
  }

  test("rollback restores tombstones and the schema id with the snapshot") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_rollback_mor").toString
    val s = session()
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_rbm", classOf[SinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_rbm.root", root)
    s.conf.set("spark.sql.catalog.graft_rbm.mor", "true")
    SinkSource.write((0L until 6L).map(i => (i % 2, i)).toDF("k", "v"),
      s"$root/t", overwrite = true)                                  // v1
    s.sql("DELETE FROM graft_rbm.t WHERE k = 0 AND v = 2")           // v2 (DV)
    s.sql("ALTER TABLE graft_rbm.t ADD COLUMN w BIGINT")             // v3 (sid 1)
    s.sql("INSERT INTO graft_rbm.t VALUES (0, 100, 7)")              // v4
    s.sql("CALL graft_rbm.rollback('t', 2)").collect()               // v5
    // schema reverted to the pre-ALTER contract...
    assert(s.table("graft_rbm.t").columns.toSeq == Seq("k", "v"),
      "rollback must restore the snapshot's schema")
    // ...and the deletion vector still applies
    val vs = s.table("graft_rbm.t").select("v").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(vs == Seq(0L, 1L, 3L, 4L, 5L),
      s"tombstones must travel with the restored snapshot: $vs")
    // rolling FORWARD to the evolved snapshot restores the evolved
    // schema and its rows
    s.sql("CALL graft_rbm.rollback('t', 4)").collect()               // v6
    assert(s.table("graft_rbm.t").columns.toSeq == Seq("k", "v", "w"))
    val ws = s.table("graft_rbm.t").select("w").collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq
    assert(ws == Seq(-1L, -1L, -1L, -1L, -1L, 7L),
      s"pre-evolution rows read NULL, the evolved row reads back: $ws")
  }

  test("impossible restores refuse up front") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_rollback_refuse").toString
    val s = session()
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft_rbr", classOf[SinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_rbr.root", root)
    SinkSource.write(Seq((0L, 1L)).toDF("k", "v"), s"$root/t",
      overwrite = true)                                              // v1
    SinkSource.write(Seq((0L, 2L)).toDF("k", "v"), s"$root/t",
      overwrite = true)                                              // v2 truncate
    // v1's files were eagerly reclaimed by the truncate
    val gc = intercept[Exception] {
      s.sql("CALL graft_rbr.rollback('t', 1)").collect() }
    assert(gc.getMessage.contains("reclaimed"), gc.getMessage)
    assert(SinkSource.currentVersion(s"$root/t") == 2,
      "a refused rollback must not publish")
    // outside history
    intercept[Exception] {
      s.sql("CALL graft_rbr.rollback('t', 7)").collect() }
    intercept[Exception] {
      s.sql("CALL graft_rbr.rollback('t', 0)").collect() }
  }

  test("a re-cited file stays subject to the target's equality deletes") {
    // the restored snapshot is the target's, file sequence numbers
    // included: a file the head no longer cites comes back with the
    // sequence number it had, not as a file born at the rollback
    // (which would exempt it from the deletes and resurrect rows)
    val root = java.nio.file.Files
      .createTempDirectory("graft_rollback_eq").toString
    val s = session()
    import s.implicits._
    SinkSource.write(Seq((0L, 1L), (0L, 2L)).toDF("k", "v").coalesce(1),
      s"$root/t", overwrite = true)                                  // v1
    val file = SinkSource.manifest(s"$root/t").head._2
    SinkSource.equalityDelete(s"$root/t", "v", Seq(2L))              // v2
    // un-cite the file without reclaiming its bytes
    SinkSource.transact(s"$root/t")(_ => (Seq.empty, Set(file)))     // v3
    s.conf.set("spark.sql.catalog.graft_rbq", classOf[SinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_rbq.root", root)
    s.sql("CALL graft_rbq.rollback('t', 2)").collect()               // v4
    assert(SinkSource.eqDeletes(s"$root/t") ==
      SinkSource.eqDeletes(s"$root/t", Some(2)))
    val vs = SinkSource.load(s, s"$root/t", mor = true).select("v")
      .collect().map(_.getLong(0)).toSeq
    assert(vs == Seq(1L), s"the rollback resurrected a deleted row: $vs")
  }
}
