package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q299 — orphan-file cleanup. The oracle proves the table is
  * untouched; this spec locks the verb's judgment calls:
  *   - CITED files are never eligible, however old — including files
  *     cited only by HISTORICAL manifests (time travel keeps working);
  *   - the grace window protects young files (a commit in flight);
  *   - staging attempts are removed whole, by the age of their
  *     NEWEST content;
  *   - counts report only performed deletes.
  */
class SinkOrphanSpec extends SparkSpec {

  private def catalogOn(root: String, name: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[SinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
  }

  private def plant(f: org.apache.hadoop.fs.FileSystem, p: String): Unit = {
    val out = f.create(new Path(p), true)
    try out.write("0|1\n".getBytes("UTF-8")) finally out.close()
  }

  test("cited files survive any grace; orphans go; history stays readable") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_orph").toString
    import spark.implicits._
    SinkSource.write(Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1),
      s"$root/t", overwrite = true)                                   // v1
    SinkSource.write(Seq((3L, 30L)).toDF("k", "v").coalesce(1),
      s"$root/t", overwrite = false)                                  // v2
    val f = SinkSource.fs(root)
    plant(f, s"$root/t/data/qorphan_p0_t0_k9.psv")
    plant(f, s"$root/t/_staging/dead-query/att.psv")
    catalogOn(root, "graft_orphspec")
    val r = spark.sql("CALL graft_orphspec.remove_orphans('t', 0)")
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 0L, 1L)),
      s"counts: $r")
    // every cited file (current AND historical) survived
    val cited = (1 to 2).flatMap(v =>
      SinkSource.manifest(s"$root/t", Some(v)).map(_._2)).toSet
    cited.foreach(fl => assert(f.exists(new Path(s"$root/t/data/$fl")),
      s"cited file swept: $fl"))
    // time travel still answers
    assert(SinkSource.load(spark, s"$root/t").count() == 3)
    spark.conf.set("spark.sql.catalog.graft_orphspec.root", root)
    assert(spark.sql("SELECT * FROM graft_orphspec.t VERSION AS OF 1")
      .count() == 2)
    // idempotent: nothing left to reclaim
    val r2 = spark.sql("CALL graft_orphspec.remove_orphans('t', 0)")
      .collect()(0)
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) == ((0L, 0L, 0L)))
  }

  test("the grace window protects young debris") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_orph_grace").toString
    import spark.implicits._
    SinkSource.write(Seq((1L, 1L)).toDF("k", "v").coalesce(1),
      s"$root/t", overwrite = true)
    val f = SinkSource.fs(root)
    plant(f, s"$root/t/data/qyoung_p0_t0_k9.psv")
    catalogOn(root, "graft_orphg")
    val r = spark.sql("CALL graft_orphg.remove_orphans('t', 3600000)")
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((0L, 0L, 0L)),
      s"grace must refuse young debris: $r")
    assert(f.exists(new Path(s"$root/t/data/qyoung_p0_t0_k9.psv")))
    // backdate it past the window -> eligible
    f.setTimes(new Path(s"$root/t/data/qyoung_p0_t0_k9.psv"),
      System.currentTimeMillis() - 7200000L, -1)
    val r2 = spark.sql("CALL graft_orphg.remove_orphans('t', 3600000)")
      .collect()(0)
    assert(r2.getLong(0) == 1L, s"backdated orphan must go: $r2")
  }

  test("aged publish tmp files at the table root go; fresh ones stay") {
    // a crash between a metadata publish's tmp create and its rename
    // strands a `_tmp_*` file beside the manifests
    val root = java.nio.file.Files
      .createTempDirectory("graft_orph_tmp").toString
    import spark.implicits._
    SinkSource.write(Seq((1L, 1L)).toDF("k", "v").coalesce(1),
      s"$root/t", overwrite = true)
    val f = SinkSource.fs(root)
    plant(f, s"$root/t/_tmp_manifest_x")
    plant(f, s"$root/t/_tmp_manifest_y")
    f.setTimes(new Path(s"$root/t/_tmp_manifest_x"),
      System.currentTimeMillis() - 120000L, -1)
    catalogOn(root, "graft_orpht")
    val r = spark.sql("CALL graft_orpht.remove_orphans('t', 60000)")
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((0L, 0L, 1L)),
      s"counts: $r")
    assert(!f.exists(new Path(s"$root/t/_tmp_manifest_x")),
      "the aged publish tmp must go")
    assert(f.exists(new Path(s"$root/t/_tmp_manifest_y")),
      "a publish tmp inside the grace window may be in flight")
    assert(SinkSource.load(spark, s"$root/t").count() == 1)
  }
}
