package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The guards every sink `CALL` verb gets before its body runs: a
  * BIGINT argument that a verb uses as an INT is range-checked instead
  * of wrapped (4294967297 would otherwise read as 1), and a table
  * whose directory does not exist is refused with the catalog's own
  * `NoSuchTableException` instead of being read as an empty version 0.
  */
class SinkProcedureGuardSpec extends SparkSpec {

  private def session(name: String, root: String) = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    s.conf.set(s"spark.sql.catalog.$name", classOf[SinkCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.root", root)
    s
  }

  /** A three-version (k, v) table at `root/t`. */
  private def threeVersions(s: org.apache.spark.sql.SparkSession,
      root: String): Unit = {
    import s.implicits._
    SinkSource.write((0L until 6L).map(i => (i % 2, i)).toDF("k", "v")
      .repartition(2, col("k")), s"$root/t", overwrite = true)   // v1
    SinkSource.write(Seq((0L, 10L)).toDF("k", "v"), s"$root/t",
      overwrite = false)                                          // v2
    SinkSource.write(Seq((1L, 11L)).toDF("k", "v"), s"$root/t",
      overwrite = false)                                          // v3
  }

  test("expire refuses a keep_last beyond INT range and keeps every version") {
    val root = java.nio.file.Files.createTempDirectory("graft_pgx").toString
    val s = session("graft_pgx", root)
    threeVersions(s, root)
    val e = intercept[IllegalArgumentException] {
      // 4294967297 = 2^32 + 1: read as an INT it would be keep_last = 1
      s.sql("CALL graft_pgx.expire('t', 4294967297)").collect()
    }
    assert(e.getMessage.contains("keep_last"), e.getMessage)
    assert(SinkSource.currentVersion(s"$root/t") == 3)
    Seq(1 -> 6L, 2 -> 7L, 3 -> 8L).foreach { case (v, n) =>
      val got = s.sql(s"SELECT COUNT(*) FROM graft_pgx.t VERSION AS OF $v")
        .collect()(0).getLong(0)
      assert(got == n, s"version $v must stay readable after the refused expire")
    }
  }

  test("tag, rollback, rewrite_clustered and build_bloom refuse an INT overflow") {
    val root = java.nio.file.Files.createTempDirectory("graft_pgi").toString
    val s = session("graft_pgi", root)
    threeVersions(s, root)
    val path = s"$root/t"
    val headBefore = SinkSource.state(path)
    Seq(
      "version" -> "tag('t', 4294967297, 'wrapped')",          // would tag v1
      "version" -> "rollback('t', 4294967298)",                // would restore v2
      "partitions" -> "rewrite_clustered('t', 'v', 4294967297)", // would use 1
      "bits_per_row" -> "build_bloom('t', 'v', 4294967306)"    // would use 10
    ).foreach { case (param, call) =>
      val e = intercept[IllegalArgumentException] {
        s.sql(s"CALL graft_pgi.$call").collect()
      }
      assert(e.getMessage.contains(param), s"$call: ${e.getMessage}")
    }
    assert(SinkSource.currentVersion(path) == 3, "a refused call published")
    assert(SinkSource.tags(path).isEmpty, "a refused tag call wrote a tag")
    val head = SinkSource.state(path)
    assert(head.files == headBefore.files,
      "a refused call changed the head's files or their blooms")
  }

  test("a NULL argument is refused by name, not read as zero") {
    val root = java.nio.file.Files.createTempDirectory("graft_pgn").toString
    val s = session("graft_pgn", root)
    threeVersions(s, root)
    val f = SinkSource.fs(root)
    // a stray data file no manifest cites: a NULL grace read as 0
    // would make it an orphan due for deletion right now
    val stray = new Path(s"$root/t/data/stray.psv")
    f.create(stray, true).close()
    val e = intercept[IllegalArgumentException] {
      s.sql("CALL graft_pgn.remove_orphans('t', NULL)").collect()
    }
    assert(e.getMessage.contains("grace_ms"), e.getMessage)
    assert(f.exists(stray), "the refused call deleted an orphan")
  }

  test("a verb on a missing table throws NoSuchTableException and creates nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft_pgm").toString
    val s = session("graft_pgm", root)
    val f = SinkSource.fs(root)
    Seq("branch('ghost', 'dev')", "expire('ghost', 1)",
      "remove_orphans('ghost', 0)", "tag('ghost', 1, 'x')",
      "compact('ghost')").foreach { call =>
      intercept[NoSuchTableException] {
        s.sql(s"CALL graft_pgm.$call").collect()
      }
      assert(!f.exists(new Path(root, "ghost")), s"$call created the table")
    }
    // a created, never-written table is a table: evolve_spec keeps its
    // own refusal for it
    f.mkdirs(new Path(root, "empty"))
    intercept[IllegalStateException] {
      s.sql("CALL graft_pgm.evolve_spec('empty', 'bucket(4)')").collect()
    }
  }
}
