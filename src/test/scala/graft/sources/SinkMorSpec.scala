package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q277 — merge-on-read DELETE with positional deletion vectors. The
  * oracle proves the post-delete table; this spec locks the MoR
  * contract: a DELETE writes vectors and touches NO data file (names,
  * sizes, contents identical), vectors accumulate across deletes,
  * appends carry the sidecar forward, time travel reads each
  * version's own vectors, and pushdowns are refused on MoR reads
  * (manifest counts would ignore tombstones).
  */
class SinkMorSpec extends SparkSpec {

  private def morSession(root: String) = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    s.conf.set("spark.sql.catalog.graft_mor", classOf[SinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_mor.root", root)
    s.conf.set("spark.sql.catalog.graft_mor.mor", "true")
    s
  }

  private def dataFiles(root: String): Map[String, Long] = {
    val f = SinkSource.fs(root)
    f.listStatus(new Path(s"$root/t/data"))
      .filterNot(_.getPath.getName.startsWith("."))
      .map(st => st.getPath.getName -> st.getLen).toMap
  }

  private def rows(s: org.apache.spark.sql.SparkSession, root: String) =
    s.sql("SELECT k, v FROM graft_mor.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("DELETE writes vectors; data files are untouched") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_mor").toString
    import spark.implicits._
    SinkSource.write((0L until 60L).map(i => (i % 3, i)).toDF("k", "v")
      .repartition(3, col("k")), s"$root/t", overwrite = true)
    val s = morSession(root)
    val before = dataFiles(root)

    s.sql("DELETE FROM graft_mor.t WHERE v % 4 = 1")
    assert(dataFiles(root) == before,
      "a merge-on-read delete must not touch data files")
    val expect1 = (0L until 60L).filter(_ % 4 != 1).map(i => (i % 3, i)).sorted
    assert(rows(s, root) == expect1, "first delete wrong")

    // vectors accumulate across a second delete
    s.sql("DELETE FROM graft_mor.t WHERE v >= 50")
    assert(dataFiles(root) == before,
      "the second delete must not touch data files either")
    val expect2 = expect1.filter(_._2 < 50L)
    assert(rows(s, root) == expect2, "second delete wrong")

    // an append carries the sidecar forward
    SinkSource.write(Seq((9L, 900L)).toDF("k", "v").coalesce(1),
      s"$root/t", overwrite = false)
    assert(rows(s, root) == (expect2 :+ (9L, 900L)).sorted,
      "append dropped the deletion vectors")

    // time travel: version 1 (pre-delete) has no tombstones
    val v1 = s.sql("SELECT COUNT(*) FROM graft_mor.t VERSION AS OF 1")
      .collect()(0).getLong(0)
    assert(v1 == 60L, s"the v1 snapshot must pre-date the vectors: $v1")

    // pushdown refusal: COUNT(*) must not come from manifest arithmetic
    val plan = s.sql("SELECT COUNT(*) FROM graft_mor.t")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinkManifestAggScan"),
      s"manifest counts ignore tombstones and must not serve MoR:\n$plan")
    assert(plan.contains("deletionStage("),
      s"MoR reads must go through the vector-merging scan:\n$plan")
  }

  test("UPDATE is vector + append; existing data files untouched") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_mor2").toString
    import spark.implicits._
    SinkSource.write((0L until 40L).map(i => (i % 2, i)).toDF("k", "v")
      .repartition(2, col("k")), s"$root/t", overwrite = true)
    val s = morSession(root)
    val before = dataFiles(root)

    s.sql("UPDATE graft_mor.t SET v = v + 1000 WHERE v % 10 = 3")
    val after = dataFiles(root)
    assert(before.forall { case (n, len) => after.get(n).contains(len) },
      s"an MoR update must not touch existing data files:\n$before\nvs\n$after")
    assert(after.size > before.size,
      "the updated rows must land in NEW appended files")
    val expect = (0L until 40L).map(i => (i % 2, i)).map {
      case (k, v) if v % 10 == 3 => (k, v + 1000)
      case kv => kv
    }.sorted
    assert(rows(s, root) == expect, "UPDATE produced the wrong table")

    // a later delete addresses both original and appended positions
    s.sql("DELETE FROM graft_mor.t WHERE v >= 1000")
    assert(rows(s, root) == expect.filter(_._2 < 1000L),
      "post-update delete must hit appended rows too")

    // MERGE rides the same delta path (round 15; SinkMorMergeSpec
    // pins the full contract) — a matched-delete MERGE tombstones
    // without touching data files, like any other delta command
    val filesBefore2 = dataFiles(root)
    s.sql(
      """MERGE INTO graft_mor.t USING (SELECT 1 AS k, 2 AS v) c
        |ON t.k = c.k WHEN MATCHED THEN DELETE""".stripMargin)
    assert(dataFiles(root) == filesBefore2,
      "a matched-delete MERGE must not touch data files")
    assert(rows(s, root) == expect.filter(r => r._2 < 1000L && r._1 != 1L),
      "MERGE matched-delete produced the wrong table")
  }
}
