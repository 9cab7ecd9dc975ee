package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Cross-application commit safety (round-15 hardening). Partition and
  * task ids RESET per Spark application, so file-name uniqueness must
  * come from the write itself: every batch commit salts its final data-
  * file names with a queryId-derived tag, and the publish step REFUSES
  * to rename over an existing destination instead of replacing it — a
  * replace would silently lose rows for the current and every
  * historical manifest citing the file. Plus the sidecar-hygiene
  * contract: a published delete sidecar only cites data files the new
  * manifest still lists (metadata deletes and truncates retire their
  * vectors instead of carrying them forever).
  */
class SinkCommitSafetySpec extends SparkSpec {

  test("data-file names are commit-unique across applications") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_commit_uniq").toString
    import spark.implicits._
    val df = Seq((1L, 10L), (2L, 20L)).toDF("k", "v").repartition(2, col("k"))
    // two appends of the SAME frame model two applications whose
    // partition/task ids coincide — only the per-write queryId differs
    SinkSource.write(df, root, overwrite = true)
    SinkSource.write(df, root, overwrite = false)
    val m = SinkSource.manifest(root)
    val names = m.map(_._2)
    assert(names.distinct.size == names.size,
      s"duplicate data-file names across commits: $names")
    assert(SinkSource.load(spark, root).count() == 4,
      "the second application's append must not replace the first's rows")
    // the protocol-level form: same (partition, task), different query
    val w1 = new SinkWriterFactory(root, "app1-q",
      nameTag = SinkWriter.commitTag("app1-q")).createWriter(0, 0L)
    val w2 = new SinkWriterFactory(root, "app2-q",
      nameTag = SinkWriter.commitTag("app2-q")).createWriter(0, 0L)
    w1.write(org.apache.spark.sql.catalyst.InternalRow(5L, 50L))
    w2.write(org.apache.spark.sql.catalyst.InternalRow(5L, 51L))
    val (m1: SinkCommitMessage, m2: SinkCommitMessage) = (w1.commit(), w2.commit())
    val (e1, e2) = (m1.entries, m2.entries)
    assert(e1.map(_._2).intersect(e2.map(_._2)).isEmpty,
      s"two applications staged colliding names: $e1 vs $e2")
  }

  test("publish refuses to rename over an existing data file") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_commit_refuse").toString
    import spark.implicits._
    SinkSource.write(Seq((1L, 10L)).toDF("k", "v").coalesce(1),
      root, overwrite = true)
    val live = SinkSource.manifest(root).head._2
    val f = SinkSource.fs(root)
    // a colliding commit: its staged file carries a LIVE file's name
    val staged = f.create(new Path(root, s"_staging/clobber/$live"), true)
    staged.write("1|999\n".getBytes("UTF-8")); staged.close()
    val before = SinkSource.manifest(root)
    val ex = intercept[IllegalStateException] {
      new SinkBatchWrite(root, "clobber", truncate = false)
        .commit(Array(SinkCommitMessage(Seq((1L, live, 1L)))))
    }
    assert(ex.getMessage.contains("refusing to publish"), ex.getMessage)
    assert(SinkSource.manifest(root) == before,
      "a refused publish must not advance the manifest")
    assert(SinkSource.load(spark, root).collect().map(_.getLong(1)).toSeq
      == Seq(10L), "the live file's rows were replaced")
    // the copy-on-write and merge-on-read DML commits publish their
    // staged files through the same move, so they refuse the same way
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val dml: Seq[(String, SinkCommitMessage => Unit)] = Seq(
      "clobber_cow" -> (m => new SinkReplaceDataWrite(root, "clobber_cow",
        new SinkRowLevelOperation(root, Command.UPDATE)).commit(Array(m))),
      "clobber_dv" -> (m => new SinkDvBatchWrite(root, "clobber_dv",
        new SinkDeltaOperation(root, Command.UPDATE)).commit(Array(m))))
    dml.foreach { case (q, commit) =>
      val st = f.create(new Path(root, s"_staging/$q/$live"), true)
      st.write("1|999\n".getBytes("UTF-8")); st.close()
      val exDml = intercept[IllegalStateException] {
        commit(SinkCommitMessage(Seq((1L, live, 1L))))
      }
      assert(exDml.getMessage.contains("refusing to publish"),
        s"$q: ${exDml.getMessage}")
      assert(SinkSource.manifest(root) == before,
        s"$q: a refused publish must not advance the manifest")
      assert(SinkSource.load(spark, root).collect().map(_.getLong(1)).toSeq
        == Seq(10L), s"$q: the live file's rows were replaced")
    }
  }

  test("metadata delete and truncate retire stale sidecar vectors") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sidecar").toString
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    import s.implicits._
    SinkSource.write((0L until 40L).map(i => (i % 2, i)).toDF("k", "v")
      .repartition(2, col("k")), s"$root/t", overwrite = true)
    s.conf.set("spark.sql.catalog.graft_mor2", classOf[SinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_mor2.root", root)
    s.conf.set("spark.sql.catalog.graft_mor2.mor", "true")
    // fine-grained delete → vectors on BOTH keys' files (v<6 spans
    // even and odd v, i.e. both parity keys)
    s.sql("DELETE FROM graft_mor2.t WHERE v < 6")
    val dvKeys = SinkSource.deleteSidecar(s"$root/t").map(_._1).toSet
    assert(dvKeys.size == 2, s"fixture should vector both files: $dvKeys")
    // key-aligned delete takes the METADATA path and drops key 0's
    // file; the published sidecar must stop citing it
    s.sql("DELETE FROM graft_mor2.t WHERE k = 0")
    val live = SinkSource.manifest(s"$root/t").map(_._2).toSet
    val after = SinkSource.deleteSidecar(s"$root/t")
    assert(after.nonEmpty, "key 1's vector must survive the metadata delete")
    assert(after.forall { case (df, _) => live.contains(df) },
      s"sidecar cites dropped files: $after vs live $live")
    // the surviving vector still applies
    assert(s.sql("SELECT count(*) c FROM graft_mor2.t WHERE v < 6")
      .collect()(0).getLong(0) == 0L)
    // truncate: the new version lists only new files → empty sidecar
    SinkSource.write(Seq((7L, 70L)).toDF("k", "v").coalesce(1),
      s"$root/t", overwrite = true)
    assert(SinkSource.deleteSidecar(s"$root/t").isEmpty,
      "truncate must retire every vector")
  }

  test("the manifest binds its own commit-unique sidecar file") {
    // Round-16 hardening: the sidecar is written under a SALTED name
    // recorded in the manifest's `#dv|<file>` header — the manifest
    // rename (the single commit point) atomically pairs a version with
    // ITS vector list. Under the old fixed `deletes.v<n>.psv` name, a
    // commit that lost the version race could overwrite the winner's
    // sidecar AFTER the winner published, silently deleting the wrong
    // rows. Modeled here by planting a fixed-name sidecar with bogus
    // content next to a published version: reads must keep serving the
    // BOUND list.
    val root = java.nio.file.Files
      .createTempDirectory("graft_sidecar_bind").toString
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    import s.implicits._
    SinkSource.write((0L until 20L).map(i => (i % 2, i)).toDF("k", "v")
      .repartition(2, col("k")), s"$root/t", overwrite = true)
    s.conf.set("spark.sql.catalog.graft_dvb", classOf[SinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_dvb.root", root)
    s.conf.set("spark.sql.catalog.graft_dvb.mor", "true")
    s.sql("DELETE FROM graft_dvb.t WHERE v < 4")
    val v = SinkSource.currentVersion(s"$root/t")
    val f = SinkSource.fs(s"$root/t")
    val mf = f.open(new Path(s"$root/t/manifest.v$v.psv"))
    val lines = try scala.io.Source.fromInputStream(mf, "UTF-8")
      .getLines().toList finally mf.close()
    val bound = lines.find(_.startsWith("#dv|")).map(_.split('|')(1))
    assert(bound.exists(_.startsWith(s"deletes.v$v.")),
      s"manifest must name its commit-unique sidecar: $lines")
    assert(bound.exists(_ != s"deletes.v$v.psv"),
      s"sidecar name must be salted, not the raceable fixed name: $bound")
    val goodPairs = SinkSource.deleteSidecar(s"$root/t")
    assert(goodPairs.nonEmpty)
    // the racing loser's overwrite under the OLD scheme: a fixed-name
    // sidecar with a list that would resurrect the deleted rows
    val bogus = f.create(new Path(s"$root/t/deletes.v$v.psv"), true)
    try bogus.write("".getBytes("UTF-8")) finally bogus.close()
    assert(SinkSource.deleteSidecar(s"$root/t") == goodPairs,
      "reads must resolve the sidecar through the manifest header, " +
        "never the raceable fixed name")
    assert(s.sql("SELECT count(*) c FROM graft_dvb.t WHERE v < 4")
      .collect()(0).getLong(0) == 0L,
      "tombstoned rows resurrected through a planted sidecar")
    // the BOUND sidecar vanishing under a present manifest is loud:
    // reading it as "no tombstones" would resurrect the deleted rows
    f.delete(new Path(s"$root/t/${bound.get}"), false)
    intercept[java.io.FileNotFoundException] {
      SinkSource.deleteSidecar(s"$root/t")
    }
    val lost = intercept[Exception] {
      s.sql("SELECT count(*) c FROM graft_dvb.t WHERE v < 4").collect()
    }
    assert(Iterator.iterate[Throwable](lost)(_.getCause)
      .takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]), lost.toString)
  }
}
