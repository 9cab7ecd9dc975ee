package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-17 multi-writer hardening. Five advisory findings, each
  * pinned at the protocol level:
  *
  *   1. truncate GCs ONLY the files the replaced head cited — never
  *      by directory listing, so a concurrent append's moved-but-not-
  *      yet-committed files survive (uncited strays belong to
  *      remove_orphans' grace sweep);
  *   2. the MoR delta commit's serializable validation also sees
  *      EQUALITY deletes that landed after its scan (a racing MoR
  *      UPDATE would otherwise re-insert takedown-targeted rows above
  *      the delete's sequence number);
  *   3. fast_forward COPIES branch files into main (rename would
  *      strand the branch manifest on a lost CAS and let the parent's
  *      orphan sweep destroy branch-only rows) — a failed promotion
  *      leaves the branch fully readable;
  *   4. rewrite_clustered and compact refuse positional deletion
  *      vectors through a non-MoR catalog (a raw rewrite reads files
  *      unmerged yet retires their vectors — silent resurrection),
  *      mirroring the equality-delete guard;
  *   5. the change feed refuses equality deletes by EFFECTIVE state
  *      (headers applying to some cited file): adding or reverting an
  *      applying delete refuses; carrying or pruning a dead header is
  *      a non-event.
  */
class ConcurrencyHardeningSpec extends SparkSpec {

  private def temp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_hard_$tag").toString

  private def catalogFor(name: String, root: String,
      mor: Boolean = false) = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    s.conf.set(s"spark.sql.catalog.$name", classOf[SinkCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.root", root)
    if (mor) s.conf.set(s"spark.sql.catalog.$name.mor", "true")
    s
  }

  test("truncate spares uncited in-flight files; GCs only the replaced head") {
    val root = temp("trunc")
    import spark.implicits._
    SinkSource.write(Seq((0L, 1L), (1L, 2L)).toDF("k", "v")
      .repartition(2, col("k")), s"$root/t", overwrite = true)       // v1
    val v1Files = SinkSource.manifest(s"$root/t").map(_._2).toSet
    // a concurrent append moves its staged files into data/ BEFORE
    // its manifest CAS — model that exact window with an uncited file
    val f = SinkSource.fs(s"$root/t")
    val inflight = "qrace_p0_t0_k7.psv"
    val out = f.create(new Path(s"$root/t/data/$inflight"), true)
    out.write("7|70\n".getBytes("UTF-8")); out.close()
    SinkSource.write(Seq((9L, 90L)).toDF("k", "v"), s"$root/t",
      overwrite = true)                                              // v2
    assert(f.exists(new Path(s"$root/t/data/$inflight")),
      "truncate must not GC an uncited (commit-in-flight) file")
    v1Files.foreach(fl => assert(
      !f.exists(new Path(s"$root/t/data/$fl")),
      s"the replaced head's file $fl must be GC'd"))
    // the in-flight commit lands at v3 citing its file — readable
    val v2 = SinkSource.state(s"$root/t")
    SinkSource.writeManifest(s"$root/t", v2,
      v2.cite(Seq((7L, inflight, 1L)), _ => SinkSource.FileMeta(Seq.empty)))
    val got = SinkSource.load(spark, s"$root/t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((9L, 90L), (7L, 70L)), s"racing append lost rows: $got")
  }

  test("MoR delta aborts when a concurrent equality delete lands after its scan") {
    val root = temp("eqrace")
    import spark.implicits._
    SinkSource.write(Seq((0L, 1L), (0L, 2L), (1L, 10L)).toDF("k", "v")
      .repartition(2, col("k")), root, overwrite = true)             // v1
    val dataFile = SinkSource.manifest(root).find(_._1 == 0L).get._2
    // operation A (an UPDATE/DELETE) plans its scan at v1...
    val op = new SinkDeltaOperation(root,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE)
    new SinkDeltaScan(root, op).planInputPartitions()
    assert(op.scannedVersion.get() == 1)
    // ...then a concurrent EQUALITY delete (value-keyed, invisible to
    // the positional sidecar) commits at v2
    SinkSource.equalityDelete(root, "v", Seq(2L))                    // v2
    val f = SinkSource.fs(root)
    val st = f.create(new Path(root, "_staging/hard_eq/hard_eq_vec.psv"), true)
    st.write("0\n".getBytes("UTF-8")); st.close()
    val vBefore = SinkSource.currentVersion(root)
    val ex = intercept[SinkConflictException] {
      new SinkDvBatchWrite(root, "hard_eq", op)
        .commit(Array(SinkCommitMessage(Seq.empty,
          vectors = Seq((dataFile, "hard_eq_vec.psv")))))
    }
    assert(ex.getMessage.contains("equality delete"), ex.getMessage)
    assert(SinkSource.currentVersion(root) == vBefore,
      "a conflicting delta commit must not publish")
  }

  test("a failed fast-forward leaves the branch fully readable (copy, not move)") {
    val root = temp("ffcopy")
    val s = catalogFor("graft_hff", root)
    import s.implicits._
    SinkSource.write(Seq((0L, 1L)).toDF("k", "v"), s"$root/t",
      overwrite = true)                                              // v1
    s.sql("CALL graft_hff.branch('t', 'dev')").collect()
    s.sql("INSERT INTO graft_hff.t.branch_dev VALUES (1, 10), (2, 20)")
    val branchLocal = SinkSource.manifest(s"$root/t/_branch_dev")
      .map(_._2).filterNot(_.startsWith(SinkSource.BorrowedPrefix))
      .distinct
    assert(branchLocal.size >= 2, s"need 2+ local files: $branchLocal")
    // a stray in main's data dir collides with the LAST branch file:
    // the promotion fails mid-publish, after some files already went
    // over — exactly where a rename would have stranded the branch
    val f = SinkSource.fs(s"$root/t")
    val out = f.create(new Path(s"$root/t/data/${branchLocal.last}"), true)
    out.write("9|99\n".getBytes("UTF-8")); out.close()
    val vBefore = SinkSource.currentVersion(s"$root/t")
    intercept[IllegalStateException] {
      s.sql("CALL graft_hff.fast_forward('t', 'dev')").collect()
    }
    assert(SinkSource.currentVersion(s"$root/t") == vBefore,
      "a failed promotion must not publish on main")
    val branchRead = s.sql("SELECT k, v FROM graft_hff.t.branch_dev")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(branchRead == Set((0L, 1L), (1L, 10L), (2L, 20L)),
      s"the branch must survive its failed promotion intact: $branchRead")
  }

  /** Raw-catalog UPDATE and DELETE of `table` at `path` — rows
    * (i % 2, i) for i in 0..7 with v = 3 tombstoned — refuse with
    * `reason` and leave the merged read at 0,1,2,4,5,6,7. */
  private def rawDml(s: org.apache.spark.sql.SparkSession, table: String,
      path: String, reason: String): Unit = {
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    Seq(s"UPDATE $table SET v = v + 100 WHERE v = 1",
        s"DELETE FROM $table WHERE v = 1").foreach { dml =>
      val ex = intercept[Exception](s.sql(dml))
      assert(messages(ex).contains(reason) &&
        messages(ex).contains("mor=true"), messages(ex))
      val vs = SinkSource.load(s, path, mor = true).select("v")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(vs == Seq(0L, 1L, 2L, 4L, 5L, 6L, 7L),
        s"a refused $dml changed the table: $vs")
    }
  }

  test("rewrite_clustered and compact refuse deletion vectors through a raw catalog") {
    val root = temp("dvraw")
    val sMor = catalogFor("graft_hdvm", root, mor = true)
    import sMor.implicits._
    SinkSource.write((0L until 8L).map(i => (i % 2, i)).toDF("k", "v")
      .repartition(2, col("k")), s"$root/t", overwrite = true)       // v1
    sMor.sql("DELETE FROM graft_hdvm.t WHERE v = 3")                 // v2 (DV)
    assert(SinkSource.deleteSidecar(s"$root/t").nonEmpty)
    val sRaw = catalogFor("graft_hdvr", root)
    val exR = intercept[UnsupportedOperationException] {
      sRaw.sql("CALL graft_hdvr.rewrite_clustered('t', 'v', 2)").collect()
    }
    assert(exR.getMessage.contains("deletion vectors"), exR.getMessage)
    val exC = intercept[UnsupportedOperationException] {
      sRaw.sql("CALL graft_hdvr.compact('t')").collect()
    }
    assert(exC.getMessage.contains("deletion vectors"), exC.getMessage)
    // copy-on-write DML through the raw catalog reads files the same
    // raw way (rewritten rows would escape their vectors) and refuses
    // the same way, leaving the table as it was
    rawDml(sRaw, "graft_hdvr.t", s"$root/t", "deletion vectors")
    // an equality-deleted table: every raw rewrite refuses too
    SinkSource.write((0L until 8L).map(i => (i % 2, i)).toDF("k", "v")
      .repartition(2, col("k")), s"$root/e", overwrite = true)       // v1
    SinkSource.equalityDelete(s"$root/e", "v", Seq(3L))              // v2
    Seq("CALL graft_hdvr.rewrite_clustered('e', 'v', 2)",
        "CALL graft_hdvr.compact('e')").foreach { call =>
      val ex = intercept[UnsupportedOperationException] {
        sRaw.sql(call).collect()
      }
      assert(ex.getMessage.contains("equality deletes"), ex.getMessage)
    }
    rawDml(sRaw, "graft_hdvr.e", s"$root/e", "equality deletes")
    // the MoR catalog still materializes both verbs fine
    sMor.sql("CALL graft_hdvm.compact('t')").collect()
    assert(SinkSource.deleteSidecar(s"$root/t").isEmpty)
    val vs = SinkSource.load(sMor, s"$root/t").select("v")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(vs == Seq(0L, 1L, 2L, 4L, 5L, 6L, 7L), s"merged rewrite: $vs")
  }

  test("change feed: applying eq deletes refuse; dead-header churn is a non-event") {
    val root = temp("cdfeq")
    val s = catalogFor("graft_hcdf", root)
    import s.implicits._
    SinkSource.write(Seq((0L, 1L), (0L, 2L)).toDF("k", "v").coalesce(1),
      s"$root/t", overwrite = true)                                  // v1
    SinkSource.equalityDelete(s"$root/t", "v", Seq(2L))              // v2
    // an APPLYING delete landed at v2: the window refuses
    val exAdd = intercept[UnsupportedOperationException] {
      SinkChanges.load(s, s"$root/t", 1, 2).collect()
    }
    assert(exAdd.getMessage.contains("EQUALITY"), exAdd.getMessage)
    // carrying the header forward over an append is a non-event
    SinkSource.write(Seq((1L, 30L)).toDF("k", "v").coalesce(1),
      s"$root/t", overwrite = false)                                 // v3
    val carried = SinkChanges.load(s, s"$root/t", 2, 3)
      .collect().map(r => (r.getLong(1), r.getString(2))).toSet
    assert(carried == Set((30L, "insert")), s"carry must feed: $carried")
    // a rollback that REVERTS the applying delete resurrects rows
    // with no metadata-derivable change set — refuse, like the add
    val eqAt2 = SinkSource.eqDeletes(s"$root/t", Some(2))
    val v3 = SinkSource.state(s"$root/t")
    SinkSource.writeManifest(s"$root/t", v3,
      v3.copy(eqDeletes = Seq.empty))                                // v4
    val exRevert = intercept[UnsupportedOperationException] {
      SinkChanges.load(s, s"$root/t", 3, 4).collect()
    }
    assert(exRevert.getMessage.contains("EQUALITY"), exRevert.getMessage)
    // DEAD-header churn (seq at or below every cited file's seq —
    // applies to nothing): publishing it and pruning it both feed
    val v4 = SinkSource.state(s"$root/t")
    SinkSource.writeManifest(s"$root/t", v4, v4.copy(
      eqDeletes = eqAt2.map { case (fl, fid, _) => (fl, fid, 0) }))  // v5
    assert(SinkChanges.load(s, s"$root/t", 4, 5).collect().isEmpty,
      "adding a dead header must be a non-event")
    val v5 = SinkSource.state(s"$root/t")
    SinkSource.writeManifest(s"$root/t", v5,
      v5.copy(eqDeletes = Seq.empty))                                // v6
    assert(SinkChanges.load(s, s"$root/t", 5, 6).collect().isEmpty,
      "pruning a dead header must be a non-event")
  }
}
