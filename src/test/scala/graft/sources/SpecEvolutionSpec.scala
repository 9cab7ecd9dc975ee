package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q311 — partition spec evolution. The oracle proves the pruned
  * cross-era read; this spec locks the machinery underneath:
  *
  *   - evolve is a metadata-only commit (no file moves) and new
  *     writes group under the new spec while old files keep their
  *     era;
  *   - pruning consults each file's OWN era — pinned per-era with
  *     physical-delete kill-shots, including a RANGE predicate that
  *     can only survive on the bucket era via the per-file k stats;
  *   - the exactness refusal matrix: metadata DELETE falls back to
  *     the (exact) row-level path, overwrite-by-filter refuses,
  *     partition DDL refuses, grouped agg pushdown falls back;
  *   - lifecycle interplay: uniform bucket-era compaction works and
  *     stays in-era; mixed-era compaction refuses; rewrite_clustered
  *     under an evolved current spec refuses, and after evolving back
  *     to identity it MIGRATES every old-era file (clearing the
  *     refusals); rollback restores the spec pointer and file eras;
  *   - the evolve procedure's own refusals (malformed transform,
  *     degenerate bucket, re-declaring current, never-committed,
  *     live branches).
  */
class SpecEvolutionSpec extends SparkSpec {

  private def session(name: String, root: String) = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    s.conf.set(s"spark.sql.catalog.$name", classOf[SinkCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.root", root)
    s
  }

  private def rows(s: org.apache.spark.sql.SparkSession,
      t: String): Set[(Long, Long)] =
    SinkSource.load(s, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("evolve is metadata-only; eras coexist; pruning is per-era (kill-shots)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_pse_core").toString
    val s = session("graft_psec", root)
    import s.implicits._
    // identity era: k in 0..9, one group per k
    SinkSource.write((0L until 30L).map(i => (i % 10, i)).toDF("k", "v")
      .repartition(4, col("k")), s"$root/t", overwrite = true)       // v1
    val v1Files = SinkSource.manifest(s"$root/t").map(_._2).toSet
    val ff = s.sql("CALL graft_psec.evolve_spec('t', 'bucket(4)')")
      .collect()(0)                                                  // v2
    assert(ff.getLong(0) == 2L && ff.getLong(1) == 1L, ff.toString)
    assert(SinkSource.manifest(s"$root/t").map(_._2).toSet == v1Files,
      "evolution must not move or rewrite a file")
    assert(SinkSource.fileSpecs(s"$root/t").isEmpty,
      "pre-evolution files stay identity-era")
    // bucket era: same key domain, now grouped by pmod(k, 4)
    SinkSource.write((30L until 60L).map(i => (i % 10, i)).toDF("k", "v")
      .repartition(2, col("k")), s"$root/t", overwrite = false)      // v3
    val m = SinkSource.manifest(s"$root/t")
    val fsp = SinkSource.fileSpecs(s"$root/t")
    val bucketEntries = m.filter(e => fsp.getOrElse(e._2, 0) != 0)
    assert(bucketEntries.nonEmpty, "new files must carry the new era")
    assert(bucketEntries.map(_._1).toSet.subsetOf(Set(0L, 1L, 2L, 3L)),
      s"bucket-era manifest keys are pmod(k, 4): ${bucketEntries.map(_._1)}")
    assert(rows(s, s"$root/t") ==
      (0L until 60L).map(i => (i % 10, i)).toSet,
      "the cross-era read must see every row")
    // kill-shot 1 (equality): k = 7 needs identity key 7 and bucket
    // id pmod(7,4) = 3 only — every other file is deleted from disk
    val keepEq = m.filter { case (key, fl, _) =>
      if (fsp.getOrElse(fl, 0) == 0) key == 7L else key == 3L
    }.map(_._2).toSet
    val f = SinkSource.fs(s"$root/t")
    // stage the doomed files aside (restore for the range arm below)
    val aside = new Path(s"$root/aside"); f.mkdirs(aside)
    m.map(_._2).distinct.filterNot(keepEq).foreach(fl =>
      assert(f.rename(new Path(s"$root/t/data/$fl"), new Path(aside, fl))))
    val eq = SinkSource.load(s, s"$root/t").filter(col("k") === 7)
      .select("v").collect().map(_.getLong(0)).toSet
    assert(eq == (0L until 60L).filter(_ % 10 == 7).toSet,
      s"per-era equality pruning must keep exactly k=7's rows: $eq")
    f.listStatus(aside).foreach(st =>
      assert(f.rename(st.getPath, new Path(s"$root/t/data/${st.getPath.getName}"))))
    // kill-shot 2 (range): v1 holds k 0..9 with v < 30, the bucket
    // era v >= 30 — a k >= 8 range can only prune bucket files via
    // their per-file k min/max stats (bucket ids 0..3 prove nothing)
    val statted = bucketEntries.map(_._2).distinct.filter(fl =>
      SinkSource.manifestStats(s"$root/t").get(fl)
        .exists(_.exists(_._1 == 1)))
    assert(statted == bucketEntries.map(_._2).distinct,
      "bucket-era writers must record k stats on every file")
    val keepRange = m.filter { case (key, fl, _) =>
      if (fsp.getOrElse(fl, 0) == 0) key >= 8L
      else {
        // a bucket file survives iff its recorded k-range overlaps
        val st = SinkSource.manifestStats(s"$root/t").get(fl)
        st.exists(_.exists { case (id, _, mx) => id == 1 && mx >= 8L })
      }
    }.map(_._2).toSet
    m.map(_._2).distinct.filterNot(keepRange).foreach(fl =>
      f.delete(new Path(s"$root/t/data/$fl"), false))
    val rng = SinkSource.load(s, s"$root/t").filter(col("k") >= 8)
      .select("v").collect().map(_.getLong(0)).toSet
    assert(rng == (0L until 60L).filter(_ % 10 >= 8).toSet,
      s"per-era range pruning must keep exactly k>=8's rows: $rng")
  }

  test("exactness refusal matrix: delete, overwrite, DDL, agg pushdown") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_pse_matrix").toString
    val s = session("graft_psem", root)
    import s.implicits._
    SinkSource.write((0L until 20L).map(i => (i % 5, i)).toDF("k", "v")
      .repartition(2, col("k")), s"$root/t", overwrite = true)       // v1
    s.sql("CALL graft_psem.evolve_spec('t', 'bucket(2)')").collect() // v2
    SinkSource.write((20L until 40L).map(i => (i % 5, i)).toDF("k", "v"),
      s"$root/t", overwrite = false)                                 // v3
    // metadata DELETE is refused (canDeleteWhere) so the engine takes
    // the row-level path — which is EXACT across eras: only k = 2
    // rows die, co-bucketed keys survive
    s.sql("DELETE FROM graft_psem.t WHERE k = 2")
    assert(rows(s, s"$root/t") ==
      (0L until 40L).map(i => (i % 5, i)).filterNot(_._1 == 2L).toSet,
      "row-level fallback must be exact across eras")
    // the rewritten groups land in the CURRENT era
    val fsp = SinkSource.fileSpecs(s"$root/t")
    assert(SinkSource.manifest(s"$root/t")
      .exists(e => fsp.getOrElse(e._2, 0) != 0))
    // overwrite-by-filter refuses loudly (a key-filtered swap would
    // drop co-bucketed rows)
    val exOw = intercept[Exception] {
      Seq((1L, 100L)).toDF("k", "v").writeTo("graft_psem.t")
        .overwrite(col("k") === 1)
    }
    assert(exOw.getMessage.contains("evolved partition spec"),
      exOw.getMessage)
    // partition DDL refuses on the evolved table
    val sp = session("graft_psemp", root)
    sp.conf.set("spark.sql.catalog.graft_psemp.partman", "true")
    val exShow = intercept[UnsupportedOperationException] {
      sp.sql("SHOW PARTITIONS graft_psemp.t").collect()
    }
    assert(exShow.getMessage.contains("era"), exShow.getMessage)
    // (the engine may resolve the partition via the listing first, so
    // either the listing's or dropPartition's era refusal surfaces)
    val exDrop = intercept[UnsupportedOperationException] {
      sp.sql("ALTER TABLE graft_psemp.t DROP PARTITION (k=1)").collect()
    }
    assert(exDrop.getMessage.contains("era"), exDrop.getMessage)
    // grouped agg pushdown falls back to the row scan (keys are
    // bucket ids, not k values) — and the answer is still right
    val agg = s.sql("SELECT k, COUNT(*) AS n FROM graft_psem.t GROUP BY k")
    assert(!agg.queryExecution.executedPlan.toString
      .contains("PushedAggregation"),
      "grouped count must not be served from evolved manifest keys")
    assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (0L until 40L).map(i => i % 5).filterNot(_ == 2L)
        .groupBy(identity).map { case (k, g) => (k, g.size.toLong) }.toSet)
    // global COUNT(*) stays metadata-served (era-agnostic truth)
    val cnt = s.sql("SELECT COUNT(*) FROM graft_psem.t")
    assert(cnt.queryExecution.executedPlan.toString.contains("LocalTableScan")
      || cnt.collect()(0).getLong(0) == 32L)
    assert(cnt.collect()(0).getLong(0) == 32L)
  }

  test("lifecycle: in-era compaction, mixed refusals, migration, rollback") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_pse_life").toString
    val s = session("graft_psel", root)
    import s.implicits._
    SinkSource.write((0L until 12L).map(i => (i % 6, i)).toDF("k", "v")
      .repartition(3, col("k")), s"$root/t", overwrite = true)       // v1
    s.sql("CALL graft_psel.evolve_spec('t', 'bucket(3)')").collect() // v2
    // two bucket-era appends fragment the buckets
    SinkSource.write((12L until 24L).map(i => (i % 6, i)).toDF("k", "v"),
      s"$root/t", overwrite = false)                                 // v3
    SinkSource.write((24L until 36L).map(i => (i % 6, i)).toDF("k", "v"),
      s"$root/t", overwrite = false)                                 // v4
    val all = (0L until 36L).map(i => (i % 6, i)).toSet
    // mixed eras: compact refuses (regrouping by key is incoherent)
    val exMix = intercept[UnsupportedOperationException] {
      s.sql("CALL graft_psel.compact('t')").collect()
    }
    assert(exMix.getMessage.contains("eras"), exMix.getMessage)
    // rewrite_clustered refuses while the CURRENT spec is evolved
    val exRw = intercept[UnsupportedOperationException] {
      s.sql("CALL graft_psel.rewrite_clustered('t', 'v', 2)").collect()
    }
    assert(exRw.getMessage.contains("identity"), exRw.getMessage)
    // migration: evolve back to identity, rewrite — every file is
    // spec-0 again, and the era-gated verbs clear
    s.sql("CALL graft_psel.evolve_spec('t', 'identity')").collect()  // v5
    s.sql("CALL graft_psel.rewrite_clustered('t', 'v', 2)").collect() // v6
    assert(SinkSource.fileSpecs(s"$root/t").isEmpty,
      "migration must retire every non-identity era")
    assert(rows(s, s"$root/t") == all)
    s.sql("DELETE FROM graft_psel.t WHERE k = 5") // metadata-exact again
    assert(rows(s, s"$root/t") == all.filterNot(_._1 == 5L))
    // rollback restores spec state — proven on a fresh table whose
    // bytes survive (a rewrite reclaims files eagerly, so rolling
    // back across one refuses physically — the q302 contract)
    rollbackRestoresSpecState()
    // uniform-era compaction proven in its own arm below
    bucketUniformCompaction()
  }

  /** Rollback must restore both the current-spec pointer and the
    * re-introduced files' eras (their FileMeta): v3's bucket files leave
    * citation at v4 (rollback to v2) and return at v5 (rollback to
    * v3) with their era intact — bytes never moved, so both restores
    * are physically possible. */
  private def rollbackRestoresSpecState(): Unit = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_pse_rb").toString
    val s = session("graft_pserb", root)
    import s.implicits._
    SinkSource.write((0L until 6L).map(i => (i % 3, i)).toDF("k", "v")
      .repartition(2, col("k")), s"$root/t", overwrite = true)       // v1
    s.sql("CALL graft_pserb.evolve_spec('t', 'bucket(2)')").collect() // v2
    SinkSource.write((6L until 12L).map(i => (i % 3, i)).toDF("k", "v"),
      s"$root/t", overwrite = false)                                 // v3
    assert(SinkSource.fileSpecs(s"$root/t").nonEmpty)
    s.sql("CALL graft_pserb.rollback('t', 2)").collect()             // v4
    assert(SinkSource.fileSpecs(s"$root/t").isEmpty,
      "v2 cited only identity files")
    assert(SinkSource.currentSpecId(s"$root/t") != 0,
      "rollback to v2 keeps the evolved pointer (the evolve was v2)")
    s.sql("CALL graft_pserb.rollback('t', 3)").collect()             // v5
    assert(SinkSource.fileSpecs(s"$root/t").nonEmpty,
      "re-introduced files must get their era back (their FileMeta)")
    assert(rows(s, s"$root/t") ==
      (0L until 12L).map(i => (i % 3, i)).toSet)
    // and the restored eras still prune correctly: bucket id of k=1
    // is pmod(1,2)=1, so a k=1 read after the restore stays exact
    val got = SinkSource.load(s, s"$root/t").filter(col("k") === 1)
      .select("v").collect().map(_.getLong(0)).toSet
    assert(got == (0L until 12L).filter(_ % 3 == 1).toSet, s"$got")
  }

  /** Uniform bucket-era compaction merges fragmented buckets, stays
    * in-era, and loses no rows — separate method so its session's
    * implicits don't collide with the mixed-era arm's. */
  private def bucketUniformCompaction(): Unit = {
    val root2 = java.nio.file.Files
      .createTempDirectory("graft_pse_life2").toString
    val s2 = session("graft_psel2", root2)
    import s2.implicits._
    SinkSource.write(Seq((0L, 0L)).toDF("k", "v"), s"$root2/t",
      overwrite = true)                                              // v1
    s2.sql("CALL graft_psel2.evolve_spec('t', 'bucket(2)')").collect()
    // all-identity files + key-aligned filter: the metadata delete is
    // still exact, so it (not the row-level path) retires the only
    // identity-era file — the table is then uniformly bucket-era
    s2.sql("DELETE FROM graft_psel2.t WHERE k = 0")
    SinkSource.write((0L until 8L).map(i => (i % 4, i)).toDF("k", "v"),
      s"$root2/t", overwrite = false)
    SinkSource.write((8L until 16L).map(i => (i % 4, i)).toDF("k", "v"),
      s"$root2/t", overwrite = false)
    val filesBefore = SinkSource.manifest(s"$root2/t").map(_._2).distinct.size
    val res = s2.sql("CALL graft_psel2.compact('t')").collect()(0)
    assert(res.getLong(0) > 0, res.toString)
    val after = SinkSource.manifest(s"$root2/t")
    assert(after.map(_._2).distinct.size < filesBefore,
      "bucket-era compaction must merge fragmented buckets")
    assert(after.map(_._1).toSet.subsetOf(Set(0L, 1L)),
      s"compacted groups stay bucket-keyed: ${after.map(_._1).toSet}")
    val fsp2 = SinkSource.fileSpecs(s"$root2/t")
    assert(after.forall(e => fsp2.getOrElse(e._2, 0) != 0),
      "compacted files must stay in the current era")
    assert(rows(s2, s"$root2/t") ==
      (0L until 16L).map(i => (i % 4, i)).toSet)
  }

  test("the evolve procedure's refusal matrix") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_pse_refuse").toString
    val s = session("graft_pser", root)
    import s.implicits._
    intercept[Exception] { // never committed
      s.sql("CALL graft_pser.evolve_spec('nope', 'bucket(4)')").collect()
    }
    SinkSource.write(Seq((0L, 1L)).toDF("k", "v"), s"$root/t",
      overwrite = true)
    intercept[IllegalArgumentException] { // malformed
      s.sql("CALL graft_pser.evolve_spec('t', 'buckets(4)')").collect()
    }
    intercept[IllegalArgumentException] { // degenerate modulus
      s.sql("CALL graft_pser.evolve_spec('t', 'bucket(1)')").collect()
    }
    intercept[IllegalArgumentException] { // already current
      s.sql("CALL graft_pser.evolve_spec('t', 'identity')").collect()
    }
    assert(SinkSource.currentVersion(s"$root/t") == 1,
      "refused evolutions must publish nothing")
    // live branches refuse (borrowed refs carry no eras) — and the
    // reverse guard: branching an evolved table refuses too
    s.sql("CALL graft_pser.branch('t', 'dev')").collect()
    val exBr = intercept[UnsupportedOperationException] {
      s.sql("CALL graft_pser.evolve_spec('t', 'bucket(4)')").collect()
    }
    assert(exBr.getMessage.contains("branch"), exBr.getMessage)
    s.sql("CALL graft_pser.drop_branch('t', 'dev')").collect()
    s.sql("CALL graft_pser.evolve_spec('t', 'bucket(4)')").collect()
    val exBr2 = intercept[UnsupportedOperationException] {
      s.sql("CALL graft_pser.branch('t', 'dev2')").collect()
    }
    assert(exBr2.getMessage.contains("partition spec"), exBr2.getMessage)
    // re-declaring bucket(4) refuses; bucket(8) is a new spec id
    intercept[IllegalArgumentException] {
      s.sql("CALL graft_pser.evolve_spec('t', 'bucket(4)')").collect()
    }
    val r8 = s.sql("CALL graft_pser.evolve_spec('t', 'bucket(8)')")
      .collect()(0)
    assert(r8.getLong(1) == 2L, s"append-only spec ids: $r8")
    // flipping BACK to a known spec reuses its id
    val rBack = s.sql("CALL graft_pser.evolve_spec('t', 'bucket(4)')")
      .collect()(0)
    assert(rBack.getLong(1) == 1L, s"known specs reuse their id: $rBack")
  }
}
