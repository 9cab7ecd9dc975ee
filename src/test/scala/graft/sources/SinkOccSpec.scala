package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q304 — optimistic concurrency. The oracle proves the final state;
  * this spec locks the PROTOCOL pieces individually: the manifest
  * publish is a CAS (an occupied version loses with the retryable
  * race exception), transact re-plans and commutes with concurrent
  * appends, a destroyed premise aborts with the conflict exception
  * and publishes nothing, and the DML commit paths (CoW replace-data,
  * MoR delta) validate serializably against concurrent rewrites and
  * concurrent tombstones.
  */
class SinkOccSpec extends SparkSpec {

  private def freshTable(tag: String): String = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft_occ_$tag").toString
    import spark.implicits._
    SinkSource.write(
      Seq((0L, 1L), (0L, 2L), (1L, 10L), (2L, 20L)).toDF("k", "v")
        .repartition(2, col("k")),
      root, overwrite = true)
    root
  }

  private def stage(path: String, queryId: String, name: String,
      body: String): Unit = {
    val f = SinkSource.fs(path)
    val out = f.create(new Path(path, s"_staging/$queryId/$name"), true)
    out.write(body.getBytes("UTF-8")); out.close()
  }

  test("the manifest publish is a CAS: an occupied version loses retryably") {
    val root = freshTable("cas")
    // v1 exists; publishing AT v1 (planned on the empty v0) must fail
    // with the race exception and leave no trace
    val before = SinkSource.manifest(root)
    intercept[SinkCommitRaceException] {
      SinkSource.writeManifest(root, SinkSource.TableState.empty,
        SinkSource.state(root))
    }
    assert(SinkSource.currentVersion(root) == 1)
    assert(SinkSource.manifest(root) == before)
  }

  /** A concurrent append through the CAS: `name` lands in data/ and
    * is committed as key 9's one-row file. */
  private def racingAppend(root: String, name: String): Unit = {
    val f = SinkSource.fs(root)
    val out = f.create(new Path(root, s"data/$name"), true)
    out.write("9|90\n".getBytes("UTF-8")); out.close()
    SinkSource.transact(root)(_ => (Seq((9L, name, 1L)), Set.empty[String]))
  }

  test("publishCas: k lost races, then a publish on attempt k + 1") {
    val root = freshTable("k_races")
    val k = 3
    var attempts = 0
    val v = SinkSource.publishCas(root, "test publish") { head =>
      attempts += 1
      // a racer steals version head + 1 under the first k attempts
      if (attempts <= k) racingAppend(root, s"race_$attempts.psv")
      head
    }
    assert(attempts == k + 1, s"k lost races must cost k + 1 attempts: $attempts")
    assert(v == k + 2, s"v1 + k racing appends, then ours: $v")
    assert(SinkSource.manifest(root).count(_._1 == 9L) == k,
      "every racer's commit must survive the republish")
  }

  test("publishCas gives up after its attempt cap, naming the verb and path") {
    val root = freshTable("always_races")
    var attempts = 0
    val ex = intercept[SinkConflictException] {
      SinkSource.publishCas(root, "test publish", maxAttempts = 3) { head =>
        attempts += 1
        racingAppend(root, s"race_$attempts.psv")
        head
      }
    }
    assert(attempts == 3, s"the cap bounds the attempts: $attempts")
    assert(ex.getMessage.contains("test publish") &&
      ex.getMessage.contains(root) && ex.getMessage.contains("gave up after 3"),
      ex.getMessage)
    assert(SinkSource.currentVersion(root) == 4,
      "only the racers published: v1 + three appends")
  }

  test("transact retries over a concurrent append; both effects land") {
    val root = freshTable("retry")
    import spark.implicits._
    val f = SinkSource.fs(root)
    val out = f.create(new Path(root, "data/occ_spec.psv"), true)
    out.write("7|70\n".getBytes("UTF-8")); out.close()
    var fired = false
    val (v, attempts) = SinkSource.transact(root) { snap =>
      if (!fired) {
        fired = true
        SinkSource.write(Seq((5L, 50L)).toDF("k", "v"), root,
          overwrite = false)
      }
      (Seq((7L, "occ_spec.psv", 1L)), Set.empty[String])
    }
    assert(attempts == 2, s"the stolen version must force one retry: $attempts")
    assert(v == 3, s"append(v2) + transact(v3): $v")
    val got = SinkSource.load(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((5L, 50L)) && got.contains((7L, 70L)),
      s"both racers' rows must land: $got")
  }

  test("a destroyed premise aborts with the conflict exception, publishing nothing") {
    val root = freshTable("conflict")
    val pinned = SinkSource.manifest(root).filter(_._1 == 0L).map(_._2).toSet
    assert(pinned.nonEmpty)
    // concurrent retention already dropped (and GC'd) the pinned files
    spark.conf.set("spark.sql.catalog.graft_occ_c",
      classOf[SinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_occ_c.root",
      new Path(root).getParent.toString)
    val table = new Path(root).getName
    spark.sql(s"DELETE FROM graft_occ_c.`$table` WHERE k = 0")
    val vBefore = SinkSource.currentVersion(root)
    intercept[SinkConflictException] {
      SinkSource.transact(root)(_ => (Seq.empty, pinned))
    }
    assert(SinkSource.currentVersion(root) == vBefore,
      "a conflicting transaction must not publish")
  }

  test("CoW replace-data validates its scanned files at commit") {
    val root = freshTable("cow")
    val op = new SinkRowLevelOperation(root,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
    val scan = op.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
    scan.toBatch.planInputPartitions() // records the scanned file set
    assert(op.scannedFiles.get().nonEmpty)
    // a concurrent commit rewrites one of the scanned groups (compact
    // would too; a metadata delete is the simplest rewrite)
    spark.conf.set("spark.sql.catalog.graft_occ_w",
      classOf[SinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_occ_w.root",
      new Path(root).getParent.toString)
    val table = new Path(root).getName
    spark.sql(s"DELETE FROM graft_occ_w.`$table` WHERE k = 0")
    stage(root, "occ_cow", "occ_cow_f1.psv", "1|10\n")
    val vBefore = SinkSource.currentVersion(root)
    val ex = intercept[SinkConflictException] {
      new SinkReplaceDataWrite(root, "occ_cow", op)
        .commit(Array(SinkCommitMessage(Seq((1L, "occ_cow_f1.psv", 1L)))))
    }
    assert(ex.getMessage.contains("scanned"), ex.getMessage)
    assert(SinkSource.currentVersion(root) == vBefore,
      "a conflicting CoW commit must not publish")
    // and the staged file was never moved into data/ (fail-fast
    // validation runs before the moves)
    assert(!SinkSource.fs(root)
      .exists(new Path(root, "data/occ_cow_f1.psv")))
    // an EQUALITY delete between the scan and the commit un-cites
    // nothing, yet the rewritten rows would be re-published above its
    // sequence number and escape it — the premise is gone all the same
    val rootEq = freshTable("cow_eq")
    val opEq = new SinkRowLevelOperation(rootEq,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
    opEq.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
      .toBatch.planInputPartitions()
    SinkSource.equalityDelete(rootEq, "v", Seq(10L))
    stage(rootEq, "occ_cow_eq", "occ_cow_eq_f1.psv", "1|10\n")
    val vBeforeEq = SinkSource.currentVersion(rootEq)
    val exEq = intercept[SinkConflictException] {
      new SinkReplaceDataWrite(rootEq, "occ_cow_eq", opEq)
        .commit(Array(SinkCommitMessage(Seq((1L, "occ_cow_eq_f1.psv", 1L)))))
    }
    assert(exEq.getMessage.contains("equality delete"), exEq.getMessage)
    assert(SinkSource.currentVersion(rootEq) == vBeforeEq,
      "a CoW commit racing an equality delete must not publish")
    // a scanned snapshot expired before the commit leaves no premise
    // to validate: the same retryable conflict as the MoR path
    val rootX = freshTable("cow_expired")
    val opX = new SinkRowLevelOperation(rootX,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
    opX.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
      .toBatch.planInputPartitions()
    import spark.implicits._
    SinkSource.write(Seq((5L, 50L)).toDF("k", "v"), rootX, overwrite = false)
    SinkSource.write(Seq((6L, 60L)).toDF("k", "v"), rootX, overwrite = false)
    spark.sql(s"CALL graft_occ_w.expire('${new Path(rootX).getName}', 1)")
      .collect()
    stage(rootX, "occ_cow_x", "occ_cow_x_f1.psv", "1|10\n")
    val vBeforeX = SinkSource.currentVersion(rootX)
    val exX = intercept[SinkConflictException] {
      new SinkReplaceDataWrite(rootX, "occ_cow_x", opX)
        .commit(Array(SinkCommitMessage(Seq((1L, "occ_cow_x_f1.psv", 1L)))))
    }
    assert(exX.getMessage.contains("v1") &&
      exX.getMessage.contains("expired"), exX.getMessage)
    assert(SinkSource.currentVersion(rootX) == vBeforeX)
  }

  test("MoR delta validates concurrent tombstones on its files at commit") {
    val root = freshTable("mor")
    spark.conf.set("spark.sql.catalog.graft_occ_m",
      classOf[SinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_occ_m.root",
      new Path(root).getParent.toString)
    spark.conf.set("spark.sql.catalog.graft_occ_m.mor", "true")
    val table = new Path(root).getName
    val dataFile = SinkSource.manifest(root).find(_._1 == 0L).get._2
    // operation A plans its scan at v1...
    val op = new SinkDeltaOperation(root,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
    new SinkDeltaScan(root, op).planInputPartitions()
    assert(op.scannedVersion.get() == 1)
    // ...then a concurrent row-level DELETE tombstones a row in the
    // same file (a REAL engine commit, v2)
    spark.sql(s"DELETE FROM graft_occ_m.`$table` WHERE k = 0 AND v = 1")
    assert(SinkSource.deleteSidecar(root).nonEmpty)
    // A's commit addresses the same data file: the vectors on it
    // changed since A's scan, so composing could double-apply — abort
    stage(root, "occ_dv", "occ_dv_vec.psv", "1\n")
    val vBefore = SinkSource.currentVersion(root)
    val ex = intercept[SinkConflictException] {
      new SinkDvBatchWrite(root, "occ_dv", op)
        .commit(Array(SinkCommitMessage(Seq.empty,
          vectors = Seq((dataFile, "occ_dv_vec.psv")))))
    }
    assert(ex.getMessage.contains("tombstoned"), ex.getMessage)
    assert(SinkSource.currentVersion(root) == vBefore)
    // a delta commit on an UNTOUCHED file still goes through: the
    // validation is per-premise, not a table lock
    val otherFile = SinkSource.manifest(root).find(_._1 == 1L).get._2
    val op2 = new SinkDeltaOperation(root,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
    new SinkDeltaScan(root, op2).planInputPartitions()
    stage(root, "occ_dv2", "occ_dv2_vec.psv", "0\n")
    new SinkDvBatchWrite(root, "occ_dv2", op2)
      .commit(Array(SinkCommitMessage(Seq.empty,
        vectors = Seq((otherFile, "occ_dv2_vec.psv")))))
    val vs = SinkSource.load(spark, root, mor = true).select("v")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(vs == Seq(2L, 20L), s"both tombstone sets must apply: $vs")
    // a commit whose SCANNED snapshot was expired before it lands has
    // no premise left to validate: the retryable conflict, naming the
    // expired version, and nothing publishes
    val rootX = freshTable("mor_expired")
    val tableX = new Path(rootX).getName
    val fileX = SinkSource.manifest(rootX).find(_._1 == 1L).get._2
    val op3 = new SinkDeltaOperation(rootX,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
    new SinkDeltaScan(rootX, op3).planInputPartitions()
    assert(op3.scannedVersion.get() == 1)
    import spark.implicits._
    SinkSource.write(Seq((5L, 50L)).toDF("k", "v"), rootX, overwrite = false)
    SinkSource.write(Seq((6L, 60L)).toDF("k", "v"), rootX, overwrite = false)
    spark.sql(s"CALL graft_occ_m.expire('$tableX', 1)").collect()
    stage(rootX, "occ_dv3", "occ_dv3_vec.psv", "0\n")
    val vExpired = SinkSource.currentVersion(rootX)
    val exExpired = intercept[SinkConflictException] {
      new SinkDvBatchWrite(rootX, "occ_dv3", op3)
        .commit(Array(SinkCommitMessage(Seq.empty,
          vectors = Seq((fileX, "occ_dv3_vec.psv")))))
    }
    assert(exExpired.getMessage.contains("v1") &&
      exExpired.getMessage.contains("expired"), exExpired.getMessage)
    assert(SinkSource.currentVersion(rootX) == vExpired)
  }
}
