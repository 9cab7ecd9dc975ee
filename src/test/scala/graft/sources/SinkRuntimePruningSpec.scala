package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q315 — runtime file pruning (V2 DPP on the main sink scan). The
  * oracle's kill-shot proves pruning fires end-to-end; this spec
  * locks the semantics around it:
  *
  *   - the runtime key set prunes at the protocol level through the
  *     same per-era machinery as pushed literals (bucket-era files
  *     prune by bucket arithmetic);
  *   - the pruning is an I/O claim only: with the killed files
  *     restored, the joined result is bit-identical to the same join
  *     with DPP disabled;
  *   - non-key runtime filters and unsupported shapes degrade to
  *     "read everything", never to a wrong skip.
  */
class SinkRuntimePruningSpec extends SparkSpec {

  private def catalogFor(name: String, root: String) = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    s.conf.set(s"spark.sql.catalog.$name", classOf[SinkCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.root", root)
    s
  }

  test("the scan's runtime filter prunes files per era at the protocol level") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_rtp").toString
    val s = catalogFor("graft_rtp", root)
    import s.implicits._
    import org.apache.spark.sql.sources.{EqualTo, In}
    // identity era: groups 0..4
    SinkSource.write((0L until 20L).map(i => (i % 5, i)).toDF("k", "v")
      .repartition(2, col("k")), s"$root/t", overwrite = true)
    val scan = new SinkScan(s"$root/t")
    assert(scan.files.length ==
      SinkSource.manifest(s"$root/t").map(_._2).distinct.size)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("k", Array(1L, 3L))))
    val kept = scan.files
    val keysOf = SinkSource.manifest(s"$root/t")
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(kept.nonEmpty && kept.forall(f =>
      keysOf(f).subsetOf(Set(1L, 3L))),
      s"runtime-kept files must all be key 1/3 groups: ${kept.toSeq}")
    // bucket era: the runtime key prunes by bucket arithmetic
    s.sql("CALL graft_rtp.evolve_spec('t', 'bucket(2)')").collect()
    SinkSource.write((20L until 40L).map(i => (i % 5, i)).toDF("k", "v"),
      s"$root/t", overwrite = false)
    val scan2 = new SinkScan(s"$root/t")
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](
      EqualTo("k", 3L))) // bucket pmod(3,2) = 1
    val fsp = SinkSource.fileSpecs(s"$root/t")
    val kept2 = scan2.files
    assert(kept2.exists(f => fsp.getOrElse(f, 0) != 0),
      "bucket-era files holding the key must survive")
    kept2.filter(f => fsp.getOrElse(f, 0) != 0).foreach { f =>
      assert(keysOf.getOrElse(f,
        SinkSource.manifest(s"$root/t").filter(_._2 == f).map(_._1).toSet)
        .contains(1L),
        s"a kept bucket file must be bucket 1: $f")
    }
    // an unsupported runtime shape degrades to read-everything
    val scan3 = new SinkScan(s"$root/t")
    scan3.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.StringContains("k", "x")))
    assert(scan3.files.length ==
      SinkSource.manifest(s"$root/t").map(_._2).distinct.size)
  }

  test("the MoR scan prunes on runtime keys too, with tombstones intact") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_rtp_mor").toString
    val s = catalogFor("graft_rtpm", root)
    s.conf.set("spark.sql.catalog.graft_rtpm.mor", "true")
    import s.implicits._
    import org.apache.spark.sql.sources.In
    SinkSource.write((0L until 30L).map(i => (i % 6, i)).toDF("k", "v")
      .repartition(3, col("k")), s"$root/t", overwrite = true)
    s.sql("DELETE FROM graft_rtpm.t WHERE k = 2 AND v = 2") // DV lands
    assert(SinkSource.deleteSidecar(s"$root/t").nonEmpty)
    val scan = new SinkScan(s"$root/t", mor = true)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("k", Array(2L, 4L))))
    val kept = scan.planInputPartitions()
    val keysOf = SinkSource.manifest(s"$root/t")
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(kept.nonEmpty && kept.forall { p =>
      val name = new Path(
        p.asInstanceOf[SinkInputPartition].file).getName
      keysOf(name).subsetOf(Set(2L, 4L))
    }, "runtime-kept MoR splits must all be key 2/4 groups")
    // the kept group's vectors still apply: the tombstoned row is gone
    val got = SinkSource.load(s, s"$root/t", mor = true)
      .filter(col("k").isin(2L, 4L)).select("v")
      .collect().map(_.getLong(0)).toSet
    assert(got == (0L until 30L).filter(i => i % 6 == 2 || i % 6 == 4)
      .filterNot(_ == 2L).toSet,
      s"tombstones must survive runtime pruning: $got")
  }

  test("runtime pruning fires on a non-key BIGINT column (v), kill-shot proven") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_rtp_v").toString
    val s = catalogFor("graft_rtpv", root)
    import s.implicits._
    import org.apache.spark.sql.sources.In
    // three commits with DISJOINT v ranges → per-file `#stat` zone
    // maps on v (field id 2) are tight enough to prune on
    Seq(0L, 100L, 200L).foreach { base =>
      SinkSource.write((base until base + 12L).map(i => (i % 3, i))
        .toDF("k", "v").repartition(2, col("k")),
        s"$root/fact", overwrite = base == 0L)
    }
    // protocol level: the scan REPORTS v as filterable (round 18) and
    // prunes files whose v zone can't hold the runtime values
    val scan = new SinkScan(s"$root/fact")
    assert(scan.filterAttributes().map(_.fieldNames()(0)).toSet
      == Set("k", "v"),
      "all BIGINT read columns must be runtime-filterable")
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("v", Array(105L, 107L))))
    val stats = SinkSource.manifestStats(s"$root/fact")
    def overlapsTarget(f: String): Boolean =
      stats.get(f).exists(_.exists { case (id, mn, mx) =>
        id == 2 && mn <= 107L && 105L <= mx })
    val kept = scan.files
    assert(kept.nonEmpty && kept.forall(overlapsTarget),
      s"kept files must overlap v∈{105,107}: ${kept.toSeq}")
    // end-to-end kill-shot (the q315 pattern, keyed on v): physically
    // delete every fact file the runtime v-set can't touch — the join
    // below only answers if the runtime filter actually pruned them
    val doomed = SinkSource.manifest(s"$root/fact").map(_._2).distinct
      .filterNot(overlapsTarget)
    assert(doomed.nonEmpty, "fixture must have prunable files")
    val fsys = SinkSource.fs(s"$root/fact")
    doomed.foreach(fl =>
      fsys.delete(new Path(s"$root/fact/data/$fl"), false))
    // the dim carries a SELECTIVE filter on its own v (DPP only
    // plants the subquery for a selective build side), whose
    // surviving k-set {105, 107} is only derivable at run time
    SinkSource.write((100L until 112L).map(x => (x, x * 3)).toDF("k", "v"),
      s"$root/dim", overwrite = true)
    // threshold between the dim's ~192 B and the fact's ~576 B
    // manifest estimates: the dim broadcasts (default-on stats), the
    // fact cannot — so the pruning subquery rides the dim's broadcast
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "300")
    val got = s.table("graft_rtpv.fact").as("a")
      .join(s.table("graft_rtpv.dim").as("b")
        .filter(col("v").isin(315L, 321L)),
        col("a.v") === col("b.k"))
      .select(col("a.v")).collect().map(_.getLong(0)).toSet
    assert(got == Set(105L, 107L),
      s"the v-keyed runtime-pruned join must still answer exactly: $got")
  }

  test("pruned and unpruned joins agree (I/O claim, never semantics)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_rtp_eq").toString
    val s = catalogFor("graft_rtpe", root)
    import s.implicits._
    SinkSource.write((0L until 60L).map(i => (i % 12, i)).toDF("k", "v")
      .repartition(4, col("k")), s"$root/fact", overwrite = true)
    SinkSource.write((0L until 12L).map(k => (k, k * 7)).toDF("k", "v"),
      s"$root/dim", overwrite = true)
    def joined(session: org.apache.spark.sql.SparkSession,
        cat: String): Seq[String] =
      session.table(s"$cat.fact").as("a")
        .join(broadcast(session.table(s"$cat.dim")
          .filter(col("v").isin(14L, 35L, 63L))), Seq("k"))
        .select(col("k"), col("a.v"))
        .collect().map(_.toSeq.map(String.valueOf).mkString("|"))
        .sorted.toSeq
    val sOff = catalogFor("graft_rtpo", root)
    sOff.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
      "false")
    assert(joined(s, "graft_rtpe") == joined(sOff, "graft_rtpo"),
      "runtime pruning changed the join result")
  }
}
