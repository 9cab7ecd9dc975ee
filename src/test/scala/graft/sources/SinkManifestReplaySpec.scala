package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The manifest serializer's regression net: a fixed commit sequence
  * touching every header family — append, truncating overwrite, branch
  * plus fast_forward, a streaming epoch (txn ledger), ALTER (schema
  * ids), an equality delete, MoR UPDATE and DELETE (vector sidecars),
  * a MoR compaction (eq-header self-pruning, seq stamps), evolve_spec
  * (spec list, eras), build_bloom, and a rollback with one bloom build
  * between its target and itself (blooms built since the target stay
  * on files both versions cite) — then compares every published
  * manifest, and the vector sidecar it binds, with the golden file
  * `sink_manifest_replay.golden` on the test classpath.
  *
  * Normalization keeps the comparison independent of what is random
  * or run-dependent: `#ts` lines are dropped, every random name part
  * (commit tags, run tags, sidecar/eq/bloom salts, query UUIDs) becomes
  * `<label>` of the first version that cited it, task ids and task
  * partition indexes become `t` and `p`, and each version's lines are
  * sorted. The table runs in a fresh session, so settings other suites
  * leave on the shared one cannot change how rows split into files.
  *
  * On a mismatch the spec writes what it saw to
  * `target/sink_manifest_replay.actual`; recording a golden is copying
  * that file to `src/test/resources/sink_manifest_replay.golden`.
  */
class SinkManifestReplaySpec extends SparkSpec {

  private val uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  // the random part of each generated name, as group 1
  private val randomParts = Seq(
    "(?<=q)([0-9a-f]{8})(?=_)",                  // commit tags q<hex>_
    "(?<=_r)([0-9a-f]{8})(?=_)",                 // streaming run tags
    "(?<=eq_)([0-9a-f]{8})(?=\\.psv)",           // equality-delete files
    "(?<=deletes\\.v\\d{1,9}\\.)([0-9a-f]{8})(?=\\.psv)", // dv sidecars
    "(?<=bl_)([0-9a-f]{8})(?=_)").map(_.r)       // build_bloom salts

  /** Normalized, sorted lines of every published version of `table`
    * (label prefix `tag`), with the bound sidecar's lines after `dv>`. */
  private def replay(table: String, tag: String,
      seen: scala.collection.mutable.Map[String, String]): Seq[String] = {
    val f = SinkSource.fs(table)
    def read(p: Path): Seq[String] = {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    }
    (1 to SinkSource.currentVersion(table)).flatMap { v =>
      val label = s"$tag$v"
      def norm(line: String): String = {
        var l = uuid.replaceAllIn(line,
          m => seen.getOrElseUpdate(m.matched, s"<$label>"))
        randomParts.foreach { re =>
          l = re.replaceAllIn(l,
            m => seen.getOrElseUpdate(m.group(1), s"<$label>"))
        }
        // build_bloom's per-file index follows a map's order, and a
        // task's partition index the order of randomly named files
        l.replaceAll("(bl_<[a-z0-9]+>)_\\d+\\.bin", "$1.bin")
          .replaceAll("_t\\d+_", "_t_").replaceAll("_p\\d+_", "_p_")
      }
      val lines = read(new Path(table, s"manifest.v$v.psv"))
        .filterNot(_.startsWith("#ts|"))
      val sidecar = lines.find(_.startsWith("#dv|")).toSeq.flatMap { h =>
        read(new Path(table, h.stripPrefix("#dv|"))).map("dv> " + _)
      }
      s"== $label" +: (lines ++ sidecar).map(norm).sorted
    }
  }

  test("every manifest of a fixed commit sequence matches the golden") {
    val root = Files.createTempDirectory("graft_replay").toString
    val t = s"$root/t"
    // a fresh session: the product configuration, none of the runtime
    // settings other suites leave on the shared one
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft_rp", classOf[SinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_rp.root", root)
    s.conf.set("spark.sql.catalog.graft_rp.mor", "true")
    import s.implicits._
    def call(sql: String): Unit = s.sql(sql).collect()

    SinkSource.write((0L until 12L).map(i => (i % 3, i)).toDF("k", "v")
      .repartition(2, col("k")), t, overwrite = false)               // v1
    SinkSource.write((12L until 18L).map(i => (i % 3, i)).toDF("k", "v")
      .repartition(2, col("k")), t, overwrite = false)               // v2
    SinkSource.write((0L until 9L).map(i => (i % 3, i * 10)).toDF("k", "v")
      .repartition(3, col("k")), t, overwrite = true)                // v3
    call("CALL graft_rp.branch('t', 'dev')")                         // b1
    SinkSource.write(Seq((3L, 300L), (4L, 400L)).toDF("k", "v")
      .coalesce(1), s"$t/_branch_dev", overwrite = false)            // b2
    call("CALL graft_rp.fast_forward('t', 'dev')")                   // v4, b3
    // evolve_spec refuses while a branch lives: record and retire it
    val seen = scala.collection.mutable.Map.empty[String, String]
    val branchLines = replay(s"$t/_branch_dev", "b", seen)
    call("CALL graft_rp.drop_branch('t', 'dev')")
    // one streaming epoch: the txn ledger header
    val stage = s"$root/stage"
    Seq((5L, 50L), (6L, 60L)).toDF("k", "v").coalesce(1)
      .write.parquet(s"$stage/e0")
    val q = s.readStream.schema("k BIGINT, v BIGINT")
      .parquet(s"$stage/e0")
      .writeStream.format("graft.sources.SinkSource")
      .option("path", t)
      .option("checkpointLocation", s"$root/ckpt")
      .start()                                                       // v5
    q.processAllAvailable()
    q.stop()
    call("ALTER TABLE graft_rp.t ADD COLUMN w BIGINT")               // v6
    call("INSERT INTO graft_rp.t VALUES (1, 1000, 7), (2, 2000, 8)") // v7
    SinkSource.equalityDelete(t, "v", Seq(10L, 2000L))               // v8
    call("UPDATE graft_rp.t SET w = 99 WHERE v >= 40 AND v < 70")    // v9
    call("DELETE FROM graft_rp.t WHERE v = 20")                      // v10
    call("CALL graft_rp.compact('t')")                               // v11
    call("CALL graft_rp.evolve_spec('t', 'bucket(2)')")              // v12
    call("INSERT INTO graft_rp.t VALUES (7, 70, 1), (8, 80, 2), " +
      "(9, 90, 3)")                                                  // v13
    call("CALL graft_rp.build_bloom('t', 'v', 8)")                   // v14
    call("INSERT INTO graft_rp.t VALUES (10, 100, 4)")               // v15
    call("CALL graft_rp.rollback('t', 13)")                          // v16
    call("INSERT INTO graft_rp.t VALUES (11, 110, 5)")               // v17
    assert(SinkSource.currentVersion(t) == 17)

    val actual =
      (branchLines ++ replay(t, "v", seen)).mkString("\n") + "\n"
    val golden = Option(getClass.getResourceAsStream(
      "/sink_manifest_replay.golden")).map { in =>
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    }
    if (!golden.contains(actual)) {
      val out = Paths.get("target", "sink_manifest_replay.actual")
      Files.createDirectories(out.getParent)
      Files.write(out, actual.getBytes(StandardCharsets.UTF_8))
      val firstDiff = golden.fold("no golden on the classpath") { g =>
        g.linesIterator.zipAll(actual.linesIterator, "<eof>", "<eof>")
          .zipWithIndex.find { case ((a, b), _) => a != b }
          .fold("lengths differ") { case ((a, b), i) =>
            s"line ${i + 1}: golden '$a' vs actual '$b'" }
      }
      fail(s"manifests differ from the golden ($firstDiff); " +
        s"actual written to $out")
    }
  }
}
