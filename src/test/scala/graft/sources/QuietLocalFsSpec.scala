package graft.sources

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The quiet `file:` filesystem (round 19): removes the two local-only
  * per-file costs (chmod fork per create, `.crc` twin per file) while
  * PRESERVING the one semantic the engine's commit protocol leans on —
  * rename REFUSES an existing destination file (the manifest CAS's
  * "land at exactly v(n+1) or lose the race"; the classpath's default
  * `file:` impl, Hive's ProxyLocalFileSystem, provided it, and raw
  * POSIX rename(2) silently clobbers — the first quiet cut regressed
  * q304 exactly there).
  */
class QuietLocalFsSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_quiet_$tag").toString

  test("rename refuses an existing destination file (the CAS semantic)") {
    val root = tmpDir("cas")
    val f = SinkSource.fs(root)
    def put(name: String, body: String): Path = {
      val p = new Path(root, name)
      val out = f.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      p
    }
    val a = put("a", "AAA")
    val b = put("b", "BBB")
    assert(!f.rename(a, b), "rename onto an existing file must refuse")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "b")), "UTF-8") == "BBB",
      "the loser must not clobber the winner's bytes")
    // the winning shape still works: rename to a fresh name
    assert(f.rename(a, new Path(root, "c")))
    assert(!f.exists(new Path(root, "a")))
  }

  test("no .crc twin is written; reads ignore stale twins") {
    val root = tmpDir("crc")
    val f = SinkSource.fs(root)
    val p = new Path(root, "data.psv")
    val out = f.create(p, true)
    try out.write("1|2\n".getBytes("UTF-8")) finally out.close()
    val names = new java.io.File(root).list().toSeq
    assert(names == Seq("data.psv"),
      s"exactly the data file, no checksum twin: $names")
    // a stale twin left by an older (checksumming) writer must not
    // fail reads after the file is rewritten through the quiet FS
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, ".data.psv.crc"),
      Array[Byte](1, 2, 3, 4))
    val out2 = f.create(p, true)
    try out2.write("5|6\n".getBytes("UTF-8")) finally out2.close()
    val in = f.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    assert(body == "5|6\n")
  }

  test("manifest CAS end-to-end: a racing publish at the same version loses") {
    val root = tmpDir("occ")
    import spark.implicits._
    SinkSource.write(Seq((1L, 10L)).toDF("k", "v"), root, overwrite = true)
    assert(SinkSource.currentVersion(root) == 1)
    // stage a second commit's file, then publish v2 twice: the second
    // writeManifest pinned at the SAME version must throw the race
    val f = SinkSource.fs(root)
    val out = f.create(new Path(root, "data/extra.psv"), true)
    try out.write("2|20\n".getBytes("UTF-8")) finally out.close()
    SinkSource.writeManifest(root, 2,
      SinkSource.Commit(Seq((1L, "extra.psv", 1L))))
    intercept[SinkCommitRaceException] {
      SinkSource.writeManifest(root, 2,
        SinkSource.Commit(Seq((1L, "extra.psv", 1L))))
    }
  }

  test("grouped scan report and plan agree per conjunct state") {
    // ADVICE round-18: keyed was a bare def — a runtime filter landing
    // between outputPartitioning() and planInputPartitions() could
    // desynchronize the two. Memoized per conjunct state: the counts
    // agree before a filter, after a filter, and across repeats.
    val root = tmpDir("keyed")
    import spark.implicits._
    val df = (1L to 64L).map(i => (i, i * 10)).toDF("k", "v")
      .repartition(4, org.apache.spark.sql.functions.col("k"))
    SinkSource.write(df, root, overwrite = true, clustered = true)
    val scan = new SinkBucketGroupedScan(root, None,
      SinkSchemas.base, Seq.empty, m = 4)
    def numsAgree(): Unit = {
      val reported = scan.outputPartitioning()
        .asInstanceOf[org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning].numPartitions()
      assert(reported == scan.planInputPartitions().length)
    }
    numsAgree()
    val before = scan.planInputPartitions().length
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThan("v", 600L)))
    numsAgree()
    assert(scan.planInputPartitions().length <= before,
      "a selective runtime filter must not grow the split set")
  }
}
