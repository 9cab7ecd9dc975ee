package graft.plans

import java.nio.file.Files

import graft.{SparkEntry, SparkSpec}

/** Registry-wide TWO-DATASET-ONE-JVM sweep (round-15, generalizing the
  * round-13 q242 fix): any query that keeps per-dataset state outside
  * the plan — ShardPaths roots, StageBoundary checkpoints, metastore
  * tables/markers — shares the hazard shape where dataset B's run
  * poisons state that dataset A's NEXT run then answers from. The q242
  * bug (a global metastore marker serving dataset A's rows for
  * dataset B) was fixed pointwise; this spec mechanizes the class the
  * way the UDF and nested-loop bans were:
  *
  *  1. COMPLETENESS (mechanical): scan `src/main` for every hazard-
  *     primitive call site — StageBoundary / ShardPaths.resolve /
  *     ShardPaths.fresh tags (and their Checkpoint forms),
  *     saveAsTable metastore writes — and require each to be either in
  *     the A-B-A run set or in an AUDITED exemption with a verified
  *     justification. A new query that adopts one of these primitives
  *     fails here until classified.
  *  2. BEHAVIOR (A-then-B-then-A): every swept query runs on dataset
  *     A (sf0.001), then dataset B (sf0.01), then dataset A again in
  *     the SAME JVM with the same shards root — the second A result
  *     must hash-match the first.
  *
  * Audited exemptions:
  *  - streaming queries (`_stream_` keys): their state roots are
  *    md5(dataset)-keyed by ShardPaths AND each run deletes its table
  *    root + checkpoint at start (self-wiping, verified for the sink
  *    family by their specs); a 3× stream choreography per query is
  *    cost without additional coverage.
  *  - FormatQueries sink queries: mechanically VERIFIED here to
  *    delete their resolved root at the start of every invocation
  *    (`ShardPaths.fresh`, an explicit delete, or an overwrite) —
  *    self-wiping state cannot survive to answer for the wrong
  *    dataset.
  */
class TwoDatasetSweepSpec extends SparkSpec {

  private val dirA = "/root/testdata/sf0.001"
  private val dirB = "/root/testdata/sf0.01"

  private def scalaFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty

  private def slurp(f: java.io.File): String = {
    val s = scala.io.Source.fromFile(f, "UTF-8")
    try s.mkString finally s.close()
  }

  private lazy val sources: Seq[(String, String)] =
    scalaFiles(new java.io.File("src/main/scala/graft"))
      .map(f => f.getName -> slurp(f))

  // hazard-primitive call sites with a LITERAL query tag
  private val tagRe =
    ("""(?:StageBoundary|ShardPaths\.(?:resolve|fresh)(?:Checkpoint)?)""" +
      """\(\s*[\w.]+\s*,\s*"(q\d+)""").r
  // ... and ALL call sites, tagged or not
  private val anyCallRe =
    """(?:StageBoundary|ShardPaths\.(?:resolve|fresh)(?:Checkpoint)?)\(""".r

  /** Registry key for a query number (q32 -> q32_minhash_neardup). */
  private def keyOf(n: Int): String =
    SparkEntry.queries.keys.find(_.startsWith(s"q${n}_")).getOrElse(
      fail(s"hazard call site tagged q$n has no registered query"))

  test("every hazard call site is swept or audited-exempt; A-B-A holds") {
    // ---- 1a. untagged call sites only in audited helper/definition files
    val untaggedAllowed = Set(
      "StageBoundary.scala", // the primitive's own definition
      "ShardPaths.scala",    // the primitive's own definition
      "IvfAnn.scala")        // s"ivf${k}..." tags; represented by q49 below
    for ((name, text) <- sources) {
      val all = anyCallRe.findAllIn(text).size
      val tagged = tagRe.findAllMatchIn(text).size
      if (all > tagged)
        assert(untaggedAllowed.contains(name),
          s"$name has ${all - tagged} hazard call site(s) with a " +
            "non-literal tag — add the file to the audited helper set " +
            "with a swept representative, or tag the call")
    }

    // ---- 1b. metastore writes (saveAsTable) only in audited files,
    // each with a swept representative
    val metastoreFiles = sources.filter(_._2.contains("saveAsTable")).map(_._1)
    assert(metastoreFiles.toSet == Set("Relational.scala", "FormatQueries.scala"),
      s"new metastore writer(s) $metastoreFiles — classify them here " +
        "(dataset-suffixed names or rewrite-per-invocation) and add a " +
        "swept representative")

    // ---- 1c. classify every tagged call site
    val byFile: Seq[(String, Int)] = sources.flatMap { case (name, text) =>
      tagRe.findAllMatchIn(text).map(m => name -> m.group(1).drop(1).toInt)
    }
    // the sink fixtures are the bulk of the tagged sites: a pattern
    // that stops matching their call form must fail, not sweep nothing
    assert(byFile.exists(_._1 == "FormatQueries.scala"),
      "no tagged ShardPaths call site found in FormatQueries.scala")
    val exempt = scala.collection.mutable.Set.empty[Int]
    val toRun = scala.collection.mutable.Set.empty[Int]
    for ((file, n) <- byFile.distinct) {
      val key = keyOf(n)
      if (key.contains("_stream_")) exempt += n // audited: see class doc
      else if (file == "FormatQueries.scala") {
        // audited self-wipe: the def body must delete its resolved root
        // before any use — verify mechanically, then exempt
        val text = sources.find(_._1 == file).get._2
        val defIdx = text.indexOf(s"def q$n")
        assert(defIdx >= 0, s"no def q$n in $file")
        val next = "def q(\\d+)".r.findAllMatchIn(text)
          .map(_.start).find(_ > defIdx).getOrElse(text.length)
        val body = text.substring(defIdx, next)
        // each form re-establishes the root from THIS run's dataset:
        // ShardPaths.fresh on this query's tag, an explicit root
        // delete, or a truncating overwrite write (the sink's manifest
        // swap makes old state unreachable)
        val freshRe = s"""ShardPaths\\.fresh\\(\\s*[\\w.]+\\s*,\\s*"q$n(?!\\d)""".r
        assert(freshRe.findFirstIn(body).isDefined || body.contains(
          ".delete(new org.apache.hadoop.fs.Path(root), true)") ||
          body.contains("overwrite = true"),
          s"q$n resolves a ShardPaths root but does not self-wipe it — " +
            "add it to the A-B-A run set")
        exempt += n
      } else toRun += n
    }
    // metastore representatives (1b) and the IvfAnn helper family (1a)
    toRun ++= Seq(242, 129, 49)

    // ---- 2. A-then-B-then-A on a fresh shards root, one JVM.
    // A DEDICATED session (never the shared suite session): the sweep
    // redirects graft.shards.dir, and suites run in parallel — leaking
    // that into the shared conf would rebuild other specs' boundaries
    // under them mid-test.
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    s.conf.set("graft.shards.dir",
      Files.createTempDirectory("graft_aba").toString)
    def canon(key: String, dir: String): String = {
      val df = SparkEntry.queries(key)(s, dir)
      val h = df.columns.sorted.mkString(",") + "#" +
        df.collect().map(_.toString).sorted.mkString("\n").hashCode
      // the registry's caller contract (Verify/Bench/Probe do the
      // same): queries may cache intermediates; clear after consuming
      // so a later suite's plan checks see a clean cache
      s.catalog.clearCache()
      h
    }
    val keys = toRun.toSeq.sorted.map(keyOf)
    assert(keys.size >= 15, s"sweep set suspiciously small: $keys")
    val first = keys.map(k => k -> canon(k, dirA)).toMap
    keys.foreach(k => canon(k, dirB))
    for (k <- keys) {
      assert(canon(k, dirA) == first(k),
        s"$k answered dataset A differently after dataset B ran in " +
          "the same JVM — per-dataset state is keyed wrong")
    }
  }
}
