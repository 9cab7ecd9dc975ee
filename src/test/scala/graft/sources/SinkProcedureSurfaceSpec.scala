package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** The sink catalog's `CALL` surface, pinned verb by verb: what
  * `listProcedures` names, what `loadProcedure(..).bind(..)` reports
  * (name, description, IN parameters with their types, determinism),
  * and the schema of the one-row result each `CALL` returns. One tiny
  * table per catalog; every verb runs once on it.
  */
class SinkProcedureSurfaceSpec extends SparkSpec {

  private case class Verb(description: String,
      params: Seq[(String, DataType)], result: Seq[(String, DataType)])

  private val S = StringType
  private val L = LongType

  private val surface: Map[String, Verb] = Map(
    "compact" -> Verb(
      "merge multi-file key groups into one file per key",
      Seq("table" -> S),
      Seq("keys_compacted" -> L, "files_before" -> L, "files_after" -> L)),
    "tag" -> Verb("set or move a named snapshot tag",
      Seq("table" -> S, "version" -> L, "tag_name" -> S),
      Seq("tag_name" -> S, "version" -> L)),
    "expire" -> Verb(
      "expire old snapshots to a keep_last horizon; tag-pinned versions survive",
      Seq("table" -> S, "keep_last" -> L),
      Seq("versions_expired" -> L, "versions_kept" -> L,
        "data_files_removed" -> L, "vector_files_removed" -> L)),
    "remove_orphans" -> Verb(
      "delete files no manifest references, older than a grace window",
      Seq("table" -> S, "grace_ms" -> L),
      Seq("data_orphans_removed" -> L, "vector_orphans_removed" -> L,
        "staging_attempts_removed" -> L)),
    "rollback" -> Verb(
      "restore the table to a prior version by publishing it as a new commit",
      Seq("table" -> S, "version" -> L),
      Seq("restored_version" -> L, "new_version" -> L, "n_files" -> L,
        "n_rows" -> L)),
    "rewrite_clustered" -> Verb(
      "rewrite the table range-clustered by (key, column) for zone-map skipping",
      Seq("table" -> S, "column" -> S, "partitions" -> L),
      Seq("files_before" -> L, "files_after" -> L, "n_rows" -> L)),
    "evolve_spec" -> Verb(
      "change the partition spec for new writes (identity | bucket(m)); " +
        "existing files keep their era",
      Seq("table" -> S, "transform" -> S),
      Seq("new_version" -> L, "spec_id" -> L, "transform" -> S)),
    "build_bloom" -> Verb(
      "build per-file bloom filters over a BIGINT column for point-lookup skipping",
      Seq("table" -> S, "column" -> S, "bits_per_row" -> L),
      Seq("files_indexed" -> L, "column" -> S)),
    "branch" -> Verb("fork a writable branch of the table over the same bytes",
      Seq("table" -> S, "branch_name" -> S),
      Seq("branch_name" -> S, "base_version" -> L, "n_files" -> L)),
    "fast_forward" -> Verb(
      "publish a branch head onto main (refuses when main diverged)",
      Seq("table" -> S, "branch_name" -> S),
      Seq("new_version" -> L, "files_moved" -> L, "n_rows" -> L)),
    "drop_branch" -> Verb(
      "retire a branch (parent bytes are untouched; GC pins release)",
      Seq("table" -> S, "branch_name" -> S),
      Seq("dropped" -> S)))

  private def catalog(name: String, root: String,
      options: (String, String)*): SinkCatalog = {
    val c = new SinkCatalog
    c.initialize(name, new CaseInsensitiveStringMap(
      (options.toMap + ("root" -> root)).asJava))
    c
  }

  private def session(name: String, root: String,
      options: (String, String)*) = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    s.conf.set(s"spark.sql.catalog.$name", classOf[SinkCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.root", root)
    options.foreach { case (k, v) => s.conf.set(s"spark.sql.catalog.$name.$k", v) }
    s
  }

  private def resultSchema(v: Verb): StructType =
    StructType(v.result.map { case (n, dt) => StructField(n, dt, nullable = false) })

  /** Name, description, IN parameters and determinism as bound. */
  private def checkBound(c: SinkCatalog, name: String, v: Verb): Unit = {
    val unbound = c.loadProcedure(Identifier.of(Array.empty, name))
    assert(unbound.name() == name)
    assert(unbound.description() == v.description, name)
    val bound = unbound.bind(StructType(v.params.map { case (n, dt) =>
      StructField(n, dt) }))
    assert(bound.name() == name)
    assert(bound.description() == v.description, name)
    assert(!bound.isDeterministic, s"$name must not be deterministic")
    val ps = bound.parameters().toSeq
    assert(ps.map(p => p.name() -> p.dataType()) == v.params, name)
    assert(ps.forall(_.mode() == ProcedureParameter.Mode.IN), name)
    assert(ps.forall(_.defaultValue() == null), name)
  }

  test("every verb binds with its name, description and typed IN parameters") {
    val root = java.nio.file.Files.createTempDirectory("graft_psurf").toString
    val c = catalog("graft_psurf", root)
    assert(c.listProcedures(Array.empty).map(_.name()).toSet == surface.keySet)
    assert(c.listProcedures(Array("ns")).isEmpty)
    surface.foreach { case (name, v) => checkBound(c, name, v) }
    intercept[NoSuchElementException] {
      c.loadProcedure(Identifier.of(Array.empty, "vacuum"))
    }
    // the catalog's MoR flag shows in compact's description only
    val mor = catalog("graft_psurfm", root, "mor" -> "true")
    checkBound(mor, "compact", surface("compact").copy(description =
      surface("compact").description + " and purge deletion vectors"))
    (surface - "compact").foreach { case (name, v) => checkBound(mor, name, v) }
  }

  test("every CALL returns its one-row result with the pinned schema") {
    val root = java.nio.file.Files.createTempDirectory("graft_psurc").toString
    val s = session("graft_psurc", root)
    import s.implicits._
    SinkSource.write((0L until 8L).map(i => (i % 2, i)).toDF("k", "v")
      .repartition(2, col("v")), s"$root/t", overwrite = true)    // v1
    SinkSource.write(Seq((0L, 100L)).toDF("k", "v"), s"$root/t",
      overwrite = false)                                           // v2
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    def call(name: String, args: String): Unit = {
      val df = s.sql(s"CALL graft_psurc.$name('t'$args)")
      assert(df.schema == resultSchema(surface(name)), name)
      assert(df.collect().length == 1, name)
      seen += name
    }
    call("rollback", ", 1")
    call("tag", ", 1, 'pinned'")
    call("compact", "")
    call("build_bloom", ", 'v', 10")
    call("rewrite_clustered", ", 'v', 2")
    call("branch", ", 'dev'")
    call("fast_forward", ", 'dev'")
    call("drop_branch", ", 'dev'")
    call("evolve_spec", ", 'bucket(4)'")
    call("expire", ", 100")
    call("remove_orphans", ", 3600000")
    assert(seen.toSet == surface.keySet)

    // a MoR catalog serves compact's result under the same schema
    val rootM = java.nio.file.Files.createTempDirectory("graft_psurcm").toString
    val m = session("graft_psurcm", rootM, "mor" -> "true")
    SinkSource.write(Seq((0L, 1L), (1L, 2L)).toDF("k", "v"), s"$rootM/t",
      overwrite = true)
    val df = m.sql("CALL graft_psurcm.compact('t')")
    assert(df.schema == resultSchema(surface("compact")))
    assert(df.collect().length == 1)
  }
}
