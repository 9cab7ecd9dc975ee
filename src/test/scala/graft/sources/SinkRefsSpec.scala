package graft.sources

import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.SparkSpec

/** A `refhook:` filesystem over the local one, the sibling of
  * [[HookFileSystem]] with a caller-chosen trigger: it runs a callback
  * once, right after the first create, delete or rename that matches
  * a predicate. Paths map 1:1 onto local paths (`refhook:/tmp/x` is
  * `/tmp/x`), and every call delegates to the sink's local filesystem,
  * so rename keeps its refuse-existing CAS semantic. */
class RefsHookFileSystem extends FileSystem {
  private def local: FileSystem = SinkSource.fs("/")
  private def toLocal(p: Path): Path = new Path("file", null, p.toUri.getPath)
  private def hooked(st: FileStatus): FileStatus = {
    st.setPath(new Path("refhook", null, st.getPath.toUri.getPath))
    st
  }

  override def getUri: URI = URI.create("refhook:///")
  override def getScheme: String = "refhook"
  override def getWorkingDirectory: Path = new Path("refhook:///")
  override def setWorkingDirectory(dir: Path): Unit = ()

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    local.open(toLocal(f), bufferSize)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val out = local.create(toLocal(f), permission, overwrite, bufferSize,
      replication, blockSize, progress)
    RefsHookFileSystem.after("create", f)
    out
  }
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    local.append(toLocal(f), bufferSize, progress)
  override def delete(f: Path, recursive: Boolean): Boolean = {
    val ok = local.delete(toLocal(f), recursive)
    RefsHookFileSystem.after("delete", f)
    ok
  }
  override def listStatus(f: Path): Array[FileStatus] =
    local.listStatus(toLocal(f)).map(hooked)
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)
  override def getFileStatus(f: Path): FileStatus =
    hooked(local.getFileStatus(toLocal(f)))
  override def rename(src: Path, dst: Path): Boolean = {
    val ok = local.rename(toLocal(src), toLocal(dst))
    RefsHookFileSystem.after("rename", dst)
    ok
  }
}

object RefsHookFileSystem {
  private var pending: Option[((String, Path) => Boolean, () => Unit)] = None

  /** Run `f` right after the next create/delete/rename (`op`, with the
    * created, deleted or renamed-to path) that `when` accepts. */
  def once(when: (String, Path) => Boolean)(f: => Unit): Unit =
    synchronized { pending = Some((when, () => f)) }
  def armed: Boolean = synchronized { pending.isDefined }

  private def after(op: String, p: Path): Unit = {
    val fire = synchronized {
      pending.filter(_._1(op, p)).map { x => pending = None; x._2 }
    }
    fire.foreach(_())
  }
}

/** Tags and branch refs are one versioned family (`_refs/v<n>.psv`),
  * published like the manifest: a reader at any instant resolves a
  * complete ref set, and concurrent ref updates re-plan over each
  * other instead of losing one. Constraint ALTERs re-plan the same
  * way. Each test races a second call into the first one's publish. */
class SinkRefsSpec extends SparkSpec {

  private def table(cat: String): (String, String) = {
    SinkSource.hadoopConf.set("fs.refhook.impl",
      classOf[RefsHookFileSystem].getName)
    val root = "refhook://" +
      java.nio.file.Files.createTempDirectory("graft_refs").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (root, s"$root/t")
  }

  private def write(path: String, rows: Seq[(Long, Long)],
      overwrite: Boolean): Unit = {
    import spark.implicits._
    SinkSource.write(rows.toDF("k", "v").coalesce(1), path, overwrite)
  }

  private def tmpCreate(parents: String*)(op: String, p: Path): Boolean =
    op == "create" && p.getName.startsWith("_tmp_") &&
      parents.contains(p.getParent.getName)

  test("expire racing a tag move keeps every tagged version") {
    val (_, path) = table("graft_refs_a")
    write(path, Seq((0L, 1L)), overwrite = true)                     // v1
    spark.sql("CALL graft_refs_a.tag('t', 1, 'keep')").collect()
    (2L to 4L).foreach(i => write(path, Seq((i, i)), overwrite = false))
    RefsHookFileSystem.once((op, _) => op == "delete" || op == "rename") {
      spark.sql("CALL graft_refs_a.expire('t', 1)").collect()
    }
    spark.sql("CALL graft_refs_a.tag('t', 4, 'published')").collect()
    assert(!RefsHookFileSystem.armed, "expire never raced the tag move")
    assert(SinkSource.tags(path) == Map("keep" -> 1, "published" -> 4))
    val kept = spark.sql("SELECT k, v FROM graft_refs_a.t VERSION AS OF 'keep'")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(kept == Seq((0L, 1L)), s"the 'keep' tag must still read v1: $kept")
    // a ref line is kind|name|version: a '|' in a tag name survives
    spark.sql("CALL graft_refs_a.tag('t', 4, 'rc|1')").collect()
    assert(SinkSource.tags(path).get("rc|1").contains(4))
  }

  test("a branch created during another branch's ref publish survives it") {
    val (_, path) = table("graft_refs_b")
    write(path, Seq((0L, 1L), (1L, 2L)), overwrite = true)           // v1
    val t = new Path(path).getName
    RefsHookFileSystem.once(tmpCreate(t, "_refs")) {
      spark.sql("CALL graft_refs_b.branch('t', 'b')").collect()
    }
    spark.sql("CALL graft_refs_b.branch('t', 'a')").collect()
    assert(!RefsHookFileSystem.armed, "branch b never raced branch a")
    assert(SinkSource.branches(path) == Map("a" -> 1, "b" -> 1))
    // both refs resolve: b promotes, and a is found but now diverged
    val ff = spark.sql("CALL graft_refs_b.fast_forward('t', 'b')").collect()(0)
    assert(ff.getLong(0) == 2L)
    val diverged = intercept[Exception](
      spark.sql("CALL graft_refs_b.fast_forward('t', 'a')").collect())
    assert(diverged.getMessage.contains("main advanced"), diverged.getMessage)
  }

  test("two racing ADD CONSTRAINTs both land") {
    val (_, path) = table("graft_refs_c")
    write(path, Seq((0L, 1L)), overwrite = true)                     // v1
    val t = new Path(path).getName
    RefsHookFileSystem.once(tmpCreate(t)) {
      spark.sql("ALTER TABLE graft_refs_c.t ADD CONSTRAINT k_nonneg CHECK (k >= 0)")
    }
    spark.sql("ALTER TABLE graft_refs_c.t ADD CONSTRAINT v_nonneg CHECK (v >= 0)")
    assert(!RefsHookFileSystem.armed, "the ALTERs never raced")
    assert(SinkConstraints.load(path).map(_._1).toSet == Set("k_nonneg", "v_nonneg"))
  }
}
