package graft.sources

import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.SparkSpec

/** A `hook:` filesystem over the local one that runs a callback once,
  * right after compaction moves its first rewritten file out of its
  * `_compact_` table into the live table's data/ — the window between
  * compaction's manifest read and its publish. Paths map 1:1 onto
  * local paths (`hook:/tmp/x` is `/tmp/x`), and every call delegates
  * to the sink's local filesystem, so rename keeps its CAS semantic. */
class HookFileSystem extends FileSystem {
  private def local: FileSystem = SinkSource.fs("/")
  private def toLocal(p: Path): Path = new Path("file", null, p.toUri.getPath)
  private def hooked(st: FileStatus): FileStatus = {
    st.setPath(new Path("hook", null, st.getPath.toUri.getPath))
    st
  }

  override def getUri: URI = URI.create("hook:///")
  override def getScheme: String = "hook"
  override def getWorkingDirectory: Path = new Path("hook:///")
  override def setWorkingDirectory(dir: Path): Unit = ()

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    local.open(toLocal(f), bufferSize)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    local.create(toLocal(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    local.append(toLocal(f), bufferSize, progress)
  override def delete(f: Path, recursive: Boolean): Boolean =
    local.delete(toLocal(f), recursive)
  override def listStatus(f: Path): Array[FileStatus] =
    local.listStatus(toLocal(f)).map(hooked)
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)
  override def getFileStatus(f: Path): FileStatus =
    hooked(local.getFileStatus(toLocal(f)))

  override def rename(src: Path, dst: Path): Boolean = {
    val ok = local.rename(toLocal(src), toLocal(dst))
    val compactionMove = src.toString.contains("/_compact_") &&
      !dst.toString.contains("/_compact_") && dst.getParent.getName == "data"
    if (ok && compactionMove) HookFileSystem.fire()
    ok
  }
}

object HookFileSystem {
  private var pending: Option[() => Unit] = None

  /** Run `f` on the next compaction move into a live data/ dir. */
  def once(f: => Unit): Unit = synchronized { pending = Some(() => f) }
  def armed: Boolean = synchronized { pending.isDefined }

  private def fire(): Unit = {
    val p = synchronized { val x = pending; pending = None; x }
    p.foreach(_())
  }
}

/** Compaction plans, reads and rewrites one snapshot, then publishes
  * through the CAS: a commit that lands between its manifest read and
  * its publish must survive the publish exactly once — re-planned onto
  * the new head, not dropped by a manifest built from the old one. */
class SinkCompactRaceSpec extends SparkSpec {

  test("an append that lands during compaction survives exactly once") {
    SinkSource.hadoopConf.set("fs.hook.impl", classOf[HookFileSystem].getName)
    val root = "hook://" +
      java.nio.file.Files.createTempDirectory("graft_compact_race").toString
    val path = s"$root/t"
    import spark.implicits._
    // two commits leave key 0 in two files: the compaction target
    SinkSource.write(Seq((0L, 1L), (1L, 10L)).toDF("k", "v").coalesce(1),
      path, overwrite = true)                                        // v1
    SinkSource.write(Seq((0L, 2L)).toDF("k", "v").coalesce(1), path,
      overwrite = false)                                             // v2
    // the racing append's file is already in data/; the hook commits
    // it while compaction is moving its rewritten files in
    val f = SinkSource.fs(path)
    val out = f.create(new Path(path, "data/race_k0.psv"), true)
    try out.write("0|99\n".getBytes("UTF-8")) finally out.close()
    HookFileSystem.once {
      SinkSource.transact(path)(_ =>
        (Seq((0L, "race_k0.psv", 1L)), Set.empty[String]))           // v3
    }
    spark.conf.set("spark.sql.catalog.graft_race",
      classOf[SinkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_race.root", root)
    val summary = spark.sql("CALL graft_race.compact('t')").collect()
    assert(summary.head.getLong(0) == 1L, s"key 0 must compact: ${summary.toSeq}")
    assert(!HookFileSystem.armed, "the append never raced the compaction")
    val rows = SinkSource.load(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(rows == Seq((0L, 1L), (0L, 2L), (0L, 99L), (1L, 10L)),
      s"the raced append must survive exactly once: $rows")
    assert(SinkSource.manifest(path).count(_._2 == "race_k0.psv") == 1)
  }
}
