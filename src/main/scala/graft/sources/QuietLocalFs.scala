package graft.sources

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` filesystems minus two LOCAL-ONLY per-file costs that
  * dominate small-file I/O when the Hadoop native library is absent
  * (this sandbox, most laptops, many CI boxes):
  *
  *  1. every `create`/`mkdirs` FORKS a `chmod` subprocess —
  *     [[RawLocalFileSystem.setPermission]] falls back to
  *     `Shell.execCommand` without libhadoop. The override keeps the
  *     process-umask permissions the underlying `FileOutputStream`
  *     already applied (exactly what the NativeIO fast path would do,
  *     without the fork). Round-19 driver stack samples put this fork
  *     plus the `.crc` twin at ~40% of a sink DML query's time.
  *  2. the checksum wrapper writes and verifies a `.crc` TWIN per
  *     file, doubling creates and opens. Parquet carries page-level
  *     checksums of its own, the sink format publishes names + row
  *     counts through its manifest, and production object stores have
  *     no client-side crc twins — the twin only taxes local runs.
  *
  * Wired in via `spark.hadoop.fs.file.impl` /
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` (the FileContext
  * flavor streaming checkpoints use) by the graft mains and the test
  * session. Scheme-scoped by construction: hdfs/s3 tables keep their
  * real filesystems and semantics. Rename/overwrite/atomicity
  * behavior is the raw local FS's — the same calls the checksum
  * wrapper delegated to before.
  */
class QuietRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit = ()

  /** Deleting a file reports true only when THIS call removed it. The
    * raw FS checks `exists`, then `isFile`; a file a racing caller
    * unlinks in between falls through to `fullyDelete`, which reports
    * true for the missing path, so two racing deletes of one file both
    * claimed it (expire's per-call counts summed past the versions
    * there were). One unlink decides instead. */
  override def delete(p: Path, recursive: Boolean): Boolean = {
    val f = pathToFile(p)
    if (f.isDirectory) super.delete(p, recursive)
    else java.nio.file.Files.deleteIfExists(f.toPath)
  }
}

/** FileSystem-API flavor (plain `FileSystem.get` / data source paths).
  * `rename` REFUSES an existing destination file — the semantics the
  * classpath's default `file:` impl (Hive's ProxyLocalFileSystem, the
  * FS every round before this one ran on) provides and the sink's
  * manifest CAS depends on ("land at exactly v(n+1) or lose the
  * rename race"); raw POSIX rename(2) would silently clobber the
  * winner. Verified by SinkOccSpec/q304.
  */
class QuietLocalFileSystem
    extends LocalFileSystem(new QuietRawLocalFileSystem) {
  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }

  override def rename(src: Path, dst: Path): Boolean =
    if (isFile(dst)) false else super.rename(src, dst)
}

/** AbstractFileSystem flavor (FileContext — streaming checkpoint
  * managers resolve `file:` through this registry, not FileSystem's).
  * Delegating straight to the raw FS skips the ChecksumFs wrapper the
  * default `LocalFs` adds, matching [[QuietLocalFileSystem]].
  */
class QuietLocalAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new QuietRawLocalFileSystem, conf,
      "file", false)
