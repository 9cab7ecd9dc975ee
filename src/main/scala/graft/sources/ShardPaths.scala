package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Output-root resolution for the shard writers (q78 batch, q80
  * streaming). All paths are built and qualified through the Hadoop FS
  * API, so a deployment whose default filesystem is HDFS/S3A gets a
  * cluster-visible root out of the box — the previous `java.io.File`
  * composition silently pinned the default to each node's local /tmp.
  *
  * Configuration: `graft.shards.dir` overrides the base. The DEFAULT
  * base is `<java.io.tmpdir>/graft_shards` qualified against the
  * default FS — correct for local runs and for clusters whose
  * default FS is shared; a cluster whose default FS is local MUST set
  * the conf to a shared location.
  *
  * Each query namespaces its own subdirectory (`<query>_<md5(dir)>`),
  * so two queries pointed at the same input dir — or the same base via
  * the override — can never answer each other's read-backs (q78 vs q80
  * previously collided under the override). The input-dir hash keeps
  * scale factors apart: Bench warms at sf0.001 then measures at sf0.1
  * in one session, and a shared path would let one scale factor's
  * shards answer the other's manifest.
  *
  * Fixture roots are SINGLE-WRITER: one query run owns its root from
  * [[fresh]] until the frame it returns has been read. [[fresh]] wipes
  * the root with no lock or rename, so two runs of one query over one
  * input dir (two sessions, one base) must not overlap; a run that
  * fails throws before it returns a frame, and the next run starts
  * empty.
  */
object ShardPaths {

  /** Qualified output root for `query` over input `dir`. */
  def resolve(spark: SparkSession, query: String, dir: String): String =
    qualify(spark, new Path(base(spark), sub(query, dir)))

  /** Qualified checkpoint root for `query` over input `dir` — sibling
    * of [[resolve]] so checkpoint and data live on the same FS.
    */
  def resolveCheckpoint(spark: SparkSession, query: String, dir: String): String =
    qualify(spark, new Path(base(spark), sub(query, dir) + "_ckpt"))

  /** [[resolve]]'s root, deleted recursively: the empty root a fixture
    * run starts from, so no fixture table carries an earlier run's
    * history. */
  def fresh(spark: SparkSession, query: String, dir: String): String =
    wipe(spark, resolve(spark, query, dir))

  /** [[resolveCheckpoint]]'s root, deleted recursively. A stream's
    * table and checkpoint are one unit: a fresh table under a stale
    * checkpoint would replay nothing. */
  def freshCheckpoint(spark: SparkSession, query: String, dir: String): String =
    wipe(spark, resolveCheckpoint(spark, query, dir))

  private def wipe(spark: SparkSession, root: String): String = {
    val p = new Path(root)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    root
  }

  private def base(spark: SparkSession): Path =
    new Path(spark.conf.get("graft.shards.dir",
      new Path(sys.props("java.io.tmpdir"), "graft_shards").toString))

  private def sub(query: String, dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"${query}_$h"
  }

  private def qualify(spark: SparkSession, p: Path): String =
    p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toString
}
