package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** BATCH CHANGE DATA FEED over the sink format: the rows that changed
  * between two committed versions, each tagged `_change_type`
  * ('insert' | 'delete') and `_commit_version` — Delta's
  * `table_changes` shape, derived entirely from metadata the format
  * already keeps (NO extra change log):
  *
  *   - a data file present in version v but not v-1 is v's INSERT set
  *     (the manifest is the table, so file identity IS row identity
  *     for appends);
  *   - deletion-vector positions present at v but not v-1 are v's
  *     DELETE set — the tombstoned rows are read back out of the
  *     still-live data file, so the feed carries the deleted VALUES,
  *     not just positions (what a downstream aggregate/MV needs to
  *     retract);
  *   - a MoR UPDATE is delete + insert in one version (no preimage
  *     pairing — the standard CDF contract without update grouping);
  *   - an ALTER COLUMN is a metadata-only snapshot: zero change rows.
  *
  * A file REMOVED between the versions (truncate, metadata delete,
  * CoW rewrite, compaction) breaks append-plus-tombstone history —
  * the feed REFUSES loudly (`resync from a full snapshot`), exactly
  * the contract Delta documents when a non-CDF-able rewrite lands.
  * Rows are served with the schema AS OF `toVersion`, older files
  * reconciling by permanent field id like any sink read.
  *
  * Scale notes (100 TB): planning is manifest arithmetic (versions ×
  * entries, driver-side, zero data opened); the read costs ONLY the
  * files that changed — an incremental consumer of a petabyte table
  * pays for its delta, never the table. Vector diffs are computed
  * executor-side from the per-file vector lists the sidecar already
  * binds, so the driver never loads a position set.
  */
object SinkChanges {
  val changeType: StructField =
    StructField("_change_type", StringType, nullable = false)
  val commitVersion: StructField =
    StructField("_commit_version", LongType, nullable = false)

  /** The change rows of `(fromVersion, toVersion]` as a DataFrame. */
  def load(spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Int): DataFrame =
    spark.read.format("graft.sources.SinkSource")
      .option("path", path)
      .option("changesFrom", fromVersion.toString)
      .option("changesTo", toVersion.toString)
      .load()

  private[sources] def schemaOf(path: String, toVersion: Int): StructType = {
    val fields = SinkSchemas.currentFields(path, Some(toVersion))
    StructType(SinkSchemas.structType(fields).fields.toSeq :+
      changeType :+ commitVersion)
  }

  /** STREAMING form: every later commit arrives as a micro-batch of
    * change rows — the delete-aware dual of the append-only changelog
    * stream (q267). `fromVersion` bootstraps a new consumer;
    * `maxVersionsPerTrigger` bounds catch-up batches by commits. */
  def readStream(spark: SparkSession, path: String, fromVersion: Int = 0,
      maxVersionsPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.format("graft.sources.SinkSource")
      .option("path", path)
      .option("changesFrom", fromVersion.toString)
      .option("changesStream", "true")
    maxVersionsPerTrigger.foreach(n =>
      r.option("maxVersionsPerTrigger", n.toString))
    r.load()
  }

  /** One split per (changed file, version, change kind) across
    * `(fromVersion, toVersion]` — shared by the batch scan and the
    * micro-batch stream (a stream batch IS a version window). Refuses
    * loudly when a version REMOVED files (truncate / metadata delete /
    * CoW rewrite / compaction): append-plus-tombstone history is the
    * contract a changelog consumer holds.
    */
  private[sources] def partitionsFor(path: String, fromVersion: Int,
      toVersion: Int): Array[InputPartition] = {
    val out = Seq.newBuilder[InputPartition]
    for (v <- (fromVersion + 1) to toVersion) {
      val prev = if (v == 1) Seq.empty
        else SinkSource.manifest(path, Some(v - 1))
      val cur = SinkSource.manifest(path, Some(v))
      val prevSet = prev.map(_._2).toSet
      val curSet = cur.map(_._2).toSet
      val removed = (prevSet -- curSet).toSeq.sorted
      if (removed.nonEmpty)
        throw new UnsupportedOperationException(
          s"change feed broken at version $v of $path: data files were " +
            s"REMOVED (${removed.take(3).mkString(", ")}${
              if (removed.size > 3) ", ..." else ""}) — a truncate, " +
            "metadata delete, copy-on-write rewrite or compaction " +
            "rewrote history; consumers must resync from a full snapshot")
      // equality deletes are VALUE-keyed: deriving their change rows
      // would mean scanning every older file for matches — not a
      // metadata diff. Refuse the window loudly (the Iceberg-CDC
      // posture for eq deletes), same resync contract as removals —
      // but only when the EFFECTIVE eq state changed: the set of
      // headers that actually APPLY to some cited file (file seq <
      // delete seq). A version that self-prunes a DEAD header, or an
      // eqOverride carry (rollback) re-publishing the same applying
      // set, changes no rows and must not break the feed; a rollback
      // that ADDS or REVERTS an applying delete changes rows with no
      // metadata-derivable change set, so it refuses like a fresh
      // delete would.
      def effectiveEq(ver: Int,
          entries: Seq[(Long, String, Long)]): Set[(String, Int, Int)] =
        if (ver == 0) Set.empty
        else {
          val eqs = SinkSource.eqDeletes(path, Some(ver))
          if (eqs.isEmpty) Set.empty
          else {
            val seqs = SinkSource.fileSeqs(path, Some(ver))
            val cited = entries.map(_._2).distinct
            eqs.filter { case (_, _, s) =>
              cited.exists(f => seqs.getOrElse(f, 0) < s) }.toSet
          }
        }
      if (effectiveEq(v, cur) != effectiveEq(v - 1, prev))
        throw new UnsupportedOperationException(
          s"change feed broken at version $v of $path: an EQUALITY " +
            "DELETE landed or reverted (value-keyed tombstones have " +
            "no metadata-derivable change rows); consumers must " +
            "resync from a full snapshot")
      val fieldsOf = SinkSource.fileFields(path, Some(v))
      val dvPrev = (if (v == 1) Seq.empty
        else SinkSource.deleteSidecar(path, Some(v - 1)))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val dvCur = SinkSource.deleteSidecar(path, Some(v))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      def abs(dv: String): String =
        new Path(path, s"deletes/$dv").toString
      // inserts: files the version added (minus tombstones born with
      // them — a same-commit MERGE can in principle do both)
      (curSet -- prevSet).toSeq.sorted.foreach { f =>
        out += SinkChangesInputPartition(
          new Path(path, s"data/$f").toString, fieldsOf(f),
          "insert", v, dvCur.getOrElse(f, Seq.empty).map(abs), Seq.empty)
      }
      // deletes: surviving files whose vector list grew this version
      (curSet intersect prevSet).toSeq.sorted.foreach { f =>
        val curVs = dvCur.getOrElse(f, Seq.empty)
        val prevVs = dvPrev.getOrElse(f, Seq.empty)
        if (curVs.toSet != prevVs.toSet)
          out += SinkChangesInputPartition(
            new Path(path, s"data/$f").toString, fieldsOf(f),
            "delete", v, curVs.map(abs), prevVs.map(abs))
      }
    }
    out.result().toArray
  }
}

/** The CDF relation: read-only, pinned to its (from, to] window for
  * batch reads; a STREAM treats `to` as its schema snapshot and keeps
  * consuming later versions as they commit. */
class SinkChangesTable(path: String, fromVersion: Int, toVersion: Int,
    maxVersionsPerTrigger: Option[Int] = None)
    extends Table with SupportsRead {

  {
    val cur = SinkSource.currentVersion(path)
    if (fromVersion < 0 || toVersion < fromVersion || toVersion > cur)
      throw new IllegalArgumentException(
        s"invalid change window ($fromVersion, $toVersion] on $path " +
          s"(history is 1..$cur)")
  }

  override def name(): String =
    s"graft_sink_changes($path@($fromVersion,$toVersion])"
  override def schema(): StructType = SinkChanges.schemaOf(path, toVersion)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new SinkChangesScan(path, fromVersion, toVersion,
          maxVersionsPerTrigger)
    }
}

/** One split per (changed file, version, change kind): inserts stream
  * the added file (minus any tombstones born with it), deletes stream
  * exactly the positions the version's vector diff added. */
case class SinkChangesInputPartition(file: String,
    fileFields: Seq[SinkSchemas.SinkField],
    kind: String, version: Int,
    curDvFiles: Seq[String], prevDvFiles: Seq[String])
    extends InputPartition

class SinkChangesScan(path: String, fromVersion: Int, toVersion: Int,
    maxVersionsPerTrigger: Option[Int] = None)
    extends Scan with Batch {

  private lazy val readFields: Seq[SinkSchemas.SinkField] =
    SinkSchemas.currentFields(path, Some(toVersion))

  override def readSchema(): StructType =
    SinkChanges.schemaOf(path, toVersion)
  override def toBatch: Batch = this

  private lazy val parts: Array[InputPartition] =
    SinkChanges.partitionsFor(path, fromVersion, toVersion)

  override def description(): String =
    s"SinkChangesScan($path, from=$fromVersion, to=$toVersion, " +
      s"changedSplits=${parts.length})"

  override def planInputPartitions(): Array[InputPartition] = parts

  override def createReaderFactory(): PartitionReaderFactory =
    new SinkChangesReaderFactory(readFields)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SinkChangesMicroBatchStream(path, fromVersion,
      maxVersionsPerTrigger, readFields)
}

class SinkChangesReaderFactory(readFields: Seq[SinkSchemas.SinkField])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[SinkChangesInputPartition]
    new SinkChangesReader(cp, readFields)
  }
}

/** The STREAMING change feed: offsets are manifest versions (the
  * shape [[SinkMicroBatchStream]] established), but a micro-batch
  * carries the version window's CHANGE ROWS — inserts AND
  * value-carrying deletes — so a stateful consumer can maintain
  * retractable state (a live MV) instead of only appending. Admission
  * control bounds catch-up batches by VERSIONS (commits), the grain
  * that bounds work by ingest activity. A history rewrite mid-stream
  * fails the batch loudly — the consumer must resync, exactly the
  * batch feed's contract.
  */
class SinkChangesMicroBatchStream(path: String, startingVersion: Int,
    maxVersionsPerTrigger: Option[Int],
    readFields: Seq[SinkSchemas.SinkField])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def offset(v: Int): Offset = new Offset {
    override def json(): String = v.toString
    override def toString: String = s"SinkChangesOffset($v)"
  }
  private def versionOf(o: Offset): Int = o.json().trim.toInt

  override def initialOffset(): Offset = offset(math.max(0, startingVersion))
  override def latestOffset(): Offset =
    offset(SinkSource.currentVersion(path))
  override def deserializeOffset(json: String): Offset =
    offset(json.trim.toInt)

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => SinkMaxVersions(n): ReadLimit)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = SinkSource.currentVersion(path)
    limit match {
      case SinkMaxVersions(n) => offset(math.min(cur, versionOf(start) + n))
      case _ => offset(cur)
    }
  }

  override def reportLatestOffset(): Offset =
    offset(SinkSource.currentVersion(path))

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] =
    SinkChanges.partitionsFor(path, versionOf(start), versionOf(end))

  override def createReaderFactory(): PartitionReaderFactory =
    new SinkChangesReaderFactory(readFields)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Streams the partition's data file, emitting rows per its change
  * kind: inserts skip the birth tombstones, deletes emit ONLY the
  * positions in (current vectors − previous vectors). Position
  * arithmetic matches [[SinkReader]]'s: 0-based line index. */
class SinkChangesReader(part: SinkChangesInputPartition,
    readFields: Seq[SinkSchemas.SinkField])
    extends PartitionReader[InternalRow] {

  private def positions(dvFiles: Seq[String]): java.util.HashSet[Long] = {
    val s = new java.util.HashSet[Long]()
    dvFiles.foreach { dv =>
      val ls = new SinkSource.LineStream(dv)
      try while (ls.hasNext) s.add(ls.next().toLong)
      finally ls.close()
    }
    s
  }

  // insert: emit unless tombstoned at birth; delete: emit iff newly
  // tombstoned this version
  private val cur = positions(part.curDvFiles)
  private val prev = positions(part.prevDvFiles)
  private def emits(pos: Long): Boolean = part.kind match {
    case "insert" => !cur.contains(pos)
    case _ => cur.contains(pos) && !prev.contains(pos)
  }

  private val typeTag = org.apache.spark.unsafe.types.UTF8String
    .fromString(part.kind)
  private val lines = new SinkSource.LineStream(part.file)
  private val plan = SinkSchemas.readPlan(part.fileFields, readFields)
  private var pos = -1L
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (lines.hasNext) {
      val line = lines.next()
      pos += 1
      if (emits(pos)) {
        val c = line.split('|')
        val out = new Array[Any](plan.length + 2)
        var i = 0
        while (i < plan.length) {
          val (p, dt, dflt) = plan(i)
          out(i) =
            if (p < 0) dflt // pre-ADD rows read the initial default
            else if (p >= c.length) null
            else SinkSchemas.parse(c(p), dt)
          i += 1
        }
        out(plan.length) = typeTag
        out(plan.length + 1) = part.version.toLong
        row = new GenericInternalRow(out)
        return true
      }
    }
    false
  }
  override def get(): InternalRow = row
  override def close(): Unit = lines.close()
}
