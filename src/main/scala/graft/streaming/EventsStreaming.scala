package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table: the streaming duals of
  * the batch queries q23 (tumbling windows) and q24 (sessionization).
  * The reference is batch-only (SURVEY §2.10), so these are additive
  * capabilities; semantics are pinned by equality-vs-batch tests.
  *
  * Scale notes: the windowed aggregate is watermarked so state is
  * bounded and late events beyond 30 minutes drop; sessionization keys
  * state by user_id, so state size is O(active users), and the shuffle
  * is the one hash partition on user_id that any stateful op needs.
  */
object EventsStreaming {

  /** Events schema with `ts` already normalized to session-zoned
    * TIMESTAMP — what [[readEventsStream]] surfaces and what staging
    * blocks that rewrite the events table should write. Also the
    * declared-schema FALLBACK when the stream's source directory has
    * no matching files yet at construction time (a file-stream source
    * populated later), where footer-based inference has nothing to
    * read. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def readEventsStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      options: Map[String, String] = Map.empty): DataFrame = {
    // the file-stream source lists a DIRECTORY; the glob filter scopes
    // it to the events table. `glob`/`options` let specs stage multiple
    // files and force micro-batch boundaries (maxFilesPerTrigger).
    // Structured Streaming requires the schema declared up front, but
    // the generator's physical ts encoding has changed across testdata
    // generations (int64 nanos vs TIMESTAMP_NTZ micros) — so take the
    // schema from the files themselves (one driver-side footer read)
    // and normalize ts the same way the batch loader does. An empty
    // (not-yet-populated) source directory is a legitimate stream
    // state: fall back to the declared contract schema instead of
    // throwing at construction.
    graft.sources.Tables.normalizeEventsTs(
      spark.readStream.schema(inferredSchema(spark, dir, glob))
        .option("pathGlobFilter", glob)
        .options(options)
        .parquet(dir))
  }

  /** Memoized source schema per (dir, glob): a full batch-reader
    * resolution (file index + footer read + relation) costs ~100 ms of
    * driver time per stream construction, and q73/q167/q262-class
    * queries construct two sources over the same immutable table. The
    * memo is METADATA keyed on the matching files' (path, mtime, len)
    * signature — the signature is re-listed on EVERY access, so a
    * staged directory rewritten between calls re-infers and a stale
    * schema can never be served; nothing here is keyed on query
    * results. An empty signature (empty or not-yet-populated source
    * dir) falls back to the declared contract schema, the same
    * behavior the previous UNABLE_TO_INFER_SCHEMA catch provided.
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, StructType)]()

  private def inferredSchema(spark: SparkSession, dir: String,
      glob: String): StructType = {
    val sig = sourceSignature(spark, dir, glob)
    if (sig.isEmpty) eventsSchema
    else {
      val key = (dir, glob)
      val cached = schemaMemo.get(key)
      if (cached != null && cached._1 == sig) cached._2
      else {
        val s = spark.read.option("pathGlobFilter", glob).parquet(dir).schema
        schemaMemo.put(key, (sig, s))
        s
      }
    }
  }

  /** (path, mtime, length) signature of the leaf files a file-stream
    * source over (dir, glob) would read: `dir` may itself be a glob
    * (the staged-fixture form "stage/STAR.parquet"); each match that
    * is a directory is listed one level (the staged layouts here are
    * flat parquet dirs), hidden files skipped as the reader does.
    */
  private def sourceSignature(spark: SparkSession, dir: String,
      glob: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val matcher = new org.apache.hadoop.fs.GlobFilter(glob)
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    val leaves =
      try Option(fs.globStatus(p)).getOrElse(Array.empty).flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).filter(s => s.isFile &&
            visible(s.getPath.getName) && matcher.accept(s.getPath))
        else if (visible(st.getPath.getName) && matcher.accept(st.getPath))
          Array(st)
        else Array.empty[org.apache.hadoop.fs.FileStatus]
      }
      catch { case _: java.io.FileNotFoundException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] }
    leaves.map(s => s"${s.getPath}:${s.getModificationTime}:${s.getLen}")
      .sorted.mkString("\n")
  }

  /** Tumbling 1-hour windowed counts/sums with a 30-minute watermark —
    * the streaming form of EventsQueries.q23.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  case class Event(event_id: Long, sec: Long, user_id: Long, value: Double)
  case class SessionRow(user_id: Long, session_id: Long, n_events: Long,
      session_start_sec: Long, session_end_sec: Long)
  case class SessionState(nextSessionId: Long, lastSec: Long)

  /** Gap-based sessionization (30-minute inactivity) via
    * flatMapGroupsWithState, the streaming form of EventsQueries.q24:
    * state per user carries the running session counter and last-seen
    * time. Events within each micro-batch are ordered in-group before
    * folding, so a single-batch run reproduces the batch query exactly.
    */
  def sessionize(spark: SparkSession, events: DataFrame): Dataset[SessionRow] = {
    import spark.implicits._
    val typed = events.select(col("event_id"), col("ts").cast("long").as("sec"),
      col("user_id"), col("value")).as[Event]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) => {
          val sorted = it.toSeq.sortBy(e => (e.sec, e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          sorted.foreach { e =>
            val newSession = st.lastSec == Long.MinValue || e.sec - st.lastSec > 1800
            val sid = if (newSession) st.nextSessionId + 1 else st.nextSessionId
            st = SessionState(sid, e.sec)
            out += ((sid, e.sec))
          }
          state.update(st)
          out.groupBy(_._1).map { case (sid, evs) =>
            SessionRow(userId, sid, evs.size.toLong, evs.map(_._2).min, evs.map(_._2).max)
          }.iterator
        })
  }

  /** Cumulative per-user totals carried by [[UserTotalsProcessor]].
    * The value sum is an exact BigDecimal of each event's value rounded
    * to scale 6 (the same rounding as Spark's double→DECIMAL(24,6)
    * cast), so accumulation order across batches cannot drift it.
    */
  case class UserTotals(user_id: Long, n_events: Long, sum_value: BigDecimal,
      first_sec: Long, last_sec: Long)

  /** Per-user running totals on the transformWithState v2 arbitrary-
    * state API (Spark 4.x): typed [[ValueState]] via the
    * StatefulProcessorHandle instead of the single GroupState blob of
    * flatMapGroupsWithState (q46's API). Each micro-batch folds its
    * rows for the key into the state and emits the UPDATED cumulative
    * row, so the final emission per user equals the batch aggregate —
    * StreamStateV2Spec pins that across real micro-batch boundaries.
    * Requires the RocksDB state-store provider (the v2 API's backing
    * store; [[stateV2Session]] pins it session-locally).
    */
  class UserTotalsProcessor extends StatefulProcessor[Long, Event, UserTotals] {
    @transient private var totals: ValueState[UserTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals]("totals",
        Encoders.product[UserTotals], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserTotals] = {
      var cur =
        if (totals.exists()) totals.get()
        else UserTotals(key, 0L, BigDecimal(0).setScale(6),
          Long.MaxValue, Long.MinValue)
      rows.foreach { e =>
        cur = UserTotals(key, cur.n_events + 1L,
          cur.sum_value + BigDecimal(java.math.BigDecimal.valueOf(e.value)
            .setScale(6, java.math.RoundingMode.HALF_UP)),
          math.min(cur.first_sec, e.sec), math.max(cur.last_sec, e.sec))
      }
      totals.update(cur)
      Iterator.single(cur)
    }
  }

  /** Running per-user totals via transformWithState (see
    * [[UserTotalsProcessor]]). Emits the cumulative row per user per
    * micro-batch that saw the user.
    */
  def userTotals(spark: SparkSession, events: DataFrame): Dataset[UserTotals] = {
    import spark.implicits._
    events.select(col("event_id"), col("ts").cast("long").as("sec"),
        col("user_id"), col("value")).as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** [[streamSession]] plus the RocksDB state-store provider the
    * transformWithState v2 API requires — pinned on the isolated
    * session so batch queries and the HDFS-backed v1 streams keep the
    * default provider.
    */
  def stateV2Session(spark: SparkSession): SparkSession = {
    val s = streamSession(spark)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  /** A timed row for the timer processor: `ts` is the watermark column
    * (event time), `sec` its integer second for exact arithmetic. */
  case class TimedRow(k: Long, sec: Long, ts: java.sql.Timestamp)
  case class SessionClose(k: Long, n_events: Long, last_sec: Long)

  /** EVENT-TIME TIMERS on the transformWithState API: the processor
    * never emits from [[handleInputRows]] — it folds rows into state
    * and (re)arms ONE timer at `last event time + gap`; only when the
    * WATERMARK passes that horizon does the engine invoke
    * [[handleExpiredTimer]], which emits the closed session and clears
    * state. This is the push-based half of arbitrary state the
    * ValueState processors (q122) never exercise: the ENGINE calls
    * back on time progress, not on data arrival — inactivity
    * timeouts, SLA alarms, and session closes are all this shape.
    * Re-arming deletes the previous timer first (listTimers +
    * deleteTimer): a key must hold exactly one live horizon or stale
    * timers fire early.
    */
  class InactivityCloseProcessor(gapMs: Long)
      extends StatefulProcessor[Long, TimedRow, SessionClose] {
    @transient private var count: ValueState[Long] = _
    @transient private var lastSec: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      count = getHandle.getValueState[Long]("count",
        Encoders.scalaLong, TTLConfig.NONE)
      lastSec = getHandle.getValueState[Long]("lastSec",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TimedRow],
        timerValues: TimerValues): Iterator[SessionClose] = {
      var n = if (count.exists()) count.get() else 0L
      var last = if (lastSec.exists()) lastSec.get() else Long.MinValue
      rows.foreach { r => n += 1; if (r.sec > last) last = r.sec }
      count.update(n)
      lastSec.update(last)
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(last * 1000L + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionClose] = {
      val out = SessionClose(key, count.get(), lastSec.get())
      count.clear()
      lastSec.clear()
      Iterator.single(out)
    }
  }

  /** Inactivity-timeout session closes via event-time timers (see
    * [[InactivityCloseProcessor]]). The input must carry a
    * watermarked `ts` column — TimeMode.EventTime drives the timers
    * from that watermark. */
  def inactivityCloses(spark: SparkSession, timed: DataFrame,
      gapMs: Long): Dataset[SessionClose] = {
    import spark.implicits._
    timed.as[TimedRow]
      .groupByKey(_.k)
      .transformWithState(new InactivityCloseProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stateful streaming partitioning follows shuffle partitions AT
    * QUERY START and every partition owns state-store instances (a
    * stream-stream join keeps four per partition per side), so the
    * right number tracks STATE VOLUME, not driver cores — 32-way state
    * over a fixture-sized stream spends more time opening/checkpointing
    * stores than joining (measured 2x on q72/q73). Production jobs size
    * this per-stream the same way.
    */
  val StatePartitions = 8

  /** An ISOLATED session for one stream: shares the SparkContext (and
    * so executors/caches) with `spark` but owns its own SQLConf, so
    * pinning shuffle partitions to [[StatePartitions]] here cannot leak
    * into concurrently planned batch queries — a stream pins its state
    * partitioning at query start and keeps it for the checkpoint's
    * lifetime, so the pin must outlive any try/finally restore on a
    * shared session anyway. Parent runtime confs are replicated first
    * (e.g. the nanosecond-timestamp legacy flag the events scan needs);
    * non-settable/static keys are skipped.
    */
  def streamSession(spark: SparkSession): SparkSession = {
    val s = graft.sources.Tables.isolated(spark)
    s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    s
  }

  /** Run a streaming query to completion against the (finite) parquet
    * source through a memory sink; returns the collected result. Used
    * by tests and demos — a production run would use a real sink with
    * checkpointing and keep the query running. The stream executes in
    * whatever session `df` was BUILT against — callers construct their
    * source via [[streamSession]] so the [[StatePartitions]] pin stays
    * session-local; this method mutates no global state.
    */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    dumpProgress(q)
    q.stop()
    df.sparkSession.table(name)
  }

  /** Dev-only micro-batch timeline dump (stderr, env-gated): the
    * per-batch durationMs breakdown (triggerExecution, addBatch,
    * walCommit, stateStore commit times...) that separates engine
    * fixed cost from task work when optimizing the streaming tier.
    * Inert unless SPARK_GRAFT_STREAM_PROF is set.
    */
  private[graft] def dumpProgress(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    if (sys.env.contains("SPARK_GRAFT_STREAM_PROF"))
      q.recentProgress.foreach(p =>
        System.err.println(s"[streamprof] ${q.name} ${p.json}"))
}
