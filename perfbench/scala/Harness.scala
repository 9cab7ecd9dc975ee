package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.etl.{Sinks, SyntheticSources, Warehouse}

/** The benchmark's JVM side. It runs one workload in one JVM and one
  * driver thread, times its own calls into the program's public entry
  * points, and writes every raw measurement to a JSON file. Metrics,
  * output checks and the printed report are computed from that file by
  * `perfbench/run.py`.
  *
  * A run is the set-up (a SparkSession, one check pass whose outputs
  * are written as parquet for the correctness check, and one untimed
  * warm pass), then a fixed number of timed passes: `seconds`
  * divided by the workload's nominal pass length, so that the count never
  * depends on how fast the host or the program happens to be. The seed
  * orders the operations of every pass; it never changes the data.
  *
  * Usage: perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE [--inject-failure 0|1]
  */
object Harness {

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds at nanosecond resolution, on the
    * same axis as the timestamps Spark's listeners report. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(argv: Array[String]): Unit =
    run(argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap)

  def run(args: Map[String, String]): Unit = {
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing $k"))
    val workload = arg("--workload")
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val trace = arg("--trace") == "1"
    val work = new File(arg("--work")).getAbsolutePath
    new File(work).mkdirs()
    val inject = args.get("--inject-failure").contains("1")

    val w = Workloads(workload, new File(arg("--data")).getAbsolutePath, work, inject)
    val tracer = new Tracer
    val out = new Json
    out.obj("workload" -> Json.str(workload),
      "ops" -> Json.arr(w.ops.map(op => Json.obj(
        "name" -> Json.str(op), "layer" -> Json.str(w.layer(op)),
        "oracle" -> w.oracle.get(op).map(Json.str).getOrElse("null")))))

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val shardRoot = s"$work/shards"
    val spark = Session.build(shardRoot, s"$work/spark-local", trace)
    if (trace) tracer.install(spark)
    val sessionEnd = now()
    val check = runPass(spark, w, w.order(new Random(seed * 1000003L)), Some(s"$work/check"),
      tracer, -1)
    // One untimed warm pass: the check pass runs with a cold JIT, and the
    // passes after it keep speeding up for a while.
    val warm = runPass(spark, w, w.order(new Random(seed * 31L + 1)), None, tracer, -1)
    out.field("setup", Json.obj("start" -> Json.num(jvmStart),
      "session_end" -> Json.num(sessionEnd), "check_end" -> Json.num(check.end),
      "end" -> Json.num(warm.end),
      "ops" -> Json.arr(check.ops.map(_.json))))

    tracer.collecting = trace
    val passes = ArrayBuffer.empty[String]
    val timedPasses = math.max(1, math.round(seconds / w.nominalPassS).toInt)
    for (p <- 0 until timedPasses) {
      val order = w.order(new Random(seed * 7919L + p))
      val pass = runPass(spark, w, order, None, tracer, p)
      passes += Json.obj("start" -> Json.num(pass.start), "end" -> Json.num(pass.end),
        "generate" -> pass.generate.map { case (a, b) => Json.arr(Seq(Json.num(a), Json.num(b))) }
          .getOrElse("null"),
        "shard_files" -> (if (trace) Json.num(countFiles(new File(shardRoot))) else "null"),
        "ops" -> Json.arr(pass.ops.map(_.json)))
    }
    if (trace) ListenerBusDrain(spark.sparkContext)
    tracer.collecting = false
    out.field("passes", Json.arr(passes.toSeq))
    out.field("output_roots", Json.arr((Seq(shardRoot, sys.props("java.io.tmpdir")) ++
      w.outputRoots).map(Json.str)))
    if (trace) out.field("trace", tracer.json)
    out.field("peak_rss_kb", Json.num(peakRssKb()))
    spark.stop()
    val f = new java.io.PrintWriter(arg("--out"), "UTF-8")
    try f.write(out.close()) finally f.close()
  }

  final case class OpRec(name: String, start: Double, buildEnd: Double, end: Double,
      error: Option[String], compiles: Long, compileNs: Long) {
    def json: String = Json.obj("name" -> Json.str(name), "start" -> Json.num(start),
      "build_end" -> Json.num(buildEnd), "end" -> Json.num(end),
      "ok" -> (if (error.isEmpty) "true" else "false"),
      "error" -> error.map(Json.str).getOrElse("null"),
      "compiles" -> Json.num(compiles), "compile_ns" -> Json.num(compileNs))
  }
  final case class PassRec(start: Double, end: Double, generate: Option[(Double, Double)],
      ops: Seq[OpRec])

  /** One pass over `order`. `checkDir` set: outputs are written there as
    * parquet for the correctness check; unset: the timed sink. A failing
    * operation is recorded with its error and the pass goes on. */
  def runPass(spark: SparkSession, w: Workload, order: Seq[String],
      checkDir: Option[String], tracer: Tracer, passIdx: Int): PassRec = {
    val start = now()
    tracer.pass = passIdx
    if (!w.clearPerOp) spark.catalog.clearCache()
    val generate = w.beginPass(spark)
    val ops = order.zipWithIndex.map { case (op, i) =>
      tracer.op = i
      if (w.clearPerOp) spark.catalog.clearCache()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val n0 = CodeGenerator.compileTime
      val t0 = now()
      var tb = t0
      val err = try {
        val df = w.build(spark, op)
        tb = now()
        w.sink(df, op, checkDir)
        None
      } catch {
        case e: Throwable =>
          if (tb == t0) tb = now()
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val t1 = now()
      val rec = OpRec(op, t0, tb, t1, err,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, CodeGenerator.compileTime - n0)
      if (tracer.collecting) ListenerBusDrain(spark.sparkContext)
      rec
    }
    PassRec(start, now(), generate, ops)
  }

  def countFiles(dir: File): Long = {
    val kids = Option(dir.listFiles()).getOrElse(Array.empty[File])
    kids.map(f => if (f.isDirectory) countFiles(f) else 1L).sum
  }

  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }
}

/** The one way the benchmark builds a session: `local[<cores>]`, the
  * configuration the repository's own mains use, and every output root
  * inside the benchmark's work directory. */
object Session {
  def build(shardsDir: String, localDir: String, trace: Boolean): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val listeners =
      if (trace) Seq("spark.sql.queryExecutionListeners" -> classOf[PhaseListener].getName,
        "spark.sql.streaming.streamingQueryListeners" -> classOf[ProgressListener].getName)
      else Nil
    val spark = SparkSession.builder()
      .config(listeners.toMap)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.hadoop.fs.file.impl", "graft.sources.QuietLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.sources.QuietLocalAbstractFs")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$shardsDir/../warehouse")
      .config("graft.shards.dir", shardsDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** A workload: a fixed set of named operations, each a build call into
  * the program (returning a DataFrame) and a sink call that consumes it. */
trait Workload {
  def ops: Seq[String]
  def layer(op: String): String
  def oracle: Map[String, String] = Map.empty
  /** Clear Spark's cache before every operation (true) or once per pass. */
  def clearPerOp: Boolean = true
  /** Per-pass preparation, timed as its own span when it does work. */
  def beginPass(spark: SparkSession): Option[(Double, Double)] = None
  def build(spark: SparkSession, op: String): DataFrame
  def sink(df: DataFrame, op: String, checkDir: Option[String]): Unit
  def outputRoots: Seq[String] = Nil
  /** Typical length of a timed pass on 4 cores, in seconds; it sets how
    * many timed passes `--seconds` asks for. */
  def nominalPassS: Double
  /** The operations of one pass in the order `rng` gives them. */
  def order(rng: Random): Seq[String] = rng.shuffle(ops)
}

/** Queries from the registry, read-only over the generated tables; the
  * timed sink is Spark's noop writer, which materializes every row. */
final class QueryWorkload(data: String, names: Seq[String], inject: Boolean) extends Workload {
  private val fns = graft.SparkEntry.queries
  override val oracle: Map[String, String] = graft.SparkEntry.oracleSql

  val ops: Seq[String] = names ++ (if (inject) Seq(Workloads.Injected) else Nil)
  def nominalPassS: Double = 4.0
  names.foreach(n => require(fns.contains(n), s"unknown query $n"))
  /** The package the query's registry object lives in (`graft.<layer>.…`),
    * read from the registered function's class. */
  def layer(op: String): String =
    fns.get(op).map(_.getClass.getName.split('.')(1)).getOrElse("queries")
  def build(spark: SparkSession, op: String): DataFrame =
    if (op == Workloads.Injected) throw new IllegalStateException("injected failure")
    else fns(op)(spark, data)
  def sink(df: DataFrame, op: String, checkDir: Option[String]): Unit = checkDir match {
    case Some(d) => df.write.mode("overwrite").parquet(s"$d/$op")
    case None => df.write.format("noop").mode("overwrite").save()
  }
}

/** The paper's pipeline: synthetic sources, eleven dimensions and four
  * facts, each table written as parquet. One operation is one table
  * write; dimensions are cached per pass, as `Warehouse` intends. */
final class WarehouseWorkload(factor: Double, outDir: String, inject: Boolean) extends Workload {
  val dims: Seq[String] = Seq("dim_fecha", "dim_hora", "dim_usuario", "dim_medico",
    "dim_medicamento", "dim_centro_medico", "dim_region", "dim_enfermedad",
    "dim_empresa", "dim_demografica", "dim_cotizante")
  val facts: Seq[String] = Seq("fact_medical_formula", "fact_facturacion",
    "fact_retiro", "fact_servicio")
  val ops: Seq[String] = dims ++ facts ++ (if (inject) Seq(Workloads.Injected) else Nil)
  def layer(op: String): String = "etl"
  def nominalPassS: Double = 10.0
  override def clearPerOp: Boolean = false
  override def outputRoots: Seq[String] = Seq(outDir)
  /** Dimensions before facts, as `Warehouse.writeAll` writes them; the
    * seed orders the tables within each group. */
  override def order(rng: Random): Seq[String] = {
    val (d, f) = rng.shuffle(ops).partition(_.startsWith("dim_"))
    d ++ f
  }

  private var tables: () => Map[String, DataFrame] = () => Map.empty
  override def beginPass(spark: SparkSession): Option[(Double, Double)] = {
    val t0 = Harness.now()
    val sources = SyntheticSources.generate(spark, SyntheticSources.Sizes().scaled(factor))
    val t1 = Harness.now()
    val wh = new Warehouse(spark, sources)
    lazy val all = wh.allDims ++ wh.allFacts
    tables = () => all
    Some((t0, t1))
  }
  def build(spark: SparkSession, op: String): DataFrame =
    if (op == Workloads.Injected) throw new IllegalStateException("injected failure")
    else Sinks.stringifyDateColumns(tables()(op))
  def sink(df: DataFrame, op: String, checkDir: Option[String]): Unit =
    Sinks.parquet(df, s"${checkDir.getOrElse(outDir)}/$op")
}

object Workloads {
  val Injected = "injected_failure"
  val names: Seq[String] =
    Seq("warehouse_build", "query_board")

  def apply(name: String, data: String, work: String, inject: Boolean): Workload = name match {
    case "warehouse_build" => new WarehouseWorkload(WarehouseFactor, s"$work/warehouse", inject)
    case "query_board" => new QueryWorkload(data, QueryBoard, inject)
    case other => sys.error(s"unknown workload $other")
  }

  /** Scale of the synthetic sources (1.0 is about 2,000 prescriptions). */
  val WarehouseFactor = 1.0

  /** The query registry, one layer at a time: relational and star-schema
    * queries (`queries`), two StageBoundary owners (`operators`),
    * table-format commits beside reads (`sources`: CAS commit,
    * merge-on-read) and streaming micro-batches (`streaming`: windowed
    * state, transactional sink). */
  val QueryBoard: Seq[String] = Seq(
    "q12_case_when", "q16_date_dim", "q21_rollup",
    "q32_minhash_neardup", "q76_dedup_clusters",
    "q260_v2_commit_write", "q284_mor_lineage",
    "q45_stream_hourly", "q264_stream_v2_sink")
}

/** Spark's own listener channels, installed from the benchmark. Every
  * event is tagged with the pass and operation running when it arrives;
  * `ListenerBusDrain` after each operation keeps that tag exact. */
object Tracer {
  /** The tracer of the running traced session; the per-session listeners
    * below forward to it. */
  @volatile var current: Tracer = null
}

/** Registered through `spark.sql.queryExecutionListeners`, so it also
  * sees the sessions the program makes with `newSession()`. */
final class PhaseListener extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    Option(Tracer.current).foreach(_.recordPhases(qe))
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    Option(Tracer.current).foreach(_.recordPhases(qe))
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`, so it
  * also sees streams started from the program's `newSession()` sessions. */
final class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(Tracer.current).foreach(_.recordProgress(e.progress))
}

final class Tracer {
  @volatile var collecting = false
  @volatile var pass = -1
  @volatile var op = -1

  private final class StageAgg(val id: Int, val attempt: Int, val pass: Int, val op: Int) {
    var submit = 0.0; var complete = 0.0; var tasks = 0; var failed = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var shRead = 0L; var shWrite = 0L
    var spill = 0L; var input = 0L; var output = 0L; var recordsOut = 0L
    val intervals = ArrayBuffer.empty[(Long, Long)]
  }
  private val jobs = ArrayBuffer.empty[String]
  private val jobOpen = scala.collection.mutable.Map.empty[Int, (Double, Int, Int, Seq[Int])]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  private val phases = ArrayBuffer.empty[String]
  private val progress = ArrayBuffer.empty[String]

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (collecting) synchronized {
        jobOpen(e.jobId) = (e.time.toDouble, pass, op, e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobOpen.remove(e.jobId).foreach { case (t, p, o, ids) =>
          jobs += Json.obj("id" -> Json.num(e.jobId), "pass" -> Json.num(p), "op" -> Json.num(o),
            "start" -> Json.num(t), "end" -> Json.num(e.time.toDouble),
            "stages" -> Json.arr(ids.map(i => Json.num(i))))
        }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (collecting) synchronized {
          val s = new StageAgg(e.stageInfo.stageId, e.stageInfo.attemptNumber(), pass, op)
          s.submit = e.stageInfo.submissionTime.getOrElse(0L).toDouble
          stages((s.id, s.attempt)) = s
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        stages.get((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { s =>
          s.complete = e.stageInfo.completionTime.getOrElse(0L).toDouble
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
          s.tasks += 1
          if (!e.taskInfo.successful) s.failed += 1
          s.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          val m = e.taskMetrics
          if (m != null) {
            s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
            s.shRead += m.shuffleReadMetrics.totalBytesRead
            s.shWrite += m.shuffleWriteMetrics.bytesWritten
            s.spill += m.diskBytesSpilled; s.input += m.inputMetrics.bytesRead
            s.output += m.outputMetrics.bytesWritten
            s.recordsOut += m.outputMetrics.recordsWritten
          }
        }
      }
    })
    Tracer.current = this
  }

  def recordPhases(qe: QueryExecution): Unit = if (collecting) synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = Json.num(ph.get(k).map(_.durationMs).getOrElse(0L))
    phases += Json.obj("pass" -> Json.num(pass), "op" -> Json.num(op),
      "analysis" -> ms("analysis"), "optimization" -> ms("optimization"),
      "planning" -> ms("planning"))
  }

  def recordProgress(p: StreamingQueryProgress): Unit = if (collecting) synchronized {
    def ms(k: String) = Json.num(Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L))
    progress += Json.obj("pass" -> Json.num(pass), "op" -> Json.num(op),
      "add_batch" -> ms("addBatch"), "wal_commit" -> ms("walCommit"),
      "commit_offsets" -> ms("commitOffsets"),
      "state_commit" -> Json.num(p.stateOperators.map(_.commitTimeMs).sum),
      "state_rows" -> Json.num(p.stateOperators.map(_.numRowsTotal).sum))
  }

  def json: String = synchronized {
    Json.obj("jobs" -> Json.arr(jobs.toSeq),
      "stages" -> Json.arr(stages.values.toSeq.map { s =>
        val iv = s.intervals.toSeq.sorted
        Json.obj("id" -> Json.num(s.id), "attempt" -> Json.num(s.attempt),
          "pass" -> Json.num(s.pass), "op" -> Json.num(s.op),
          "submit" -> Json.num(s.submit), "complete" -> Json.num(s.complete),
          "first_launch" -> Json.num(iv.headOption.map(_._1).getOrElse(s.submit.toLong)),
          "tasks" -> Json.num(s.tasks), "failed_tasks" -> Json.num(s.failed),
          "run_ms" -> Json.num(s.runMs), "cpu_ns" -> Json.num(s.cpuNs), "gc_ms" -> Json.num(s.gcMs),
          "shuffle_read" -> Json.num(s.shRead), "shuffle_write" -> Json.num(s.shWrite),
          "spill" -> Json.num(s.spill), "input" -> Json.num(s.input),
          "output" -> Json.num(s.output), "records_out" -> Json.num(s.recordsOut),
          "task_intervals" -> Json.arr(iv.map { case (a, b) =>
            Json.arr(Seq(Json.num(a), Json.num(b))) }))
      }),
      "phases" -> Json.arr(phases.toSeq), "progress" -> Json.arr(progress.toSeq))
  }
}

/** Minimal JSON text builder: values are pre-rendered strings. */
final class Json {
  private val fields = ArrayBuffer.empty[(String, String)]
  def obj(kv: (String, String)*): Unit = fields ++= kv
  def field(k: String, v: String): Unit = fields += (k -> v)
  def close(): String = Json.obj(fields.toSeq: _*)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(v: Long): String = v.toString
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
