// Lives under org.apache.spark.sql so it can read the package-private
// handles a metrics harness needs: the listener bus (to drain it before a
// snapshot) and the QueryExecution carried by SQL execution-end events.
package org.apache.spark.sql.perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark run in one JVM: set up a workload, warm it, drive it in
  * a closed loop (one client) for `--seconds`, then dump what the
  * orchestrator (`perfbench/run.py`) needs to check outputs and compute
  * metrics into `<work>/result.json`.
  *
  * Every timed operation is a call into the engine's public surface;
  * nothing here changes engine code or configuration beyond what the
  * engine's own `graft.Bench` sets on its session.
  *
  * Tracing (`--trace 1`) alternates traced and untraced units so the
  * run measures its own overhead. Traced units record spans around
  * every engine call plus child spans for Spark jobs, Catalyst phases
  * and stream-trigger phases; the spans stay in memory and are written
  * once, at the end, to `<work>/trace.json`.
  */
object Driver {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, fixtures: String, work: String,
                        cpus: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("fixtures"), m("work"), m("cpus").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(args)
    val ctx = new Ctx(spark, args)
    ctx.sessionS = (System.nanoTime() - t0) / 1e9
    val ok = try {
      args.workload match {
        case "daily_etl_bi" => Workloads.dailyEtlBi(ctx)
        case "llm_ops" => Workloads.llmOps(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      true
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.check("run", ok = false, e.toString)
        false
    }
    ctx.rssPeakMb = rssPeakMb()
    ctx.writeResult()
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** The session `graft.Bench` builds, on `--cpus` local cores. */
  private def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Log hygiene only: the single-partition WindowExec warning fires on
    // every size-proven global window and would bury the run's stderr.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** A named interval in epoch milliseconds within traced unit `unit`; the
  * trace report derives each span's parent from time containment.
  */
final case class Span(name: String, layer: String, start: Double, end: Double,
                      unit: Int) {
  def ms: Double = end - start
}

/** Run state shared by the workloads: timing, tracing, checks, output. */
final class Ctx(val spark: SparkSession, val args: Driver.Args) {
  var sessionS = 0.0
  var rssPeakMb = 0.0
  val setupS = ArrayBuffer.empty[Double]
  var warmupS = 0.0
  /** (name, ms) per timed engine call. */
  val ops = ArrayBuffer.empty[(String, Double)]
  /** (ms, traced) per unit of work: a day of loads and refreshes, or an
    * operator pass. */
  val units = ArrayBuffer.empty[(Double, Boolean)]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  /** (name, oracle SQL over the fixture tables, engine output parquet). */
  val oracle = ArrayBuffer.empty[(String, String, String)]
  val extra = mutable.LinkedHashMap.empty[String, Double]

  val work: String = args.work
  def dir(name: String): String = {
    val d = s"$work/$name"; new File(d).mkdirs(); d
  }

  // ---- tracing ------------------------------------------------------------
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  @volatile var tracing = false
  @volatile var unitId = -1
  private var nextUnit = 0
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  def add(k: String, v: Double): Unit = counters.merge(k, v, (a, b) => a + b)

  private val listener = new TraceListener(this)
  private val streamListener = new StreamTraceListener(this)
  if (args.trace) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Let every event already posted reach the listeners. */
  def drain(): Unit =
    if (args.trace) spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  private var codegen0 = (0L, 0L)
  private def codegenNow = (Ctx.compiles, CodeGenerator.compileTime)

  /** Time one engine call; inside a traced unit it also becomes a span. */
  def span[A](name: String, layer: String)(body: => A): A = {
    val s = nowMs
    try body finally {
      if (tracing) spans.add(Span(name, layer, s, nowMs, unitId))
    }
  }

  /** One unit of work in the timed loop; under `--trace 1` every second
    * unit is traced, so traced and untraced walls come from one run.
    */
  def unit(body: => Unit): Unit = {
    val traced = args.trace && nextUnit % 2 == 1
    if (traced) {
      drain()
      unitId = nextUnit
      codegen0 = codegenNow
      tracing = true
    }
    nextUnit += 1
    val t0 = System.nanoTime()
    try span("unit", "unit")(body) finally {
      val ms = (System.nanoTime() - t0) / 1e6
      units += ((ms, traced))
      if (traced) {
        drain()
        tracing = false
        val (c1, t1) = codegenNow
        add("codegen.compiles", (c1 - codegen0._1).toDouble)
        add("codegen.compile_ms", (t1 - codegen0._2) / 1e6)
      }
    }
  }

  /** Name the Spark jobs and result bytes of a traced call get billed to. */
  @volatile var callTag: String = null

  /** A timed engine operation inside a unit. With `perCall`, a traced
    * call also counts its own Spark jobs and result bytes
    * (`<name>.jobs`, `<name>.result_bytes`).
    */
  def op[A](name: String, kind: String, perCall: Boolean = false)(body: => A): A = {
    val tag = perCall && tracing
    if (tag) { drain(); callTag = name }
    val t0 = System.nanoTime()
    val r = try span(name, kind)(body) finally if (tag) { drain(); callTag = null }
    ops += ((name, (System.nanoTime() - t0) / 1e6))
    r
  }

  def setupRep(body: => Unit): Unit = {
    val t0 = System.nanoTime(); body
    setupS += (System.nanoTime() - t0) / 1e9
  }

  def warmup(body: => Unit): Unit = {
    val t0 = System.nanoTime(); body
    warmupS += (System.nanoTime() - t0) / 1e9
  }

  /** Closed loop: run units until `--seconds` have passed (whole units
    * only); a traced run needs at least one untraced and one traced unit.
    */
  def loop(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (units.isEmpty || elapsed < args.seconds ||
           (args.trace && units.size < 2)) unit(body)
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }

  /** Queue a DuckDB-oracle comparison of `sparkOut` with `sql`. */
  def oracleCheck(name: String, sql: String, sparkOut: String): Unit =
    oracle += ((name, sql, sparkOut))

  /** Write a collected result as parquet for the oracle comparison. */
  def dumpRows(rows: Array[Row], schema: org.apache.spark.sql.types.StructType,
               path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  // ---- result -------------------------------------------------------------
  def writeResult(): Unit = {
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed,
      "session_s" -> sessionS, "setup_s" -> setupS, "warmup_s" -> warmupS,
      "rss_peak_mb" -> rssPeakMb,
      "units" -> units.map { case (ms, tr) => Map("ms" -> ms, "traced" -> tr) },
      "ops" -> ops.map { case (n, ms) => Map("name" -> n, "ms" -> ms) },
      "checks" -> checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "oracle" -> oracle.map { case (n, sql, out) =>
        Map("name" -> n, "sql" -> sql, "spark" -> out) },
      "extra" -> extra)
    if (args.trace) {
      val t = new TraceReport(this)
      result("layers") = mutable.LinkedHashMap(t.layers: _*)
      result("self_ms") = mutable.LinkedHashMap(t.selfMs: _*)
      Ctx.json.writeValue(new File(s"$work/trace.json"), t.spanRecords)
    }
    Ctx.json.writeValue(new File(s"$work/result.json"), result)
  }
}

object Ctx {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Whole-stage and expression classes compiled so far in this JVM. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Spark-side events of traced units: job spans, task totals, Catalyst
  * phase spans. Disabled (`ctx.tracing == false`) it only returns.
  */
final class TraceListener(ctx: Ctx) extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (ctx.tracing) {
      jobStart.put(e.jobId, e.time)
      ctx.add("spark.jobs", 1)
      val tag = ctx.callTag
      if (tag != null) ctx.add(s"$tag.jobs", 1)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (ctx.tracing && s != 0L)
      ctx.spans.add(Span("spark.job", "spark.job", s.toDouble, e.time.toDouble,
        ctx.unitId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (ctx.tracing) ctx.add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (ctx.tracing) {
    ctx.add("spark.tasks", 1)
    if (e.reason != org.apache.spark.Success) ctx.add("spark.task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      ctx.add("spark.exec_cpu_s", (m.executorCpuTime + m.executorDeserializeCpuTime) / 1e9)
      ctx.add("spark.exec_run_s", m.executorRunTime / 1e3)
      val info = e.taskInfo
      val delay = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      ctx.add("spark.sched_delay_s", delay / 1e3)
      ctx.add("spark.shuffle_bytes", (m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten).toDouble)
      ctx.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      ctx.add("spark.result_bytes", m.resultSize.toDouble)
      val tag = ctx.callTag
      if (tag != null) ctx.add(s"$tag.result_bytes", m.resultSize.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if ctx.tracing && end.qe != null =>
      ctx.add("catalyst.queries", 1)
      end.qe.tracker.phases.foreach { case (phase, p) =>
        val name = phase match {
          case QueryPlanningTracker.ANALYSIS => "catalyst.analysis"
          case QueryPlanningTracker.OPTIMIZATION => "catalyst.optimization"
          case QueryPlanningTracker.PLANNING => "catalyst.planning"
          case other => s"catalyst.$other"
        }
        ctx.add(s"${name}_ms", (p.endTimeMs - p.startTimeMs).toDouble)
        ctx.spans.add(Span(name, "catalyst", p.startTimeMs.toDouble,
          p.endTimeMs.toDouble, ctx.unitId))
      }
    case _ =>
  }
}

/** Stream-trigger progress of traced units: phase durations become
  * consecutive child spans of one trigger span starting at the trigger's
  * timestamp (progress events carry durations, not phase start times).
  */
final class StreamTraceListener(ctx: Ctx) extends StreamingQueryListener {
  import StreamingQueryListener._
  private val phases = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = if (ctx.tracing) {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val total = d.getOrElse("triggerExecution", 0L).toDouble
    ctx.spans.add(Span("stream.trigger", "stream.trigger", start, start + total,
      ctx.unitId))
    var t = start
    phases.foreach { ph =>
      d.get(ph).foreach { ms =>
        ctx.spans.add(Span(s"stream.$ph", "stream.trigger", t, t + ms, ctx.unitId))
        ctx.add(s"stream.${snake(ph)}_ms", ms.toDouble)
        t += ms
      }
    }
    if (p.numInputRows > 0) {
      ctx.add("stream.batches", 1)
      ctx.add("stream.batch_ms", total)
      ctx.add("stream.trigger_floor_ms", total - d.getOrElse("addBatch", 0L))
    } else ctx.add("stream.empty_batches", 1)
  }

  private def snake(s: String): String =
    s.flatMap(c => if (c.isUpper) "_" + c.toLower else c.toString)
}
