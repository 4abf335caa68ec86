package perfbench

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.Executors
import java.util.concurrent.atomic.{AtomicInteger, DoubleAdder, LongAdder}

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.kms.TestKmsServer
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one operation share `op`; `parent` is the
  * id of the enclosing span (0 for an operation's root span).
  */
final case class Span(id: Int, op: Int, parent: Int, name: String,
    startNs: Long, endNs: Long)

/** Per-operation counters filled by the listeners. */
final class OpCounters {
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = synchronized { c(k) += v }
}

/** Benchmark-owned instrumentation around the engine's public calls.
  *
  * Disabled (the default), every method is a plain pass-through: the
  * untraced run measures the end-to-end metrics without listeners, job
  * groups or bus draining. Enabled, it records spans in memory, ties
  * Spark jobs to operations through a job group named after the
  * operation id, and collects per-operation scheduler, task, shuffle,
  * scan, planning, codegen and KMS counters. KMS requests are counted
  * by a [[KmsRelay]] the engine's KMS client talks to in the traced run.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextSpan = new AtomicInteger(1)
  private var stack: List[Int] = Nil
  @volatile private var currentOp: Int = -1
  private val counters = mutable.Map.empty[Int, OpCounters]
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
  private val runningTasks = new AtomicInteger(0)
  private val log = new CodegenLogCounter
  private var spark: SparkSession = _
  private var kms: TestKmsServer = _
  private var relay: KmsRelay = _

  private def countersOf(op: Int): OpCounters =
    synchronized(counters.getOrElseUpdate(op, new OpCounters))

  /** Attach listeners to a freshly built session and KMS (and the relay
    * in front of it) once, for the timed region.
    */
  def attach(s: SparkSession, k: TestKmsServer, r: KmsRelay): Unit = {
    spark = s; kms = k; relay = r
    if (!enabled) return
    s.sparkContext.addSparkListener(jobListener)
    s.listenerManager.register(planListener)
    log.install()
  }

  /** Root span of an operation: `body` runs inside it with the job group
    * set to the operation id. Returns the span's duration in seconds and
    * the body's value.
    */
  def op[T](id: Int)(body: => T): (Double, T) = {
    val (k0, r0, c0, f0, ms0) =
      if (enabled) (kms.counts, relay.counts, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        log.failures.sum, log.compileMs.sum)
      else ((0, 0), (0L, 0L, 0L), 0L, 0L, 0.0)
    if (enabled) {
      currentOp = id
      spark.sparkContext.setJobGroup(id.toString, s"perfbench op $id")
    }
    val t0 = System.nanoTime()
    val out = try span("op", root = true)(body) finally {
      if (enabled) spark.sparkContext.clearJobGroup()
    }
    val t1 = System.nanoTime()
    if (enabled) {
      awaitIdle()
      val c = countersOf(id)
      val (k1, r1) = (kms.counts, relay.counts)
      c.add("kms_wrap", (r1._1 - r0._1).toDouble)
      c.add("kms_unwrap", (r1._2 - r0._2).toDouble)
      c.add("kms_unwrap_denied", (r1._3 - r0._3).toDouble)
      c.add("kms_unwrap_granted", (k1._2 - k0._2).toDouble)
      c.add("codegen_classes",
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0).toDouble)
      c.add("codegen_failures", (log.failures.sum - f0).toDouble)
      c.add("codegen_compile_s", (log.compileMs.sum - ms0) / 1000.0)
      currentOp = -1
    }
    ((t1 - t0) / 1e9, out)
  }

  /** Drains the listener bus until no task is running. When a job fails
    * (a denied read), its other tasks keep running after the failure has
    * reached the driver and the job has ended; waiting for them keeps
    * their KMS calls and task metrics with this operation rather than the
    * next one.
    */
  private def awaitIdle(): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    PerfbenchBus.drain(spark.sparkContext)
    while (runningTasks.get > 0 && System.nanoTime() < deadline) {
      Thread.sleep(2)
      PerfbenchBus.drain(spark.sparkContext)
    }
  }

  /** A child span of the innermost open span. */
  def span[T](name: String, root: Boolean = false)(body: => T): T = {
    if (!enabled) return body
    val id = nextSpan.getAndIncrement()
    val parent = if (root) 0 else stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      synchronized(spans += Span(id, currentOp, parent, name, t0, t1))
    }
  }

  /** Counters and span-derived layer times of one finished operation. */
  def layers(id: Int): Map[String, Double] = {
    if (!enabled) return Map.empty
    val mine = synchronized(spans.filter(_.op == id).toList)
    val kids = mine.groupBy(_.parent)
    val jobs = mine.filter(_.name == "job")
    def dur(s: Span) = (s.endNs - s.startNs) / 1e9
    def covered(s: Span, children: Seq[Span]): Double =
      union(children.map(c => (c.startNs max s.startNs, c.endNs min s.endNs))) / 1e9
    def selfTime(name: String): Double = mine.filter(_.name == name).map { s =>
      dur(s) - covered(s, kids.getOrElse(s.id, Nil) ++ jobs)
    }.sum
    def total(name: String): Double = mine.filter(_.name == name).map(dur).sum
    val jobCovered = mine.find(_.name == "op").map(r => covered(r, jobs)).getOrElse(0.0)
    val base = countersOf(id).c.toMap
    base ++ Map(
      "build_s" -> total("build"), "action_s" -> total("action"),
      "io_read_s" -> selfTime("io.read"), "io_write_s" -> selfTime("io.write"),
      "job_covered_s" -> jobCovered)
  }

  /** All spans, for writing out when the run ends. */
  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Run-level codegen facts (the reservoir max is not per-operation). */
  def runFacts: Map[String, Double] =
    if (!enabled) Map.empty
    else Map("codegen_max_method_bytes" ->
      CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax.toDouble)

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += (curE - curS) max 0L; curS = s; curE = e }
      else curE = curE max e
    }
    total + ((curE - curS) max 0L)
  }

  private object jobListener extends SparkListener {
    private def opOf(props: java.util.Properties): Int =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(_.toIntOption).getOrElse(-1)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      if (op < 0) return
      e.stageIds.foreach(stageOp.put(_, op))
      jobStart.put(e.jobId, (op, System.nanoTime()))
      countersOf(op).add("jobs", 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        // Start and end are taken on the listener thread, so a job span
        // lags the job by the bus delivery delay (microseconds when the
        // bus is idle, as it is between the benchmark's operations).
        synchronized(spans += Span(nextSpan.getAndIncrement(), op, 0, "job",
          t0, System.nanoTime()))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val op = stageOp.getOrDefault(e.stageInfo.stageId, -1)
      if (op >= 0) countersOf(op).add("stages", 1)
    }

    override def onTaskStart(e: SparkListenerTaskStart): Unit = runningTasks.incrementAndGet()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      runningTasks.decrementAndGet()
      val op = stageOp.getOrDefault(e.stageId, -1)
      val m = e.taskMetrics
      if (op < 0 || m == null) return
      val c = countersOf(op)
      val info = e.taskInfo
      val runMs = m.executorRunTime.toDouble
      val deserMs = m.executorDeserializeTime.toDouble
      val duration = (info.finishTime - info.launchTime).toDouble
      val delayMs = (duration - runMs - deserMs - m.resultSerializationTime -
        (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L)) max 0.0
      c.synchronized {
        val x = c.c
        x("tasks") += 1
        x("task_run_s") += runMs / 1e3
        x("task_cpu_s") += m.executorCpuTime / 1e9
        x("task_gc_s") += m.jvmGCTime / 1e3
        x("task_deser_s") += deserMs / 1e3
        x("sched_delay_s") += delayMs / 1e3
        x("scan_bytes") += m.inputMetrics.bytesRead.toDouble
        x("scan_rows") += m.inputMetrics.recordsRead.toDouble
        x("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
        x("shuffle_write_s") += m.shuffleWriteMetrics.writeTime / 1e9
        x("shuffle_fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
        x("shuffle_spill_bytes") += (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble
        x("output_bytes") += m.outputMetrics.bytesWritten.toDouble
      }
    }
  }

  private object planListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val op = currentOp
      if (op < 0) return
      val c = countersOf(op)
      c.add("plan_executions", 1)
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        c.add(s"plan_${p}_s", ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }
}

object Tracer {
  val off = new Tracer(false)
}

/** A counting relay in front of the KMS, for the traced run. The engine's
  * KMS client is given the relay's URL; the relay forwards every request
  * unchanged and counts it by operation and answer. TestKmsServer.counts
  * sees only granted calls, so a denied unwrap (HTTP 403) is counted here
  * and nowhere else.
  */
final class KmsRelay(target: String) {
  private val wraps = new LongAdder
  private val unwraps = new LongAdder
  private val denied = new LongAdder
  private val client = HttpClient.newHttpClient()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => forward(ex))
  server.setExecutor(Executors.newFixedThreadPool(4, r => {
    val t = new Thread(r, "perfbench-kms-relay")
    t.setDaemon(true)
    t
  }))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  /** (wrap requests, unwrap requests, unwraps answered 403). */
  def counts: (Long, Long, Long) = (wraps.sum, unwraps.sum, denied.sum)
  def stop(): Unit = server.stop(0)

  private def forward(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getRawPath
      val req = HttpRequest.newBuilder(URI.create(target + path))
        .method(ex.getRequestMethod,
          HttpRequest.BodyPublishers.ofByteArray(ex.getRequestBody.readAllBytes()))
      Seq("Content-Type", "x-api-key").foreach { h =>
        Option(ex.getRequestHeaders.getFirst(h)).foreach(req.header(h, _))
      }
      val resp = client.send(req.build(), HttpResponse.BodyHandlers.ofByteArray())
      // Paths are /api/v1/<wrap|unwrap>/<kek id>.
      path.split('/').reverse.drop(1).headOption match {
        case Some("wrap") => wraps.increment()
        case Some("unwrap") =>
          unwraps.increment()
          if (resp.statusCode == 403) denied.increment()
        case _ =>
      }
      val body = resp.body
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(resp.statusCode, if (body.isEmpty) -1L else body.length.toLong)
      if (body.nonEmpty) ex.getResponseBody.write(body)
    } finally ex.close()
}

/** Counts codegen compile time (from the generator's "Code generated in
  * N ms" INFO line) and codegen failures (Spark falls back to interpreted
  * execution after logging a WARN or ERROR, and nothing else records it).
  */
final class CodegenLogCounter extends AbstractAppender(
    "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  val compileMs = new DoubleAdder
  val failures = new LongAdder
  private val generated = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val failed =
    "(?i)(failed to compile|falling back to interpreter|codegen disabled)".r.unanchored

  override def append(e: LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage
    msg match {
      case generated(ms) => compileMs.add(ms.toDouble)
      case failed(_) if e.getLevel.isMoreSpecificThan(Level.WARN) => failures.increment()
      case _ =>
    }
  }

  def install(): Unit = synchronized {
    if (isStarted) return
    start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.addAppender(this)
    cfg.getRootLogger.addAppender(this, Level.WARN, null)
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(this, Level.INFO, null)
    cfg.getRootLogger.getAppenders.values.forEach { a =>
      if (a ne this) lc.addAppender(a, Level.WARN, null)
    }
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }
}
