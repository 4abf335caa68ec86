package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Graft
import graft.kms.TestKmsServer
import org.apache.parquet.crypto.keytools.KeyToolkit
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One generated operation. `spec` names its content: two operations with
  * the same spec must return the same result.
  */
final case class Op(id: Int, round: Int, spec: String, kind: String, p: JsonNode)

/** What a timed operation hands back: the result rows that reached the
  * driver (empty for writes) and, for writes, the output directory.
  */
final case class Result(schema: StructType, rows: Array[Row], outDir: String = "")

/** A workload: fixtures built in set-up, and the body of one operation. */
trait Workload {
  /** Build fixtures for one set-up repetition (session and KMS are fresh). */
  def setUp(ctx: Ctx): Unit
  /** The timed body of one operation; the result must be on the driver. */
  def run(ctx: Ctx, op: Op): Result
  /** Untimed work after the timed region (write verification, twins). */
  def finish(ctx: Ctx, done: Seq[Done]): Map[String, Any] = Map.empty
  /** Untimed per-operation work in the traced run (plaintext-twin timing). */
  def traced(ctx: Ctx, op: Op): Map[String, Double] = Map.empty
  /** Untimed hygiene between operations. */
  def betweenOps(ctx: Ctx): Unit = ()
}

/** `kmsUrl`: the KMS address the engine is given (the counting relay in
  * the traced run). `twins`: also build plaintext twins (the traced run's
  * crypto ratios).
  */
final case class Ctx(spark: SparkSession, kms: TestKmsServer, kmsUrl: String, tracer: Tracer,
    data: String, scratch: String, twins: Boolean)

final case class Done(op: Op, wallS: Double, status: String)

/** The benchmark's JVM. Builds the session and fixtures (set-up, repeated
  * `SetupReps` times, each in a fresh session), runs the generated
  * operations closed-loop with one client for `--seconds`, writes one JSON
  * line per operation (wall time, outcome, result or result fingerprint)
  * and one JSON document for the run, for the harness to check and
  * summarize.
  */
object Main {
  private val mainStartNs = System.nanoTime()
  /** Set-up repetitions; `setup_s` is their median. */
  private val SetupReps = 2

  /** Exits explicitly: Spark leaves non-daemon threads behind, and a
    * failure must end the JVM rather than leave it waiting.
    */
  def main(argv: Array[String]): Unit = {
    val code = try { run(argv); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    progress(s"main started, JVM up ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val scratch = args("scratch")
    val out = args("out")
    val mapper = new ObjectMapper()
    val opsDoc = mapper.readTree(new File(args("ops")))
    val ops = opsDoc.get("ops").elements().asScala.map { n =>
      Op(n.get("id").asInt, n.get("round").asInt, n.get("spec").asText,
        n.get("kind").asText, n)
    }.toVector
    val wl: Workload = workload match {
      case "pme_read"  => new PmeRead
      case "pme_write" => new PmeWrite
      case "registry"  => new RegistryRun
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer(trace)
    val cores = Runtime.getRuntime.availableProcessors()

    // Set-up, repeated: each repetition starts a fresh session and KMS,
    // empties the KEK caches, rebuilds the fixtures and runs one untimed
    // warm round of every operation kind. The first repetition is timed
    // from JVM main start, so it also carries JVM and class-loading cost.
    // The traced run puts the counting KMS relay in front of every
    // repetition's KMS, so the warm round fills the same KEK caches the
    // timed operations use.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    var relay: KmsRelay = null
    for (rep <- 1 to SetupReps) {
      val t0 = if (rep == 1) mainStartNs else System.nanoTime()
      if (ctx != null) { ctx.spark.stop(); ctx.kms.stop(); Option(relay).foreach(_.stop()) }
      KeyToolkit.removeCacheEntriesForAllTokens()
      val spark = session(cores, s"$scratch/local")
      val kms = new TestKmsServer().start()
      relay = if (trace) new KmsRelay(kms.url) else null
      if (rep == SetupReps) tracer.attach(spark, kms, relay)
      ctx = Ctx(spark, kms, Option(relay).fold(kms.url)(_.url), Tracer.off, args("data"),
        s"$scratch/rep$rep", trace)
      progress(s"set-up $rep: session and KMS up")
      wl.setUp(ctx)
      progress(s"set-up $rep: fixtures built")
      ops.filter(_.round == 0).foreach { op =>
        try wl.run(ctx, op) catch { case _: Exception => () }
        wl.betweenOps(ctx)
      }
      setupS += (System.nanoTime() - t0) / 1e9
      progress(f"set-up $rep/$SetupReps: ${setupS.last}%.2f s")
    }
    ctx = ctx.copy(tracer = tracer)

    // Timed region: closed loop, one client, operations in generated order
    // until `--seconds` of wall time have passed, and at least the first
    // round whole. Stopping between any two operations, not only between
    // rounds, keeps the sample count from jumping by a whole round. Only
    // the operation itself is inside its clock; result handling between
    // operations is not, but it is inside the timed wall time. The traced
    // run's extra passes (`Workload.traced`) are left out of the timed
    // wall time, so both runs time about as many operations. Each
    // operation's record goes straight to a file so results are not
    // retained on the heap.
    val hostStart = host()
    val done = mutable.ArrayBuffer.empty[Done]
    val opsOut = new PrintWriter(args("ops-out"), "UTF-8")
    val timed = ops.filter(_.round >= 1)
    val firstRound = timed.headOption.map(_.round).getOrElse(0)
    val timedT0 = System.nanoTime()
    var tracedNs = 0L
    def elapsedS = (System.nanoTime() - timedT0 - tracedNs) / 1e9
    try timed.iterator.takeWhile(op => elapsedS < seconds || op.round == firstRound).foreach { op =>
      val (wall, outcome) = tracer.op(op.id) {
        try Right(wl.run(ctx, op)) catch { case e: Exception => Left(e) }
      }
      val (status, err, res) = outcome match {
        case Right(r) => ("ok", "", Some(r))
        case Left(e) if denied(e) => ("denied", shortMsg(e), None)
        case Left(e) => ("error", shortMsg(e), None)
      }
      val fields = res.map(resultFields(op, _)).getOrElse(Map.empty[String, Any])
      val t0 = System.nanoTime()
      val extra = if (trace) wl.traced(ctx, op) else Map.empty[String, Double]
      tracedNs += System.nanoTime() - t0
      opsOut.println(Json(Map(
        "id" -> op.id, "round" -> op.round, "spec" -> op.spec, "kind" -> op.kind,
        "wall_s" -> wall, "status" -> status, "error" -> err,
        "layers" -> (tracer.layers(op.id) ++ extra)) ++ fields))
      done += Done(op, wall, status)
      wl.betweenOps(ctx)
    } finally opsOut.close()
    val timedWallS = elapsedS
    // Heap that survives full collections at the end of the timed region.
    // Spark frees broadcast and shuffle blocks from a cleaner thread once a
    // collection has found them unreachable, so collect, let it run, and
    // collect again.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val hostEnd = host()
    progress(f"timed: ${done.size} ops in $timedWallS%.2f s")
    val finished = wl.finish(ctx, done.toSeq)
    progress("finished")

    val w = new PrintWriter(out, "UTF-8")
    try {
      w.println(Json(Map(
        "workload" -> workload,
        "cores" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
        "setup_s" -> setupS.toSeq,
        "timed_wall_s" -> timedWallS,
        "fixture_dir" -> ctx.scratch,
        "heap_retained_mb" -> heapMb,
        "host_start" -> hostStart, "host_end" -> hostEnd,
        "run_facts" -> tracer.runFacts,
        "finish" -> finished)))
    } finally w.close()
    if (trace) {
      val sw = new PrintWriter(args("spans"), "UTF-8")
      try tracer.allSpans.foreach { s =>
        sw.println(Json(Map("id" -> s.id, "op" -> s.op, "parent" -> s.parent,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      } finally sw.close()
    }
    progress("output written")
    ctx.spark.stop()
    ctx.kms.stop()
    Option(relay).foreach(_.stop())
    progress("stopped")
  }

  private def progress(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - mainStartNs) / 1e9}%7.2f s] $msg")

  private val firstSeen = mutable.Map.empty[String, String]

  /** Rows of the first operation with a given spec go to the harness for
    * checking against the independent engine; every later operation with
    * the same spec must produce the same fingerprint.
    */
  private def resultFields(op: Op, r: Result): Map[String, Any] =
    if (r.outDir.nonEmpty) Map("out_dir" -> r.outDir)
    else {
      val fp = Cells.fingerprint(r.rows)
      val base = Map("rows_n" -> r.rows.length, "fp" -> fp)
      firstSeen.get(op.spec) match {
        case None =>
          firstSeen(op.spec) = fp
          base ++ Map("cols" -> r.schema.fieldNames.toSeq,
            "types" -> r.schema.fields.map(_.dataType.simpleString).toSeq,
            "rows" -> r.rows.map(row => row.toSeq.map(Cells.cell)).toSeq)
        case Some(first) => base ++ Map("same_as_first" -> (first == fp))
      }
    }

  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      // The status store keeps every job, stage, task and execution of the
      // run in the heap; cap it so heap_retained_mb measures the engine,
      // not how many operations the benchmark happened to complete.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Graft.tune(s)
    s
  }

  /** A denial is a failure whose cause chain holds parquet-mr's
    * KeyAccessDeniedException (the KMS answered 403).
    */
  def denied(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20)
      .exists(_.getClass.getName.endsWith("KeyAccessDeniedException"))

  private def shortMsg(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  /** loadavg, CPU and IO pressure, MemAvailable. */
  def host(): Map[String, String] = {
    def read(p: String): String =
      try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))).trim
      catch { case _: Exception => "" }
    Map("loadavg" -> read("/proc/loadavg"),
      "psi_cpu" -> read("/proc/pressure/cpu").linesIterator.take(1).mkString,
      "psi_io" -> read("/proc/pressure/io").linesIterator.take(1).mkString,
      "mem_available" -> read("/proc/meminfo").linesIterator
        .find(_.startsWith("MemAvailable")).getOrElse(""))
  }
}

/** Result cells in the form the harness checks. */
object Cells {
  /** A cell as a JSON-friendly value: numbers and strings stay as they
    * are; decimals, dates, timestamps and binaries get a tagged string
    * the harness reproduces from the independent engine's values.
    */
  def cell(v: Any): Any = v match {
    case null => null
    case f: Float => cell(f.toDouble)
    case d: Double if d.isNaN || d.isInfinite => s"float:$d"
    case b: java.math.BigDecimal => "dec:" + b.toPlainString
    case b: scala.math.BigDecimal => "dec:" + b.bigDecimal.toPlainString
    case t: java.sql.Timestamp =>
      "ts:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case i: java.time.Instant => "ts:" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case l: java.time.LocalDateTime =>
      val i = l.toInstant(java.time.ZoneOffset.UTC)
      "ts:" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case d: java.sql.Date => "date:" + d.toString
    case d: java.time.LocalDate => "date:" + d.toString
    case b: Array[Byte] => "bin:" + b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(cell)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => Seq(cell(k), cell(x)) }.sortBy(_.toString)
    case s: scala.collection.Seq[_] => s.map(cell)
    case other => other
  }

  /** Order-independent fingerprint of a result, for repeat comparisons
    * inside this JVM (the first result of a spec is checked in full).
    */
  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => Json(r.toSeq.map(cell))).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString + s":${rows.length}"
  }
}

/** Minimal JSON writer for the benchmark's own output. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(v, sb)
    sb.toString
  }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(x, sb)
    case s: String => quote(s, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) quote(d.toString, sb) else sb ++= d.toString
    case f: Float => write(f.toDouble, sb)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case n: Short => sb ++= n.toString
    case n: Byte => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        quote(k.toString, sb); sb += ':'; write(x, sb)
      }
      sb += '}'
    case s: Iterable[_] =>
      sb += '['
      var first = true
      s.foreach { x => if (!first) sb += ','; first = false; write(x, sb) }
      sb += ']'
    case a: Array[_] => write(a.toSeq, sb)
    case other => quote(other.toString, sb)
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
