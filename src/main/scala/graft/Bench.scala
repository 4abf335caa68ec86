package graft

import graft.io.Scratch
import graft.obs.QueryMetrics
import org.apache.spark.sql.SparkSession

/** Bench harness (BASELINE.md §B): runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Methodology: queries run in sorted name order after a scan warmup (JVM
  * + codegen + file-listing costs land on the warmup, not the first
  * query). Each query is forced through the `noop` sink so the full
  * result set is computed (a bare count() would let Catalyst prune the
  * query's own projections).
  */
object Bench {

  private[graft] object Diag {
    import scala.jdk.CollectionConverters._
    import java.lang.management.ManagementFactory
    def compileMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    def gcMs: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

    private def slurp(p: String): String =
      try {
        val src = scala.io.Source.fromFile(p)
        try src.mkString.trim finally src.close()
      } catch { case _: Throwable => "?" }

    /** One-field load average — appended to every per-query line so a
      * degraded run shows whether the host was contended at that moment.
      */
    def load1: String = slurp("/proc/loadavg").split(" ").headOption.getOrElse("?")

    /** The "some" line of a pressure-stall file (`/proc/pressure/<r>`). */
    private def psiLine(r: String): String =
      slurp(s"/proc/pressure/$r").linesIterator.find(_.startsWith("some")).getOrElse("?")

    /** avg10 of a pressure-stall "some" line: the share of the last 10 s
      * in which at least one task was stalled on the resource. −1 when
      * the kernel exposes no PSI.
      */
    private def psiAvg10(r: String): Double =
      "avg10=([0-9.]+)".r.findFirstMatchIn(psiLine(r))
        .flatMap(_.group(1).toDoubleOption).getOrElse(-1.0)

    /** CPU PSI avg10: THE contention signal the r13 retry gate was
      * missing — 1-min loadavg is a lagging average that reported 1.86
      * while a 0.3 s-class query's retry stalled for 19.2 s under bursty
      * co-tenant CPU; PSI avg10 reacts within seconds and measures the
      * stall itself, not the queue length.
      */
    def psiCpu: Double = psiAvg10("cpu")

    /** IO PSI avg10. The r15 seal night's lesson: a co-tenant hammering
      * the DISK inflates task deserialization (classpath reads) 2-5x
      * while CPU PSI stays ≈0 — the cpu gate alone settles straight into
      * an IO storm.
      */
    def psiIo: Double = psiAvg10("io")

    /** Host conditions the bench cannot control but the numbers depend
      * on: printed once per run so a slow BENCH_r{N} is attributable.
      */
    def envLine: String = {
      val memAvail = slurp("/proc/meminfo").linesIterator
        .find(_.startsWith("MemAvailable")).getOrElse("MemAvailable: ?")
        .replaceAll("\\s+", " ")
      val cpuMax = slurp("/sys/fs/cgroup/cpu.max") // "max 100000" = no quota
      val shmFree = try {
        val f = new java.io.File(Scratch.base)
        s"${f.getUsableSpace / (1L << 30)}G"
      } catch { case _: Throwable => "?" }
      s"loadavg=${slurp("/proc/loadavg")} psi.cpu=[${psiLine("cpu")}] " +
        s"psi.io=[${psiLine("io")}] $memAvail " +
        s"cgroup.cpu.max=[$cpuMax] shmFree=$shmFree"
    }
  }

  /** The fast-gate tier (SPARK_GRAFT_BENCH_TIER=fast): 40 queries, one
    * per distinct physical-plan family, chosen so a regression in any
    * operator class (scan pruning, each join strategy, window, rollup,
    * sketch, the full dedup/CC pipeline, ANN, crypto, streaming,
    * sources, multimodal, event analytics) moves at least one gate
    * number. Every heavy singleton is in — they are where plan
    * regressions cost the most wall-clock.
    */
  private[graft] object FastGate {
    val names: Set[String] = Set(
      "q01_filter_project", "q02_agg_hash", "q04_join_broadcast",
      "q05_join_outer", "q06b_join_anti", "q07_range_join", "q08_asof_join",
      "q09a_rollup", "q10b_approx_distinct", "q11_window_rank", "q13_topk",
      "q19_json", "q20_subquery", "q22a_jaccard_pairs", "q22b_minhash_pairs",
      "q23_cosine_topk", "q23e_cosine_ivf", "q24_encrypted_roundtrip",
      "q24f_encrypted_stream", "q27_session_window", "q28_percentiles",
      "q29_pivot", "q32_langid", "q35_bucketed_join", "q37_skew_salted_join",
      "q38_dup_clusters", "q40_multimodal_features", "q41_corpus_curation",
      "q43_zorder_scan", "q46_json_source", "q50_resample_gapfill",
      "q57_leakage_safe_split", "q58_semantic_dedup", "q62_stream_static_join",
      "q64_token_packing", "q69_sessionize", "q72_bm25", "q77_train_shards",
      "q97_star_join", "q108_survivorship")
  }

  /** Pull the Spark jars (and the compiled classes) into the OS page
    * cache before any query is timed. A freshly booted VM starts with a
    * cold cache, and the JVM loads classes lazily — so the FIRST query to
    * touch shuffle-hash-join / object-hash-aggregate / crypto classes
    * pays hundreds of MB of (possibly host-throttled) disk reads inside
    * its timed region. Reproduced locally: cold cache + an 8 MB/s cgroup
    * read throttle put 19.7 s of task-deserialization (class loading)
    * into one dedup query. Long-lived production executors never measure
    * class loading; the bench shouldn't either.
    */
  private def prewarmPageCache(extraDirs: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    val roots = (Seq("/opt/spark/jars", "target") ++ extraDirs)
      .map(new java.io.File(_)).filter(_.exists())
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(files)
      else Seq(f)
    val all = roots.flatMap(files)
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    all.foreach { f =>
      pool.execute { () =>
        try {
          val in = new java.io.FileInputStream(f)
          val buf = new Array[Byte](1 << 20)
          try {
            var n = in.read(buf)
            while (n >= 0) { bytes.addAndGet(n.toLong); n = in.read(buf) }
          } finally in.close()
        } catch { case _: Throwable => () }
      }
    }
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES): Unit
    System.err.println(f"[bench-env] prewarm read ${bytes.get / 1e6}%.0f MB " +
      f"(${all.size} files) in ${(System.nanoTime() - t0) / 1e9}%.1fs")
  }

  /** One-time media-codec pre-touch (r8 verdict: q40 at 7.3x its local
    * cost on the driver box, diag pure-CPU). ImageIO's plugin-registry
    * scan and the PNG/JPEG/WAV reader+writer class graphs initialize
    * lazily on first use, per JVM; running the full decode/encode
    * kernels here on tiny synthetic assets loads and JIT-warms them
    * before ANY timed region exists. Long-lived production executors
    * amortize this the same way.
    */
  private def prewarmCodecs(): Unit = {
    val t0 = System.nanoTime()
    try {
      javax.imageio.ImageIO.scanForPlugins()
      val gray = Array.tabulate(64 * 64)(i => (i % 251).toByte)
      Seq("png", "jpeg").foreach { fmt =>
        val enc = ops.Multimodal.encodeImage(gray, 64, 64, fmt)
        ops.Multimodal.decode(fmt, enc): Unit
      }
      val wav = ops.Multimodal.encodeWav(Array.tabulate(4096)(i => (i % 127).toByte))
      ops.Multimodal.decode("wav", wav): Unit
    } catch { case e: Throwable =>
      System.err.println(s"[bench-env] codec prewarm failed (non-fatal): $e")
    }
    System.err.println(f"[bench-env] codec prewarm ${(System.nanoTime() - t0) / 1e9}%.1fs")
  }

  /** Shape thresholds for the structural solo rule. Measured sf0.01
    * profile of the full registry (r10, [bench-shape] map): single-plan
    * queries fire 2-9 jobs (one action + its AQE stage materializations
    * and broadcast builds); multi-stage pipelines — persists, driver
    * loops (CC label propagation), index/fixture writes, multi-action
    * summaries — fire 11+. The byte arm catches the other contamination
    * producer: a query pushing megabytes through exchanges leaves that
    * much shuffle-file debris in the group's tmpfs local dir. Every
    * historical in-group victim (q22a r7; q40/q41 r8; q79/q80/q81 r9)
    * crosses at least one arm at sf0.01; plain scan/join/agg queries
    * cross neither. The r10 counts (threshold 11) included one
    * schema-inference job per table load. Schemas are now resolved once
    * per JVM (`graft.io.Parquet`, warmed by the shape pass's table scan),
    * so each count fell by the query's warm loads; 10 keeps 30 of the 31
    * queries the old rule isolated. q20 (11 -> 8 jobs: three loads) now
    * sits below the 9-job q14/q22c/q84/q115, so no threshold keeps it.
    */
  private val SoloJobs = 10L
  private val SoloShuffleBytes = 1L << 21 // 2 MiB through exchanges at sf0.01

  private type QFn = (SparkSession, String) => org.apache.spark.sql.DataFrame

  /** The retry rule's sample-adjudication predicate, extracted pure so
    * BenchGateSpec can pin BOTH sensor arms against real kernel
    * evidence (r14 verdict item 6 — every r14 adjudication rode the
    * task≈cpu arm because the round never saw PSI > gate; the PSI arm
    * needs its own demonstrated trip). A sample is "clean" (= its
    * still-slow wall is plan-not-host evidence) iff its task-time is
    * within 1.5× of cpu-time plus 2 s absolute slack AND the host
    * pressure at the sample's own end was below the gate — CPU PSI
    * avg10 when the kernel exposes it, else the loadavg captured inside
    * the sample's window (never at adjudication time — r14 ADVICE).
    */
  private[graft] def sampleClean(taskS: Double, cpuS: Double,
      psiEnd: Double, loadEnd: Double,
      psiGate: Double, loadGate: Double): Boolean = {
    val taskCpuOk = taskS <= 1.5 * cpuS + 2.0
    val hostOk =
      if (psiEnd >= 0) psiEnd < psiGate
      else loadEnd >= 0 && loadEnd < loadGate
    taskCpuOk && hostOk
  }

  /** One timed execution, with the evidence the retry rule adjudicates
    * on: task-time vs cpu-time (a stalled sample has task ≫ cpu — tasks
    * held runnable-but-not-running cost task-time but no cpu-time) and
    * the CPU PSI at the measurement's end.
    */
  private final case class RunSample(wall: Double, diag: String,
      taskS: Double, cpuS: Double, psiEnd: Double, loadEnd: Double)

  /** The sf0.01 sibling of the bench dir when present, else the bench
    * dir itself: where the shape pass runs.
    */
  private def shapeDir(sfDir: String): String = {
    val small = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01")
    if (small.isDirectory) small.getPath else sfDir
  }

  /** Scan every corpus table once (table-load, file-listing and scan
    * codegen costs land here, before any query is measured).
    */
  private def scanTables(spark: SparkSession, dir: String): Unit =
    Tables.all.foreach { t =>
      try {
        val df = if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t)
        df.count(): Unit
      } catch { case _: Throwable => () }
    }

  /** One untimed pass over the selected queries in a single fresh
    * context, recording each query's [[QueryMetrics.Shape]] (jobs fired,
    * shuffle bytes written) — None for a query whose run threw.
    * Runs at [[shapeDir]]: shape metrics are plan facts, not timings —
    * small-SF is cheap and the signal only grows with SF (iterative
    * pipelines add rounds, never lose them), so a small-SF threshold
    * crossing is conservative. The same map is the bench's
    * `shuffle_bytes` line. Table-load and fixture costs land before
    * any query is measured, mirroring the timed groups' warmup
    * discipline.
    */
  private def profileShapes(cpus: String, dir: String,
      names: Seq[(String, QFn)]): Map[String, Option[QueryMetrics.Shape]] = {
    val t0 = System.nanoTime()
    SparkSession.getActiveSession.foreach(_.stop())
    val spark = Graft.localSession(cpus)
    val qm = QueryMetrics.install(spark)
    scanTables(spark, dir)
    val out = names.map { case (name, fn) =>
      name -> qm.measure(spark, name) {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
      }
    }.toMap
    spark.stop()
    System.err.println(f"[bench-shape] profiled ${names.size} queries at $dir " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    System.err.println("[bench-shape] map: " + out.toSeq.sortBy(_._1)
      .map { case (n, s) => s"$n:${s.fold("failed")(s => s"${s.jobs}:${s.shuffleBytes}")}" }
      .mkString(" "))
    out
  }

  /** The seal's per-query walls as numbers — the rerun-once rule's
    * reference points ([[sealWalls]] drives it; [[sealQueries]] embeds
    * the raw map into the artifact).
    */
  private lazy val sealWalls: Map[String, Double] =
    sealQueries.map { js =>
      "\"([^\"]+)\":(-?[0-9.]+)".r.findAllMatchIn(js)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.getOrElse(Map.empty)

  /** The committed previous-seal per-query wall map ("BENCH_SEAL.json",
    * refreshed at each round's reseal; path override for local runs).
    * Embedded verbatim into the total_summary line so a >2x query in a
    * one-shot driver run is adjudicable as host-vs-plan from the
    * artifact alone (r10 verdict item 6): the reader compares each
    * query's wall against its seal wall alongside the run's own
    * per-query loadavg and task/cpu/gc evidence — no local rerun of the
    * same commit needed. Extraction is a brace-matched substring, not a
    * JSON parse: the seal file is this program's own single-line output.
    */
  private def sealQueries: Option[String] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_SEAL", "BENCH_SEAL.json")
    try {
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      val key = "\"queries\":"
      val i = txt.indexOf(key)
      if (i < 0) None
      else {
        val start = txt.indexOf('{', i + key.length)
        var depth = 0
        var j = start
        while (j < txt.length && (depth > 0 || j == start)) {
          if (txt(j) == '{') depth += 1 else if (txt(j) == '}') depth -= 1
          j += 1
        }
        if (start >= 0 && depth == 0) Some(txt.substring(start, j)) else None
      }
    } catch { case _: Throwable => None }
  }

  /** Remove leftover shuffle dirs from SIGKILL'd prior runs: the tmpfs
    * local dir (build.sbt) is exclusively ours and runs are serial, so a
    * startup sweep cannot race a live JVM's files.
    */
  private[graft] def sweepLocalDirs(): Unit =
    sys.props.get("spark.local.dir").filter(_.startsWith(Scratch.Tmpfs + "/"))
      .foreach { root =>
        Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
          .foreach(f => Scratch.delete(f.toString))
      }

  def main(args: Array[String]): Unit = {
    // All f"" interpolators below feed the machine-parsed JSON line; a
    // non-US default locale would render decimals as "1,5" and corrupt
    // it. Pin the JVM default rather than threading Locale.ROOT through
    // every format call.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    sweepLocalDirs()
    System.err.println(s"[bench-env] ${Diag.envLine}")
    val loadStart = try Diag.load1.toDouble catch { case _: Throwable => -1.0 }
    val psiStart = Diag.psiCpu
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Optional comma-separated filter for local bisection (driver unset).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Two-tier bench (r8 verdict item 7): at 128 queries the full seal
    // is ~100 s and host drift (75-102 s band) can swamp per-query
    // signal. SPARK_GRAFT_BENCH_TIER=fast runs a curated plan-diverse
    // ~40-query gate so a refactor's regression surfaces in minutes;
    // the full seal (driver default, env unset) stays the artifact of
    // record. Both numbers are recorded in BASELINE.md §C10.
    val tierFilter: Option[Set[String]] =
      if (sys.env.get("SPARK_GRAFT_BENCH_TIER").contains("fast")) Some(FastGate.names)
      else None
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .filter { case (n, _) => tierFilter.forall(_.contains(n)) }
    prewarmPageCache(Seq(sfDir))
    prewarmCodecs()

    // Measurement isolation: a fresh SparkContext every few queries.
    // Running all 42 queries in one context shows progressive 10-40x
    // degradation in the later queries (accumulated broadcast blocks,
    // codegen classes, shuffle state — run-dependent), which measures the
    // harness, not the query. Context restart bounds the contamination;
    // each group gets a small scan warmup so per-query timings still
    // exclude session startup.
    //
    // The composed dedup pipelines run in SINGLETON groups (r8): sorted
    // order used to pack q56..q58b into one group, so each timed run sat
    // behind up to 7 prior heavy runs' shuffle files in the tmpfs local
    // dir and their broadcast/codegen debris — q57 measured ~2.5× its
    // isolated cost in-suite, and on the memory-contended driver box the
    // q22a group amplified to 6.5× (BENCH_r07). A singleton group is
    // warmup + timed run in a fresh context whose local dirs die with it:
    // in-suite cost ≡ isolated cost, by construction.
    val groupSize = 4
    // Solo set DERIVED from measured query shape, not a hand list (r9
    // verdict item 1). Three rounds running, a registry resort packed
    // multi-stage queries into a shared 4-query group and inflated them
    // >2x on the driver box (q22a r7, q40/q41 r8, q79/q80/q81 r9); the
    // per-victim soloNames fix was whack-a-mole because the next
    // alphabetical insertion re-shifts every group boundary. The shape
    // rule makes the pathology unreachable: any query that is itself a
    // multi-stage pipeline (many Spark jobs: persists, driver loops,
    // index writes, AQE stage trains) or that pushes a large volume
    // through exchanges runs in a singleton group, by measurement.
    // Shapes are profiled in one untimed pass at the sf0.01 sibling —
    // job counts and exchange bytes are plan/data-shape facts, cheap at
    // small SF and monotone in SF (iterative pipelines only gain jobs
    // at larger scale), unlike timings, which is why the profile can be
    // small-SF while the timed groups run at the bench SF.
    val shapesDir = shapeDir(sfDir)
    val shapes = profileShapes(cpus, shapesDir, names)
    def shape(n: String) = shapes.get(n).flatten
    val soloNames: Set[String] = names.map(_._1).filter { n =>
      // Unprofiled (profile-pass failure) => solo: the safe default.
      shape(n).forall(s => s.jobs >= SoloJobs || s.shuffleBytes >= SoloShuffleBytes)
    }.toSet
    System.err.println(s"[bench-shape] solo (jobs>=$SoloJobs or shufBytes>=$SoloShuffleBytes): " +
      soloNames.toSeq.sorted.map(n => s"$n(j=${shape(n).fold(-1L)(_.jobs)}," +
        s"b=${shape(n).fold(-1L)(_.shuffleBytes)})").mkString(", "))
    val groups: Seq[Seq[(String, QFn)]] = {
      val out = Seq.newBuilder[Seq[(String, QFn)]]
      var cur = Vector.empty[(String, QFn)]
      names.foreach { nf =>
        if (soloNames(nf._1)) {
          if (cur.nonEmpty) { out += cur; cur = Vector.empty }
          out += Seq(nf)
        } else {
          cur :+= nf
          if (cur.size == groupSize) { out += cur; cur = Vector.empty }
        }
      }
      if (cur.nonEmpty) out += cur
      out.result()
    }
    val results = groups.iterator.flatMap { group =>
      SparkSession.getActiveSession.foreach(_.stop())
      val spark = Graft.localSession(cpus)
      val qm = QueryMetrics.install(spark)
      scanTables(spark, sfDir)
      // Per-group warmup: the exact queries at the exact scale factor,
      // once, untimed (JMH-style steady-state methodology). Round 2 warmed
      // at sf0.001 instead — too few loop iterations to cross the
      // interpreter's OSR/compile thresholds, so the TIMED sf0.1 run
      // entered its generated megamethods interpreted (~30x slower), and
      // because `processNext()` is invoked roughly once per task, every
      // fresh task re-paid the interpreted phase until a method-entry
      // compile finally landed. Measured: identical back-to-back q02 runs
      // at 180s-of-CPU then 6s-of-CPU — the first timed run was the JIT's
      // warmup. A full-scale warmup run IS enough backedges everywhere,
      // so the timed run measures steady state, like a long-lived
      // production executor. clearCache() drops any persists the warm run
      // materialized; the timed run rebuilds its own.
      // Solo (heavy) queries warm TWICE: they are the ones whose timed
      // run sits closest to JIT/codegen cliffs on the contended driver
      // box, and a second full-scale pass costs seconds while pushing
      // every generated method decisively past the C1 thresholds.
      val warmupPasses = if (group.sizeIs == 1 && soloNames(group.head._1)) 2 else 1
      (1 to warmupPasses).foreach { _ =>
        group.foreach { case (_, fn) =>
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
        }
        try spark.catalog.clearCache() catch { case _: Throwable => () }
      }
      def timedRun(name: String, fn: QFn): RunSample = {
        var comp0, gc0 = 0L
        var dt = 0.0
        val ok = qm.measure(spark, name) {
          val t0 = System.nanoTime()
          comp0 = Diag.compileMs
          gc0 = Diag.gcMs
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          finally dt = (System.nanoTime() - t0) / 1e9
        }.isDefined
        // Where did the wall time go? JVM-level JIT/GC deltas plus
        // task-level sums expose the stalls plan inspection can't.
        System.err.println(f"[bench-diag] $name wall=$dt%.1fs " +
          f"jit=${(Diag.compileMs - comp0) / 1000.0}%.1fs " +
          f"gc=${(Diag.gcMs - gc0) / 1000.0}%.1fs ${qm.line} load=${Diag.load1} " +
          f"psi=${Diag.psiCpu}%.1f psio=${Diag.psiIo}%.1f")
        // Task-time/CPU/GC sums plus the instantaneous 1-min loadavg and
        // CPU PSI ride into the final JSON so a one-shot BENCH_r{N} run
        // is attributable after the fact: wall >> taskSum/32 means
        // stalled tasks (host/IO); cpu >> plan-expected means the JVM ran
        // the query degraded (e.g. interpreted); high load/PSI marks
        // external host contention.
        val ld = try Diag.load1.toDouble catch { case _: Throwable => -1.0 }
        val psi = Diag.psiCpu
        val taskS = qm.taskMs.sum / 1000.0
        val cpuS = qm.cpuMs.sum / 1000.0
        val diag = f""""$name":{"task":$taskS%.1f,""" +
          f""""cpu":$cpuS%.1f,"tgc":${qm.gcMs.sum / 1000.0}%.1f,""" +
          f""""load":$ld%.2f,"psi":$psi%.1f,"psio":${Diag.psiIo}%.1f}"""
        RunSample(if (ok) dt else -1.0, diag, taskS, cpuS, psi, ld)
      }
      // SHARED groups are timed TWICE — forward order, then reverse —
      // keeping each query's MINIMUM (r10 verdict item 1): the solo rule
      // protects multi-stage pipelines, but cheap adjacent-in-registry
      // queries in a shared group still inflated 1.7-2.5x on the drifting
      // driver host (q05/q07/q08/q09b, BENCH_r10, plans untouched). The
      // min of two order-reversed runs cancels both failure modes at
      // once: position-dependent contamination (a query slow only when it
      // runs after a particular neighbor is fast in the other order) and
      // transient host stalls (a drift spike rarely spans both runs). The
      // extra pass costs seconds — shared groups hold only sub-second
      // queries, by the shape rule's construction. Solo groups keep the
      // single deeply-warmed timed run: their queries are the expensive
      // ones, and a fresh-context singleton has no neighbor to contaminate
      // it.
      val orders: Seq[Seq[(String, QFn)]] =
        if (group.sizeIs == 1) Seq(group) else Seq(group, group.reverse)
      val measured: Map[String, RunSample] = orders.flatMap { ord =>
        ord.map { case (name, fn) => name -> timedRun(name, fn) }
      }.groupBy(_._1).map { case (n, runs) =>
        val best = runs.map(_._2).filter(_.wall >= 0).sortBy(_.wall).headOption
        n -> best.getOrElse(runs.head._2)
      }
      // Rerun rule (r11 verdict item 1; PSI-adjudicated per r13 verdict
      // item 1): any query whose best timed wall exceeds 2x its committed
      // seal wall gets re-timed in the same warmed context, keeping the
      // minimum. The r12/r13 lesson chain: an IMMEDIATE retry re-samples
      // the same stall (r12 q26), and a 1-MIN-LOADAVG gate cannot see
      // bursty co-tenant contention (r13 q125: retry 19.2 s at "settled"
      // load 1.86 — loadavg is a lagging queue-length average, not a
      // stall measure). The gate is now CPU PSI avg10 (/proc/pressure/
      // cpu — the share of the last 10 s some runnable task spent
      // stalled), and a retry SAMPLE is accepted as adjudicating only
      // when its own evidence says it ran uncontended: task-time ≈
      // cpu-time (a stalled sample's tasks accrue task-time but no
      // cpu-time) and low PSI at its end. A clean still->2x sample IS
      // the plan-not-host proof the artifact needs — stop retrying and
      // carry the evidence ("survivor_clean":true); a contaminated
      // still->2x sample earns one more settle+retry (bounded at 2).
      // Every wall, settle load/PSI, and the accept verdict ride in the
      // diag map, so a surviving >2x row is adjudicable from the
      // artifact alone. NOTE the policy is one-sided by design (it can
      // only LOWER walls relative to a naive single run, never raise
      // them) — declared in the artifact header ("retry_policy") so
      // seal-to-seal comparisons account for it.
      val loadGate = (try cpus.toDouble catch { case _: Throwable => 32.0 }) / 4.0
      val psiGate = 10.0 // percent: >10% of the last 10s stalled = contended
      // The settle wait watches BOTH pressure stalls: cpu AND io
      // (r15 — a co-tenant hammering the disk inflates task
      // deserialization 2-5x while cpu PSI stays ≈0, so a cpu-only
      // settle retries straight into the IO storm). Only the cpu PSI
      // feeds the sample-adjudication verdict: an IO-stalled sample is
      // already rejected by its own task≫cpu evidence.
      def settleContention(): (Double, Double) = {
        val deadlineNs = System.nanoTime() + 90L * 1000 * 1000 * 1000
        def read(): (Double, Double, Double) =
          (try Diag.load1.toDouble catch { case _: Throwable => -1.0 },
            Diag.psiCpu, Diag.psiIo)
        var (ld, psi, psio) = read()
        while ((ld >= loadGate || psi >= psiGate || psio >= psiGate) &&
            System.nanoTime() < deadlineNs) {
          Thread.sleep(5000)
          val r = read(); ld = r._1; psi = r._2; psio = r._3
        }
        (ld, psi)
      }
      // A sample adjudicates (is "clean") when its own task/cpu evidence
      // shows no stall — task-time within 1.5x of cpu-time plus 2s of
      // absolute slack for scheduling overhead on sub-second queries —
      // and the host's PSI at its end is below the gate. On no-PSI
      // kernels the fallback is the loadavg CAPTURED AT THE SAMPLE'S
      // OWN END inside timedRun (r14 ADVICE): adjudication may run
      // minutes after the 'prior' sample (settle-waits, retries), and a
      // verdict read from host state at adjudication time would judge
      // the sample by evidence from the wrong window.
      def cleanSample(r: RunSample): Boolean =
        sampleClean(r.taskS, r.cpuS, r.psiEnd, r.loadEnd, psiGate, loadGate)
      // Splice extra fields into a per-query diag object; a malformed
      // diag (not brace-terminated) is left untouched rather than
      // corrupting the whole artifact's JSON (r12 ADVICE).
      def splice(diag: String, extra: String): String =
        if (diag.endsWith("}")) diag.dropRight(1) + "," + extra + "}" else diag
      val settled: Map[String, (Double, String)] = measured.map {
        case (name, first) =>
          sealWalls.get(name) match {
            case Some(seal) if first.wall >= 0 && seal > 0 && first.wall > 2 * seal =>
              val fn = group.find(_._1 == name).get._2
              var runs = Vector((first, "prior", -1.0, -1.0))
              var attempt = 0
              var done = false
              while (!done && attempt < 2) {
                attempt += 1
                val tag = if (attempt == 1) "retry" else "retry2"
                val (ld, psi) = settleContention()
                System.err.println(f"[bench-retry] $name > 2x seal=$seal%.2fs — " +
                  f"re-timing ($tag) at settled load=$ld%.2f psi=$psi%.1f")
                val smp = timedRun(name, fn)
                runs :+= ((smp, tag, ld, psi))
                val bestWall = runs.map(_._1.wall).filter(_ >= 0).min
                // Stop when the number is back in band OR this sample is
                // clean (uncontended by its own evidence): a clean >2x
                // wall is a real measurement, not a stall to retry away.
                done = bestWall <= 2 * seal || (smp.wall >= 0 && cleanSample(smp))
              }
              val valid = runs.filter(_._1.wall >= 0)
              val best = if (valid.nonEmpty) valid.minBy(_._1.wall) else runs.head
              val others = runs.filterNot(_._2 == best._2)
                .map { case (r, tag, _, _) => f""""$tag":${r.wall}%.3f""" }
              val settles = runs.filter(_._2 != "prior").flatMap {
                case (_, tag, ld, psi) => Seq(
                  f""""${tag}_load":$ld%.2f""", f""""${tag}_psi":$psi%.1f""")
              }
              // A row still >2x after the loop carries its adjudication:
              // survivor_clean=true means the kept sample's own task/cpu
              // + PSI evidence proves plan-not-host; false means the host
              // never gave a clean window (both retries contaminated).
              val verdictBits =
                if (best._1.wall > 2 * seal)
                  Seq(s""""survivor_clean":${cleanSample(best._1)}""")
                else Nil
              name -> (best._1.wall,
                splice(best._1.diag, (others ++ settles ++ verdictBits).mkString(",")))
            case _ => name -> (first.wall, first.diag)
          }
      }
      group.map { case (name, _) =>
        val (dt, diag) = settled(name)
        (name, dt, diag)
      }
    }.toSeq
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val diags = results.map(_._3).mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // The rule-derived solo set rides into the committed artifact so a
    // round-over-round reader can audit the grouping the numbers were
    // measured under (r9 verdict item 1: grouping is structural now).
    val soloJson = soloNames.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,""" +
      f""""diag":$diags,"solo":$soloJson,""" +
      f""""retry_policy":"gt2x-seal-psi-gated-clean-sample-keep-min","sf":"$sfDir"}"""
    println(fullLine)
    // The stdout channel has failed twice (round 3: tail truncation ate
    // the total; round 4: the sbt logger's "[info] " prefix broke the
    // driver's parse) — so the per-query wall map ALSO lands in a file,
    // committable and diffable round-over-round regardless of how the
    // launcher mangles stdout. Path override for local bisection runs.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), fullLine + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] artifact write failed: $e") }
    // Untimed one-shot diagnostics (skipped when bisecting with
    // SPARK_GRAFT_BENCH_ONLY): candidate-count growth across scale
    // factors and the BASELINE §B crypto cells. Guarded — a diag failure
    // must never cost the run its timing artifact.
    if (only.isEmpty) {
      val spark = SparkSession.getActiveSession.getOrElse(Graft.localSession(cpus))
      try println(tools.ScaleDiag.run(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[bench] scale diag failed: $e") }
      try println(tools.ScaleDiag.annRecall(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[bench] ann recall diag failed: $e") }
      try println(tools.ScaleDiag.annDistLsm(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[bench] ann dist-lsm diag failed: $e") }
      try println(tools.ScaleDiag.annDistIvfPq(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[bench] ann dist-ivfpq diag failed: $e") }
      try println(tools.CryptoMeasure.run(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[bench] crypto diag failed: $e") }
      // Exchange bytes per query (r8 verdict item 4), recorded per round
      // next to the timings, read off the shape pass: a refactor that
      // lets a wide payload ride through a shuffle multiplies the bytes
      // at every scale factor identically, so the small-SF record is
      // enough (the sf0.1 anchors for the heavy family are spec-enforced
      // in ShuffleBudgetSpec). -1 marks a query whose shape run failed.
      val cells = names.map { case (n, _) => s""""$n":${shape(n).fold(-1L)(_.shuffleBytes)}""" }
      println(s"""{"metric":"shuffle_bytes","sf":"${new java.io.File(shapesDir).getName}",""" +
        cells.mkString("\"queries\":{", ",", "}}"))
    }
    // The driver keeps only the tail of stdout; with 61 queries the full
    // line above outgrew that window in round 3 and the headline total was
    // truncated away. A compact summary printed LAST always survives.
    // Distinct metric name ("total_summary", round-4 advisor finding): a
    // consumer selecting metric=="total" must match exactly one line per
    // run, never a double-counted pair.
    val ok = results.filter(_._2 >= 0)
    val slowest5 = ok.sortBy(-_._2).take(5)
    val slowest = slowest5
      .map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    // The slowest queries' task/cpu/gc sums ride in the summary too, so a
    // degraded one-shot driver run is attributable from the parsed
    // artifact alone (r7's q22a forensics needed a local rerun).
    val slowestDiag = slowest5.map(_._3).mkString("{", ",", "}")
    // n_ok alongside n_queries: the total sums only succeeded queries, so
    // a reader of this tail-surviving line must be able to see failures.
    // The FULL per-query wall map is included (r8): round-over-round
    // per-query diffs must come off the driver artifact itself, not a
    // local rerun of the same commit.
    // The committed seal's per-query map and the run's loadavg endpoints
    // ride along (r10 verdict item 6): BENCH_r{N}.json is then
    // self-contained for regression adjudication — every query carries
    // (current wall, seal wall, load at measurement) in one artifact.
    val loadEnd = try Diag.load1.toDouble catch { case _: Throwable => -1.0 }
    println(f"""{"metric":"total_summary","value":$total%.3f,"unit":"sec",""" +
      f""""n_queries":${results.size},"n_ok":${ok.size},"queries":$qs,""" +
      f""""slowest":$slowest,"slowest_diag":$slowestDiag,""" +
      f""""seal":${sealQueries.getOrElse("{}")},""" +
      f""""load_start":$loadStart%.2f,"load_end":$loadEnd%.2f,""" +
      f""""psi_start":$psiStart%.1f,"psi_end":${Diag.psiCpu}%.1f,"sf":"$sfDir"}""")
    // r8 postmortem: the full 128-query map made the total_summary line
    // itself outgrow the driver's tail capture and BENCH_r08.json
    // recorded "parsed": null. The map stays (round-over-round diffs
    // come off the driver artifact), but a SHORT totals-only line now
    // prints after it, so whatever tail window the launcher keeps, the
    // LAST line always fits and always parses.
    println(f"""{"metric":"total_compact","value":$total%.3f,"unit":"sec",""" +
      f""""n_queries":${results.size},"n_ok":${ok.size},"sf":"$sfDir"}""")
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
