package graft.tools

import graft.obs.QueryMetrics
import graft.ops.Dedup
import org.apache.spark.sql.SparkSession

/** Scale diagnostics for the dedup family: counts the CANDIDATE pairs the
  * prefix filter (q22a) and the LSH band join (q22b) emit at every
  * available scale factor. The claim under test is the 100 TB one — that
  * candidate volume grows sub-quadratically in corpus size because the
  * prefix filter excludes high-df shingles and band joins are
  * O(Σ bucket²), never all-pairs. Logged into the bench artifact so the
  * growth rate is on record next to the timings.
  */
object ScaleDiag {

  /** Standalone entry point for recall/candidate measurement while
    * tuning (`sbt "runMain graft.tools.ScaleDiag [sfDir]"`) — the same
    * lines Bench emits, without timing the whole suite.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.localSession(cpus)
    println(annRecall(spark, sfDir))
    println(annDistLsm(spark, sfDir))
    println(annDistIvfPq(spark, sfDir))
    spark.stop()
  }

  /** Sibling sf directories of the bench dir (e.g. sf0.001, sf0.01,
    * sf0.1), ascending by size — no hardcoded paths.
    */
  private def sfDirs(benchSfDir: String): Seq[String] = {
    val f = new java.io.File(benchSfDir)
    val siblings = Option(f.getParentFile).map { p =>
      Option(p.listFiles()).getOrElse(Array.empty).toSeq
        .filter(d => d.isDirectory && d.getName.startsWith("sf"))
        .sortBy(d => d.getName.stripPrefix("sf").toDoubleOption.getOrElse(Double.MaxValue))
        .map(_.getPath)
    }.getOrElse(Seq(benchSfDir))
    if (siblings.contains(f.getPath)) siblings else siblings :+ benchSfDir
  }

  /** The reindex-scale probe frame shared by every distributed-serve
    * pricing site (here and ShuffleBudgetSpec): `reps` re-keyed copies
    * of the corpus, pids offset past any real vec_id so the
    * self-exclusion filter never fires on them.
    */
  def reindexProbes(spark: SparkSession, sfDir: String,
      reps: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.ops.AnnIndex.corpus(spark, sfDir)
      .crossJoin(broadcast(spark.range(reps.toLong).toDF("r")))
      .select(((col("r") + 1) * lit(10000000L) + col("vec_id")).as("pid"),
        col("e").as("pe"))
  }

  /** The unbounded LSM serve shape priced:
    * [[graft.ops.IvfPq.probeUnbounded]] over the dataset's
    * real multi-segment MASKED state (composed append base + fresh
    * delta + delete tombstones — the q113/q129 fixtures) with q132's
    * reindex-scale probe frame (5 re-keyed corpus copies, larger than
    * MaxProbes, never materialized on the driver). q132 prices the
    * single-root unbounded serve; this cell adds the segment-union +
    * tombstone-mask dimension at the same probe scale. Warm run then
    * one timed steady-state run, the BASELINE §C cell for "every serve
    * shape priced". Guarded by Bench like the other diag lines.
    */
  def annDistLsm(spark: SparkSession, benchSfDir: String): String = {
    import graft.ops.IvfPq
    val (baseDir, deltaDir, ts) = IvfPq.distLsmFixture(spark, benchSfDir)
    val probes = reindexProbes(spark, benchSfDir, 5)
    val nProbes = probes.count()
    val sec = QueryMetrics.warmSeconds(IvfPq.probeUnbounded(spark,
        Seq(baseDir, deltaDir), probes, Seq(ts -> Int.MaxValue))
      .write.format("noop").mode("overwrite").save())
    val ckpt = IvfPq.lastCheckpointSec
    val sf = new java.io.File(benchSfDir).getName
    f"""{"metric":"ann_dist_lsm","probe_sec":$sec%.3f,"ckpt_sec":$ckpt%.3f,""" +
      s""""n_probes":$nProbes,"segments":2,"masked":true,""" +
      s""""format":"${graft.ops.AnnIndex.FormatLevel}","sf":"$sf"}"""
  }

  /** The unbounded composed serve priced on a single root:
    * [[graft.ops.IvfPq.probeUnbounded]] — probes a DataFrame end-to-end
    * against the composed index (codes-only candidate scan, expression-computed ADC LUTs,
    * bounded exact refine) — with the
    * same reindex-scale probe frame as [[annDistLsm]], so the
    * single-root and masked multi-segment serves are directly
    * comparable in the artifact: the difference between the two lines
    * is the segment union and the tombstone mask.
    */
  def annDistIvfPq(spark: SparkSession, benchSfDir: String): String = {
    import graft.ops.IvfPq
    val dir = IvfPq.build(spark, benchSfDir)
    val probes = reindexProbes(spark, benchSfDir, 5)
    val nProbes = probes.count()
    val sec = QueryMetrics.warmSeconds(
      IvfPq.probeUnbounded(spark, Seq(dir), probes)
        .write.format("noop").mode("overwrite").save())
    // The eager probe-checkpoint's share of the serve wall (r14 verdict
    // item 3): q132's wall moved when the r14 deadlock fix made the
    // checkpoint eager; this cell makes the attribution a measured fact.
    val ckpt = IvfPq.lastCheckpointSec
    val sf = new java.io.File(benchSfDir).getName
    f"""{"metric":"ann_dist_ivfpq","probe_sec":$sec%.3f,"ckpt_sec":$ckpt%.3f,""" +
      s""""n_probes":$nProbes,"sf":"$sf"}"""
  }

  /** Measured ANN recall at the BENCH scale factor (round-4 verdict #8):
    * the approximate paths' specs pin recall at test scale only, but
    * bucket-collision probability shifts with corpus density — so the
    * bench artifact records the real fraction of exact results each
    * approximate path reproduces at the scale being timed. Computed as
    * distributed semi-joins (exact ∩ approx) — no row collects, so the
    * same diagnostic runs at any sf.
    */
  def annRecall(spark: SparkSession, benchSfDir: String): String = {
    import graft.ops.Similarity
    def frac(exact: org.apache.spark.sql.DataFrame,
        approx: org.apache.spark.sql.DataFrame, keys: Seq[String]): (Long, Double) = {
      val e = exact.select(keys.map(org.apache.spark.sql.functions.col): _*)
      val a = approx.select(keys.map(org.apache.spark.sql.functions.col): _*)
      val n = e.count()
      val hit = e.join(a, keys, "left_semi").count()
      (n, if (n == 0) 0.0 else hit.toDouble / n)
    }
    val topKeys = Seq("probe_id", "nbr_id")
    val pairKeys = Seq("va", "vb")
    // Each cell guarded: one failing path must not cost the line.
    def cell(name: String, f: => (Long, Double)): String =
      try { val (n, r) = f; f""""$name":{"recall":$r%.4f,"exact_n":$n}""" }
      catch { case e: Throwable => s""""$name":{"error":"${e.getClass.getSimpleName}"}""" }
    val exactTop = Similarity.q23.fn(spark, benchSfDir)
    val exactPairs = Similarity.q23b.fn(spark, benchSfDir)
    // q23c's candidate spend next to the recall it buys: fraction of the
    // brute-force probe×corpus volume that survives the bucket joins —
    // the ≤0.35 budget the LSH sizing is graded against.
    val candCell =
      try {
        val emb = graft.Tables.embeddings(spark, benchSfDir)
        val n = emb.count()
        val nProbes = emb.where(org.apache.spark.sql.functions.col("vec_id") < 10).count()
        val cands = Similarity.q23cCandidates(spark, benchSfDir).count()
        val fracOfBrute =
          if (n <= 1 || nProbes == 0) 0.0
          else cands.toDouble / (nProbes.toDouble * (n - 1))
        f""""q23c_candidates":{"n":$cands,"frac_of_brute":$fracOfBrute%.4f}"""
      } catch { case e: Throwable =>
        s""""q23c_candidates":{"error":"${e.getClass.getSimpleName}"}""" }
    val cells = Seq(
      candCell,
      cell("q23c_lsh_topk", frac(exactTop, Similarity.q23c.fn(spark, benchSfDir), topKeys)),
      cell("q23d_lsh_pairs", frac(exactPairs, Similarity.q23d.fn(spark, benchSfDir), pairKeys)),
      cell("q23e_ivf_topk", frac(exactTop, Similarity.q23e.fn(spark, benchSfDir), topKeys)),
      cell("q23f_pq_topk", frac(exactTop, Similarity.q23f.fn(spark, benchSfDir), topKeys)))
    val sf = new java.io.File(benchSfDir).getName
    s"""{"metric":"ann_recall","sf":"$sf",${cells.mkString(",")}}"""
  }

  /** Total bytes crossing exchanges (task-level shuffle WRITE sum) for
    * one run of each named query — the scale-killer metric (r8 verdict
    * item 4): a refactor that lets a wide payload (shingle arrays,
    * embeddings, full text) ride through a shuffle multiplies this
    * number long before wall-clock shows it on a laptop-scale corpus.
    * Shuffle write is the right side to sum: it counts each exchange
    * once and excludes broadcasts (which the plan audit bounds
    * separately). Each query runs through the noop sink under
    * [[QueryMetrics.measure]]; -1 marks a query that threw.
    */
  def shuffleBytes(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
      : Seq[(String, Long)] = {
    val qm = QueryMetrics.install(spark)
    try queries.map { case (name, fn) =>
      name -> qm.measure(spark, name) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }.fold(-1L)(_.shuffleBytes)
    } finally spark.sparkContext.removeSparkListener(qm)
  }

  /** One JSON metric line: per-sf doc counts and candidate counts. */
  def run(spark: SparkSession, benchSfDir: String): String = {
    val entries = sfDirs(benchSfDir).map { d =>
      val name = new java.io.File(d).getName
      // Per-entry guard: one bad sibling dir (e.g. an sf without the
      // documents table) must not cost the line its other measurements.
      try {
        val docs = Dedup.cappedShingleDocs(spark, d)
        try {
          val nDocs = docs.count()
          val jac = Dedup.jaccardCandidates(docs, 0.5).count()
          val mh = Dedup.minhashCandidates(docs, numHashes = 32, bands = 8).count()
          // allpairs = the n(n-1)/2 baseline a naive all-pairs join would
          // verify; cands/allpairs is the fraction the filters let through.
          s""""$name":{"docs":$nDocs,"allpairs":${nDocs * (nDocs - 1) / 2},""" +
            s""""jaccard_cands":$jac,"minhash_cands":$mh}"""
        } finally docs.unpersist()
      } catch {
        case e: Throwable => s""""$name":{"error":"${e.getClass.getSimpleName}"}"""
      }
    }
    s"""{"metric":"scale_candidates","sfs":${entries.mkString("{", ",", "}")}}"""
  }
}
