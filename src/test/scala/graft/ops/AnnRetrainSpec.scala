package graft.ops

import graft.SparkTestBase
import graft.io.Scratch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The retrain trigger (r10 verdict item 5; ported to the composed f4
  * lifecycle in r15 when the f3 serve quarantine was deleted):
  * compaction never retrains,
  * so heavy upsert churn must SURFACE as a drift signal, and acting on
  * it must recover recall. Scenario: corpus A = 16 tight clusters (the
  * index trains on it); corpus B = the same ids fully upserted into
  * clusters RE-CENTERED BETWEEN the trained centroids — the structural
  * drift that hurts IVF serving, because each drifted cluster's members
  * split across a centroid boundary. Pins:
  *
  *   1. retrainCheck(A-index, A) stays under the threshold (no false
  *      trigger on an undrifted corpus);
  *   2. retrainCheck(A-index, B) crosses it (rebuild recommended);
  *   3. serving B through the stale index degrades recall vs the exact
  *      truth, and rebuilding on B recovers it — measured at nprobe=1,
  *      where the boundary-split effect is sharpest (at production
  *      nprobe the same split costs extra probed lists instead).
  *
  * BASELINE.md §C12 records the measured price of each branch.
  */
class AnnRetrainSpec extends SparkTestBase {

  private val Dim = 64
  private val N = 200L

  private val root: String = {
    val f = Scratch.fresh("ann-retrain")
    new java.io.File(f).mkdirs(): Unit
    f
  }

  private def unit(v: Array[Double]): Seq[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n).toSeq
  }

  private def clusterDir(c: Int): Array[Double] =
    Array.tabulate(Dim)(j => math.sin(c * 97.0 + j * 13.0))

  /** Per-id noise, UNCORRELATED across ids (seeded PRNG, not a shared
    * sinusoid): phase-correlated noise puts a probe's nearest neighbors
    * on the probe's own side of every routing boundary, hiding the
    * split this spec exists to measure (the first cut did exactly
    * that — recallStale 0.98 with all copies boundary-split).
    */
  private def noise(id: Long, salt: Long): Array[Double] = {
    val rng = new scala.util.Random(id * 2654435761L + salt)
    Array.fill(Dim)(rng.nextGaussian() * 0.35)
  }

  /** A: tight clusters on 16 deterministic directions. */
  private def vecA(id: Long): Seq[Double] = {
    val d = clusterDir((id % 16).toInt)
    val nz = noise(id, 7L)
    unit(Array.tabulate(Dim)(j => d(j) + nz(j)))
  }

  /** B: every id upserted; clusters re-centered midway between
    * consecutive TRAINED centroids — exactly on the index's routing
    * boundaries, so each drifted cluster's stored copies split across
    * two inverted lists (built from the ACTUAL routing table: assuming
    * the trainer converged to the synthetic directions would miss the
    * boundaries whenever seeding merged clusters — it did, and the
    * first cut of this spec measured recallStale = 1.0).
    */
  private def vecBFrom(cents: IndexedSeq[Seq[Double]])(id: Long): Seq[Double] = {
    val c = (id % 16).toInt
    val d1 = unit(cents(c).toArray)
    val d2 = unit(cents((c + 1) % 16).toArray)
    val nz = noise(id, 13L)
    unit(Array.tabulate(Dim)(j => d1(j) + d2(j) + 0.1 * nz(j)))
  }

  private def frame(f: Long => Seq[Double]): DataFrame = {
    import spark.implicits._
    (0L until N).map(id => (id, f(id), (id % 10).toInt)).toDF("vec_id", "e", "label")
  }

  private lazy val frameA: DataFrame = frame(vecA)
  private lazy val dirA: String = IvfPq.buildFrom(spark, frameA, s"$root/a")
  private lazy val vecB: Long => Seq[Double] =
    vecBFrom(AnnIndex.readCentroids(spark, dirA).sortBy(_._1).map(_._2).toIndexedSeq)
  private lazy val frameB: DataFrame = frame(vecB)

  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private val probeIds: Seq[Long] = (0L until N by 19L).take(10)

  /** Exact top-k over corpus `f` for each probe (ties to smallest id —
    * the serve path's ordering).
    */
  private def exactTopk(f: Long => Seq[Double]): Map[Long, Set[Long]] =
    probeIds.map { pid =>
      val pe = f(pid)
      pid -> (0L until N)
        .map(id => (-cosine(pe, f(id)), id)).sorted.take(AnnIndex.TopK)
        .map(_._2).toSet
    }.toMap

  private def probes(f: Long => Seq[Double]): DataFrame = {
    import spark.implicits._
    probeIds.map(id => (id + 1000000L, f(id))).toDF("pid", "pe")
  }

  private def recall(res: DataFrame, exact: Map[Long, Set[Long]]): Double = {
    val served = res.select("probe_id", "nbr_id").collect()
      .map(r => (r.getLong(0) - 1000000L, r.getLong(1)))
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).toSet }
    probeIds.map(p =>
      (served.getOrElse(p, Set.empty) & exact(p)).size.toDouble / AnnIndex.TopK
    ).sum / probeIds.size
  }

  test("undrifted corpus stays under the retrain threshold") {
    val rep = AnnIndex.retrainCheck(spark, dirA, frameA)
    info(f"undrifted meanRelDrift=${rep.meanRelDrift}%.4f")
    assert(rep.meanRelDrift < AnnIndex.RetrainDriftThreshold,
      f"false trigger: ${rep.meanRelDrift}%.4f")
    assert(!rep.recommend)
  }

  test("full-churn drift crosses the threshold; rebuild recovers the recall it cost") {
    // Serve the fully-upserted corpus through the STALE index: B lands
    // as a replacement segment assigned against A's centroids, a
    // tombstone masks every A copy (boundary 1 — the upsert rule).
    val segB = IvfPq.appendSegment(spark, dirA, frameB, s"$root/bseg")
    val tsDir = AnnIndex.tombstonesFor(spark, dirA,
      frameA.select(col("vec_id"), col("e")), s"$root/bts")
    val exactB = exactTopk(vecB)
    val stale = IvfPq.probeSegments(spark, Seq(dirA, segB), probes(vecB),
      Seq(spark.read.parquet(s"$tsDir/tombstones").select(col("vec_id")) -> 1),
      nprobeOverride = Some(1))
    val recallStale = recall(stale, exactB)
    // The drift monitor fires on exactly this state...
    val rep = AnnIndex.retrainCheck(spark, dirA, frameB)
    info(f"drifted meanRelDrift=${rep.meanRelDrift}%.4f recallStale=$recallStale%.3f")
    assert(rep.meanRelDrift > AnnIndex.RetrainDriftThreshold,
      f"drift ${rep.meanRelDrift}%.4f did not cross the threshold")
    assert(rep.recommend)
    // ...and acting on it recovers the recall the drift cost.
    val dirB = IvfPq.buildFrom(spark, frameB, s"$root/b")
    val fresh = IvfPq.probeSegments(spark, Seq(dirB), probes(vecB),
      nprobeOverride = Some(1))
    val recallFresh = recall(fresh, exactB)
    info(f"recallFresh=$recallFresh%.3f")
    assert(recallStale <= 0.85,
      f"stale-index recall $recallStale%.3f — drift scenario did not degrade serving")
    assert(recallFresh >= 0.90,
      f"rebuilt-index recall $recallFresh%.3f below the recovery floor")
    assert(recallFresh - recallStale >= 0.10,
      f"rebuild recovered only $recallStale%.3f -> $recallFresh%.3f")
  }

  test("maintain() on an undrifted state compacts only: no retrain, centroids unchanged") {
    // A benign delta in A's own distribution: fresh ids joining the
    // same clusters the index was trained on.
    val delta = frame(vecA).withColumn("vec_id", col("vec_id") + lit(N))
    val segDir = IvfPq.appendSegment(spark, dirA, delta, s"$root/mseg")
    val r = IvfPq.maintain(spark, dirA, Seq(segDir), Nil, s"$root/mcalm")
    info(f"undrifted maintain meanRelDrift=${r.report.meanRelDrift}%.4f")
    assert(!r.retrained && !r.report.recommend,
      f"benign append must not retrain (drift ${r.report.meanRelDrift}%.4f)")
    // The fold IS the published result, holds everything, and the
    // routing table carried over byte-identically (nothing retrained).
    assert(spark.read.parquet(s"${r.dir}/ivfpq_lists").count() === 2 * N,
      "undrifted maintain lost rows in the fold")
    assert(AnnIndex.readCentroids(spark, r.dir).sortBy(_._1)
      === AnnIndex.readCentroids(spark, dirA).sortBy(_._1),
      "undrifted maintain must not touch the routing table")
  }

  test("maintain() on full-churn upsert state retrains and recovers serve recall") {
    val segB = IvfPq.appendSegment(spark, dirA, frameB, s"$root/m2seg")
    val ts = AnnIndex.tombstonesFor(spark, dirA,
      frameA.select(col("vec_id"), col("e")), s"$root/m2ts")
    val tsDf = spark.read.parquet(s"$ts/tombstones")
    val r = IvfPq.maintain(spark, dirA, Seq(segB), Seq(tsDf -> 1), s"$root/mchurn")
    info(f"churned maintain meanRelDrift=${r.report.meanRelDrift}%.4f retrained=${r.retrained}")
    assert(r.retrained && r.report.recommend,
      f"full churn must retrain (drift ${r.report.meanRelDrift}%.4f)")
    // The published CURRENT is the rebuild; serving it at the sharp
    // nprobe=1 setting hits the recovery floor of the manual path.
    val served = IvfPq.probeSegments(spark, Seq(r.dir), probes(vecB),
      nprobeOverride = Some(1))
    val rec = recall(served, exactTopk(vecB))
    info(f"maintained recall=$rec%.3f")
    assert(rec >= 0.90, f"maintained-index recall $rec%.3f below the recovery floor")
    assert(spark.read.parquet(s"${r.dir}/ivfpq_lists").count() === N,
      "churned maintain must hold exactly the live (replaced) copies")
  }

  test("a live reader never observes a retired or incomplete version across " +
      "maintain's double flip, nor under two concurrent maintains") {
    // r11 verdict item 4: version ALLOCATION was concurrent-writer-safe,
    // but nothing raced a reader loop against maintain()'s fold-then-
    // retrain double publish (two CURRENT flips in quick succession) or
    // two concurrent maintain() calls on one root. Under the default
    // retirement grace nothing a reader can resolve is deleted inside
    // the grace window, whatever the flip cadence — this pins that
    // closure live: the reader resolves CURRENT from disk each
    // iteration (no builder cache) and validates the resolved version's
    // artifacts end-to-end while four flips land.
    assert(AnnIndex.RetireGraceMs > 0L,
      "this race closure depends on a positive default retirement grace")
    val mroot = s"$root/race"
    val base = IvfPq.buildFrom(spark, frameA, mroot)
    val segB = IvfPq.appendSegment(spark, base, frameB, s"$root/raceseg")
    val ts = AnnIndex.tombstonesFor(spark, base,
      frameA.select(col("vec_id"), col("e")), s"$root/racets")
    val tsDf = spark.read.parquet(s"$ts/tombstones")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val resolutions = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          AnnIndex.resolveVersion(mroot) match {
            case Some(dir) =>
              assert(spark.read.parquet(s"$dir/ivf_centroids").count() === AnnIndex.K.toLong)
              assert(spark.read.parquet(s"$dir/ivfpq_lists").count() > 0L)
              resolutions.incrementAndGet(): Unit
            case None =>
              failures.add(new AssertionError(
                "CURRENT resolved to no complete version mid-maintain")): Unit
          }
        } catch { case t: Throwable => failures.add(t): Unit }
      }
    })
    reader.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val results = try {
      (0 until 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[AnnIndex.MaintainResult] {
          def call(): AnnIndex.MaintainResult =
            IvfPq.maintain(spark, base, Seq(segB), Seq(tsDf -> 1), mroot)
        })
      }.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      pool.shutdown()
      stop.set(true)
      reader.join(60000)
    }
    assert(failures.isEmpty,
      s"reader failed across maintain flips: ${failures.peek()}")
    assert(resolutions.get() > 0, "reader never resolved a version while maintains ran")
    // Both concurrent maintains completed, both retrained (full churn),
    // and every version either maintain published — the folds AND the
    // rebuilds — still exists complete: retirement's grace kept all
    // four flips' predecessors alive for in-flight readers.
    assert(results.forall(_.retrained), "full-churn maintain must retrain")
    results.foreach { r =>
      assert(new java.io.File(r.dir, "_SUCCESS").exists(),
        s"published version ${r.dir} was retired inside the grace window")
    }
    // The reader's final resolution is one of the two rebuilds.
    assert(results.map(_.dir).contains(AnnIndex.resolveVersion(mroot).get))
  }
}
