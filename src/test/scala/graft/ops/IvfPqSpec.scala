package graft.ops

import graft.SparkTestBase
import graft.io.Scratch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed IVF+PQ index (format f4, r12 verdict item 1): recall
  * floor at the bench scale factor, the two plan facts that make it the
  * at-scale shape (ADC touches ONLY probed lists, and reads ONLY code
  * columns — the raw-vector pages stay off the scoring scan), filtered
  * serving purity, and the LSM lifecycle composition (append → masked
  * serve → delete-aware compact → maintain) over explicit frames.
  */
class IvfPqSpec extends SparkTestBase {

  private val benchSf = "/root/testdata/sf0.1"

  private def topkSet(df: DataFrame): Set[(Long, Long)] =
    df.select("probe_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("q134 composed IVF+PQ recall >= 0.80 at sf0.1 (residual encoding saturates the nprobe=8 routing ceiling)") {
    // r15 (BASELINE.md §C16): IVFADC residual codes are recall-
    // lossless vs exact-within-routed-lists at this scale — the serve
    // sits ON the routing ceiling (measured 0.840 at nprobe=8). The
    // floor leaves seed-luck margin but fails any de-tune: a dropped
    // residual bias, a raw-space codebook, or a narrowed nprobe all land
    // well below 0.80.
    val exact = topkSet(Similarity.q23.fn(spark, benchSf))
    val approx = topkSet(IvfPq.probe(spark, benchSf))
    val r = (exact & approx).size.toDouble / exact.size
    info(f"q134 composed recall $r%.3f (sealed 0.84)")
    assert(r >= 0.80, f"composed IVF+PQ recall regressed to $r%.3f (floor 0.80)")
  }

  test("q111 encrypted serve returns q134's neighbours and holds q134's recall floor at sf0.1") {
    // q111 serves the PME-encrypted build of the same corpus. The
    // trainers are deterministic and encryption changes no stored
    // value, so not a single (probe, neighbour) pair may differ from the
    // plaintext q134 serve; the floor is q134's.
    val exact = topkSet(Similarity.q23.fn(spark, benchSf))
    val plain = topkSet(IvfPq.q134.fn(spark, benchSf))
    val approx = topkSet(IvfPq.q111.fn(spark, benchSf))
    assert(approx == plain,
      s"encrypted serve diverged from q134: ${(approx diff plain).toSeq.sorted.take(5)} " +
        s"vs ${(plain diff approx).toSeq.sorted.take(5)}")
    val r = (exact & approx).size.toDouble / exact.size
    info(f"q111 encrypted-serve recall $r%.3f")
    assert(r >= 0.80, f"encrypted composed serve recall $r%.3f (floor 0.80)")
  }

  /** Per-FileScan (partition-pruned?, ReadSchema) facts for the composed
    * lists in a plan string.
    */
  private def listScans(plan: String): Seq[(Boolean, String)] =
    plan.split("FileScan").toSeq.filter(_.contains("ivfpq_lists")).map { seg =>
      val pruned = seg.contains("PartitionFilters: [cid")
      val schema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(seg)
        .map(_.group(1)).getOrElse("")
      (pruned, schema)
    }

  test("q134 plan: ADC scans only probed lists' CODE columns; refine scans only their vectors") {
    IvfPq.build(spark, sfDir)
    val plan = IvfPq.probe(spark, sfDir).queryExecution.executedPlan.toString
    val scans = listScans(plan)
    assert(scans.size == 2, s"expected exactly two composed-list scans:\n$plan")
    // Stage 2 (ADC): codes+qnorm, NO raw vectors — parquet column pruning
    // is what makes the scoring scan 32x cheaper than f3's.
    val adc = scans.filter { case (_, sch) =>
      sch.contains("codes") && !sch.contains("e:") }
    assert(adc.size == 1, s"ADC scan must read codes and never e:\n$plan")
    assert(adc.head._1, s"ADC scan lost its static cid partition pruning:\n$plan")
    // Stage 3 (refine): vectors, NO codes.
    val refine = scans.filter { case (_, sch) =>
      sch.contains("e:") && !sch.contains("codes") }
    assert(refine.size == 1, s"refine scan must read e and never codes:\n$plan")
    assert(refine.head._1, s"refine scan lost its cid partition pruning:\n$plan")
    // No third corpus-sized input: candidates and refine both come from
    // the index artifact, never the raw embeddings table.
    assert(!plan.contains("embeddings.parquet"),
      s"composed serve must not scan the corpus:\n$plan")
  }

  test("filtered composed probe: predicate purity, full surface, pushed filter") {
    IvfPq.build(spark, sfDir)
    val df = IvfPq.probeFiltered(spark, sfDir, col("label") === 7)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(label,7)"),
      s"attribute pre-filter must push into the codes scan:\n$plan")
    val rows = df.collect()
    val probes = AnnIndex.defaultProbes(spark, sfDir).count()
    assert(rows.length == probes * AnnIndex.TopK,
      s"filtered surface under-filled: ${rows.length} rows for $probes probes")
    val label7: Set[Long] = AnnIndex.corpus(spark, sfDir)
      .filter(col("label") === 7).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => label7.contains(r.getLong(r.fieldIndex("nbr_id")))),
      "a neighbor escaped the label predicate")
  }

  // ---- the serve's two branches ------------------------------------------
  //
  // probeSegments picks its branch by probe count; the parity pins call
  // the branch builders directly so both branches see the same frame.

  private def rowSeq(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sorted

  private def bounded(roots: Seq[String], probes: DataFrame,
      tss: Seq[(DataFrame, Int)] = Nil, attrFilter: Option[Column] = None): DataFrame =
    IvfPq.probeBounded(spark, roots, AnnIndex.collectProbes(probes), tss, attrFilter)

  test("distributed composed serve ≡ collected, incl. duplicate probe ids; 10k frame full-surface with no driver collect") {
    IvfPq.build(spark, sfDir)
    val base = AnnIndex.corpus(spark, sfDir).select(col("vec_id"), col("e"))
    // Parity frame (within MaxProbes, so the bounded branch can take
    // it): every corpus vector once, plus 20 DUPLICATE-pid rows — each
    // probe ROW must get its own full top-k on both branches (the r12
    // ordinal rule).
    val parityProbes = base.unionAll(base.filter(col("vec_id") < 20))
    assert(rowSeq(IvfPq.probeUnbounded(spark,
        Seq(IvfPq.build(spark, sfDir)), parityProbes))
      == rowSeq(bounded(Seq(IvfPq.build(spark, sfDir)), parityProbes)),
      "distributed and collected composed serving disagree")
    // Reindex-scale frame: beyond MaxProbes by construction, so
    // probeSegments serves it on the unbounded branch — a DataFrame
    // end-to-end (no LocalTableScan anywhere in the plan — the bounded
    // branch's probes materialize as one).
    val reps = 21
    val big = base
      .crossJoin(broadcast(spark.range(reps.toLong).toDF("r")))
      .select(((col("r") + 1) * lit(10000000L) + col("vec_id")).as("pid"),
        col("e").as("pe"))
    val n = big.count()
    assert(n >= 10000L, "fixture must be a >=10k probe frame")
    val dist = IvfPq.probeSegments(spark, Seq(IvfPq.build(spark, sfDir)), big)
    val plan = dist.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"),
      s"distributed composed serve materialized probes on the driver:\n$plan")
    // The routed side must pass through an exchange BELOW the scoring
    // join: whole-stage codegen defers streamed-side expression
    // evaluation into a broadcast join's match loop, so without this
    // materialization the O(M·K·sub) LUT is recomputed per CANDIDATE
    // row (measured 3× the serve's wall). The unbounded branch's
    // repartition(cid) is that barrier — pin it so a refactor
    // can't silently drop it.
    assert("Exchange hashpartitioning\\(cid".r.findFirstIn(plan).isDefined,
      s"the LUT-materializing cid exchange vanished from the routed side:\n$plan")
    assert(dist.count() == n * AnnIndex.TopK,
      "distributed composed serve lost surface at 10k probes")
  }

  test("a probe frame past MaxProbes with duplicate pids is served in full through probeSegments") {
    // The sf0.01 corpus three times over: 1,500 rows, every pid three
    // times. Past MaxProbes, so the entry point takes the unbounded
    // branch; every probe ROW still gets its own ranks 1..TopK.
    val d = s"${new java.io.File(sfDir).getParent}/sf0.01"
    val base = AnnIndex.corpus(spark, d).select(col("vec_id"), col("e"))
    val probes = base.unionAll(base).unionAll(base)
    val n = probes.count()
    assert(n == 1500L && n > AnnIndex.MaxProbes, s"fixture has $n rows")
    val served = IvfPq.probeSegments(spark, Seq(IvfPq.build(spark, d)), probes)
      .select("probe_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(served.length == n * AnnIndex.TopK,
      s"${served.length} rows for $n probe rows")
    val ranks = (1L to AnnIndex.TopK.toLong).flatMap(Seq.fill(3)(_))
    val bad = served.groupBy(_._1).collect {
      case (pid, rs) if rs.map(_._2).toSeq.sorted != ranks => pid
    }
    assert(bad.isEmpty, s"probe ids without ranks 1..TopK per row: ${bad.take(5)}")
  }

  test("distributed composed LSM serve ≡ collected: masks, boundaries and filters compose") {
    val root = Scratch.fresh("ivfpq-distlsm")
    val base = IvfPq.buildFrom(spark, vecsDf(0L until 200L), s"$root/idx")
    val seg = IvfPq.appendSegment(spark, base, vecsDf(200L until 260L), s"$root/seg")
    // Tombstone masking only the base (boundary 1 — the upsert shape).
    val victims = vecsDf((0L until 200L).filter(_ % 7 == 0))
      .select(col("vec_id"), col("e"))
    val tsDir = AnnIndex.tombstonesFor(spark, base, victims, s"$root/ts")
    val ts = spark.read.parquet(s"$tsDir/tombstones")
    val probeDf = vecsDf(0L until 30L).select("vec_id", "e")
    for (f <- Seq(None, Some(col("label") === 3))) {
      val collected = rowSeq(bounded(Seq(base, seg), probeDf, Seq(ts -> 1), f))
      val dist = rowSeq(IvfPq.probeUnbounded(spark, Seq(base, seg),
        probeDf, Seq(ts -> 1), attrFilter = f))
      assert(dist == collected,
        s"distributed composed LSM serve diverged from segment serve (filter=$f)")
    }
  }

  // ---- lifecycle over explicit frames ----------------------------------

  private def vecsDf(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i =>
      (i, (0 until 64).map(j => math.cos(i * 13 + j * 3)), (i % 10).toInt))
      .toDF("vec_id", "e", "label")
  }

  test("lifecycle: append -> masked serve -> delete-aware compact conserve the corpus") {
    val root = Scratch.fresh("ivfpq-lifecycle")
    val prevGrace = AnnIndex.RetireGraceMs
    AnnIndex.RetireGraceMs = 0L
    try {
      val base = IvfPq.buildFrom(spark, vecsDf(0L until 300L), s"$root/base")
      assert(spark.read.parquet(s"$base/ivfpq_lists").count() == 300)
      // Append a composed delta segment against the frozen base.
      val seg = IvfPq.appendSegment(spark, base, vecsDf(300L until 330L), s"$root/seg")
      assert(spark.read.parquet(s"$seg/ivfpq_lists").count() == 30)
      // Trained artifacts frozen: the segment carries lists only.
      assert(!new java.io.File(s"$seg/ivf_centroids").exists())
      // Serve across base+segment: neighbors from BOTH segments reachable.
      val probes = vecsDf(Seq(305L)).select(col("vec_id").as("pid"), col("e").as("pe"))
      val served = IvfPq.probeSegments(spark, Seq(base, seg), probes)
      val nbrs = served.collect().map(_.getLong(1)).toSet
      assert(served.count() == AnnIndex.TopK)
      // Tombstone three base victims; masked serve never returns them.
      val victims = vecsDf(Seq(5L, 6L, 7L))
      val tsDir = AnnIndex.tombstonesFor(spark, base, victims, s"$root/ts")
      val ts = spark.read.parquet(s"$tsDir/tombstones")
      val maskedProbe = vecsDf(Seq(6L))
        .select((col("vec_id") + 1000000L).as("pid"), col("e").as("pe"))
      val masked = IvfPq.probeSegments(spark, Seq(base, seg), maskedProbe,
        tss = Seq(ts -> Int.MaxValue))
      val maskedNbrs = masked.collect().map(_.getLong(1)).toSet
      assert(masked.count() == AnnIndex.TopK, "masked serve under-filled")
      assert((maskedNbrs & Set(5L, 6L, 7L)).isEmpty,
        s"a tombstoned vector surfaced: $maskedNbrs")
      // Delete-aware compaction folds physically: exact census, no ghosts.
      val folded = IvfPq.compactSegments(spark, base, Seq(seg),
        Seq(ts -> Int.MaxValue), s"$root/fold")
      val lists = spark.read.parquet(s"$folded/ivfpq_lists")
      assert(lists.count() == 300 + 30 - 3)
      assert(lists.filter(col("vec_id").isin(5L, 6L, 7L)).count() == 0,
        "a deleted vector survived compaction physically")
      // Trained artifacts carried over unchanged.
      assert(spark.read.parquet(s"$folded/ivf_centroids").count() == AnnIndex.K)
      assert(spark.read.parquet(s"$folded/pq_codebook").count()
        == AnnIndex.Mpq * AnnIndex.Kpq)
      // Serving the fold == serving the masked segment state, row for row.
      val foldServe = IvfPq.probeSegments(spark, Seq(folded), maskedProbe)
      def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
        df.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sorted
      assert(rows(foldServe) == rows(masked),
        "compacted serve diverged from the masked segment serve")
      assert(nbrs.nonEmpty)
    } finally AnnIndex.RetireGraceMs = prevGrace
  }

  test("distributed composed serve at k=1024 ≡ collected (aggregate routing + broadcast residual-bias branches)") {
    // Past LiteralAssignMaxK both branches switch: routing joins
    // the broadcast centroid table instead of baking a literal map, and
    // the per-(probe,cid) residual ADC bias comes through a broadcast
    // join instead of a literal element_at. This is the
    // k=sqrt(n) posture's serve shape, end-to-end over real written
    // artifacts; the probe frame carries a shuffle in its lineage (the
    // recomputed-ordinal misjoin shape r12 caught). Pin = EQUALITY.
    import spark.implicits._
    val root = Scratch.fresh("ivfpq-distk1024")
    val k = 1024
    val cs: Seq[(Int, Seq[Double])] =
      (1 to k).map(c => c -> (0 until 64).map(j => math.sin(c * 31 + j * 7)))
    val corpus = vecsDf(0L until 3000L)
    val assigned = AnnIndex.joinAssignCids(corpus, cs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val resid = AnnIndex.residualFrame(assigned, cs)
      val cb = AnnIndex.trainPqCodebook(spark, resid, AnnIndex.pqSliced(resid))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val enc = AnnIndex.pqEncodeResidual(
          assigned.select(col("vec_id"), col("e"), col("cid")), cs, cb)
        assigned.join(enc, Seq("vec_id"))
          .select(col("cid"), col("vec_id"), col("label"), col("codes"),
            col("qnorm"), col("e"))
          .repartition(col("cid"))
          .write.partitionBy("cid").parquet(s"$root/ivfpq_lists")
        cs.toDF("cid", "ce").coalesce(1).write.parquet(s"$root/ivf_centroids")
        cb.coalesce(1).write.parquet(s"$root/pq_codebook")
      } finally cb.unpersist(): Unit
    } finally assigned.unpersist(): Unit
    val probes = vecsDf(0L until 40L).repartition(3)
      .select(col("vec_id").as("pid"), col("e").as("pe"))
    def rows(df: DataFrame): Set[(Long, Long, Long, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val collected = rows(bounded(Seq(root), probes))
    val dist = rows(IvfPq.probeUnbounded(spark, Seq(root), probes))
    assert(collected.size >= 30 * AnnIndex.TopK,
      s"fixture starved the surface (${collected.size} rows)")
    assert(dist == collected,
      "distributed k=1024 composed serve diverged from the collected serve")
  }

  test("maintain on an undrifted composed state folds without retraining") {
    val root = Scratch.fresh("ivfpq-maintain")
    val prevGrace = AnnIndex.RetireGraceMs
    AnnIndex.RetireGraceMs = 0L
    try {
      val base = IvfPq.buildFrom(spark, vecsDf(0L until 200L), s"$root/base")
      val seg = IvfPq.appendSegment(spark, base, vecsDf(200L until 220L), s"$root/seg")
      val res = IvfPq.maintain(spark, base, Seq(seg), Nil, s"$root/out")
      assert(!res.retrained,
        f"undrifted fold recommended a retrain (drift ${res.report.meanRelDrift}%.3f)")
      assert(res.report.meanRelDrift < AnnIndex.RetrainDriftThreshold)
      assert(spark.read.parquet(s"${res.dir}/ivfpq_lists").count() == 220)
      // The published fold is CURRENT for its root.
      assert(AnnIndex.resolveVersion(s"$root/out").contains(res.dir))
    } finally AnnIndex.RetireGraceMs = prevGrace
  }
}
