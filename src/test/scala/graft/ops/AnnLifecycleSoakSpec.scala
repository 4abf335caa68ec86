package graft.ops

import graft.SparkTestBase
import graft.io.Scratch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ANN lifecycle soak (r10 verdict item 3; f3 arm deleted with the
  * quarantine in r15 — this is now the COMPOSED f4 soak): random
  * sequences of {append, delete, upsert, stream+in-stream-delete,
  * compact, maintain} against one shared base index, checking after
  * every step — artifact read-back, marker presence — and at every
  * fold/serve: exact conservation (every live id once, no ghost, no
  * dup), the LSM sequencing rule (a tombstone masks only segments
  * older than itself), top-1 self-recovery at cosine 1.0 (the freshest
  * copy is served), a full top-k surface, and the DISTRIBUTED composed
  * serve row-for-row equal to the collected serve on every generated
  * masked multi-segment state.
  *
  * Every composition bug found so far was caught by a hand-enumerated
  * case; this property covers the interleavings nobody enumerated.
  * Historical catches (on the since-deleted f3 arm, whose fold/mask
  * core the f4 path shares): id-blind tombstone masking (r10),
  * positional union after a using-column anti-join (r10), the no-data
  * micro-batch publishing a fileless marked-complete segment (first
  * run of this property — the fix lives in the shared
  * streamIngestCore), and the r14 lazy-localCheckpoint AB-BA deadlock
  * in the distributed serve (caught by this suite's extended f4 soak).
  * The stale-`_COMPLETE`-on-replay hazard (e4ae495) is pinned by the
  * idempotent-replay spec in IvfPqStreamSpec; ingest segments here go
  * through the same `streamIngestCore` body.
  */
class AnnLifecycleSoakSpec extends SparkTestBase {

  private val Dim = 64

  private val soakRoot: java.io.File = {
    val f = new java.io.File(Scratch.fresh("ann-soak"))
    f.mkdirs(): Unit
    f
  }

  private val runIds = new java.util.concurrent.atomic.AtomicLong()

  /** Deterministic vector for (id, version): upserts bump the version,
    * so the model can always reproduce both the stored ("old") and the
    * replacement embedding of any id.
    */
  private def vec(id: Long, ver: Int): Seq[Double] =
    (0 until Dim).map(j => math.sin(id * 31.0 + ver * 131.0 + j * 17.0))

  private def frame(ids: Seq[(Long, Int)]): DataFrame = {
    import spark.implicits._
    ids.map { case (id, ver) => (id, vec(id, ver), (id % 10).toInt) }
      .toDF("vec_id", "e", "label")
  }

  private val baseIds: Seq[Long] = 0L until 64L

  sealed trait Op
  case class Append(n: Int) extends Op
  /** f4 only: auto-maintained stream-ingest with a DELETE enqueued
    * mid-stream through [[IvfPq.enqueueTombstones]] (r13 verdict item
    * 4) — files=1 leaves the tombstone pending (masked by the live
    * view), files≥2 lets the next fold consume it physically; both
    * paths must conserve.
    */
  case class IngestDelete(n: Int, files: Int, delSeed: Int) extends Op
  case class Delete(seed: Int, n: Int) extends Op
  case class Upsert(seed: Int, n: Int) extends Op
  case object Fold extends Op
  case object Maintain extends Op

  /** Model + disk state: `live` maps each live id to its current
    * version; segs/tss mirror the on-disk segment roots and (tombstone
    * dir, recency boundary) masks, base-first oldest-to-newest.
    */
  private case class St(base: String, segs: Vector[String],
      tss: Vector[(String, Int)], live: Map[Long, Int], nextId: Long)

  private def pick(live: Map[Long, Int], seed: Int, n: Int): Seq[Long] = {
    val ids = live.keys.toSeq.sorted
    if (ids.isEmpty) Nil
    else (0 until math.min(n, ids.size)).map(i => ids((seed + i * 7) % ids.size)).distinct
  }

  private def readIds(dir: String): Seq[Long] =
    spark.read.parquet(dir).select("vec_id").collect().map(_.getLong(0)).toSeq

  private def assertServed(res: Array[org.apache.spark.sql.Row], st: St,
      nProbes: Int, what: String): Unit = {
    assert(res.length == nProbes * AnnIndex.TopK,
      s"$what: surface under-filled (${res.length} rows for $nProbes probes)")
    res.filter(_.getLong(2) == 1L).foreach { r =>
      val pid = r.getLong(0); val nbr = r.getLong(1); val cos = r.getDouble(3)
      assert(nbr == pid - 1000000L && cos == 1.0,
        s"$what: probe $pid top-1 ($nbr, $cos) — stale copy served or fresh copy lost")
    }
    val ghosts = res.map(_.getLong(1)).filterNot(st.live.keySet)
    assert(ghosts.isEmpty, s"$what: served deleted ids ${ghosts.toSeq.distinct.take(5)}")
    val dups = res.groupBy(r => (r.getLong(0), r.getLong(1))).filter(_._2.size > 1)
    assert(dups.isEmpty, s"$what: duplicate neighbors ${dups.keys.take(5)}")
  }

  private def check(prop: Prop, n: Int, workers: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(n)
        .withWorkers(workers)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)),
      prop)
    assert(res.passed, s"soak property failed: ${res.status}")
  }

  // ---- format f4 (composed IVF+PQ) soak ----------------------------------
  //
  // The same model and invariants against the composed artifact's
  // lifecycle (IvfPq.appendSegment/compactSegments/maintain over ONE
  // cid-partitioned table): the hand-enumerated f4 pins live in
  // IvfPqSpec; this property covers the random interleavings, with the
  // DISTRIBUTED composed serve cross-checked row-for-row against the
  // collected serve on every generated masked multi-segment state.

  private lazy val baseDirF4: String =
    IvfPq.buildFrom(spark, frame(baseIds.map(_ -> 0)), s"$soakRoot/basef4")

  private def tsFrames(st: St): Seq[(DataFrame, Int)] =
    st.tss.map { case (p, b) => spark.read.parquet(s"$p/tombstones") -> b }

  private def conserved(dir: String, st: St, what: String): Unit = {
    val got = readIds(s"$dir/ivfpq_lists")
    assert(got.size == got.distinct.size,
      s"$what duplicated ids: ${got.diff(got.distinct).distinct.take(5)}")
    assert(got.toSet == st.live.keySet,
      s"$what ghosts=${(got.toSet -- st.live.keySet).take(5)} " +
        s"lost=${(st.live.keySet -- got.toSet).take(5)}")
  }

  private def stepF4(st: St, op: Op, root: String, k: Int): St = op match {
    case Append(n) =>
      val ids = st.nextId until st.nextId + n
      val seg = IvfPq.appendSegment(spark, st.base,
        frame(ids.map(_ -> 0)), s"$root/op$k")
      val got = readIds(s"$seg/ivfpq_lists")
      assert(got.sorted == ids.toSeq.sorted, s"f4 append wrote $got, expected $ids")
      St(st.base, st.segs :+ seg, st.tss, st.live ++ ids.map(_ -> 0), st.nextId + n)
    case Delete(seed, n) =>
      val victims = pick(st.live, seed, n)
      if (victims.isEmpty) st
      else {
        val vf = frame(victims.map(id => id -> st.live(id)))
          .select(col("vec_id"), col("e"))
        val ts = AnnIndex.tombstonesFor(spark, st.base, vf, s"$root/op$k")
        assert(readIds(s"$ts/tombstones").sorted == victims.sorted,
          "f4 tombstone read-back mismatch")
        St(st.base, st.segs, st.tss :+ (ts -> (1 + st.segs.size)),
          st.live -- victims, st.nextId)
      }
    case Upsert(seed, n) =>
      val victims = pick(st.live, seed, n)
      if (victims.isEmpty) st
      else {
        val boundary = 1 + st.segs.size
        val ts = AnnIndex.tombstonesFor(spark, st.base,
          frame(victims.map(id => id -> st.live(id)))
            .select(col("vec_id"), col("e")),
          s"$root/op${k}ts")
        val newVers = victims.map(id => id -> (st.live(id) + 1))
        val seg = IvfPq.appendSegment(spark, st.base, frame(newVers),
          s"$root/op${k}seg")
        St(st.base, st.segs :+ seg, st.tss :+ (ts -> boundary),
          st.live ++ newVers, st.nextId)
      }
    case Fold =>
      val dir = IvfPq.compactSegments(spark, st.base, st.segs, tsFrames(st),
        s"$root/op$k")
      conserved(dir, st, "f4 compaction")
      St(dir, Vector.empty, Vector.empty, st.live, st.nextId)
    case Maintain =>
      val r = IvfPq.maintain(spark, st.base, st.segs, tsFrames(st), s"$root/op$k")
      conserved(r.dir, st, s"f4 maintain (retrained=${r.retrained})")
      if (!r.retrained)
        assert(AnnIndex.readCentroids(spark, r.dir).sortBy(_._1)
          == AnnIndex.readCentroids(spark, st.base).sortBy(_._1),
          "un-retrained f4 maintain touched the routing table")
      St(r.dir, Vector.empty, Vector.empty, st.live, st.nextId)
    case IngestDelete(n, files, delSeed) =>
      // Auto-maintained stream-ingest with a mid-stream DELETE (r13
      // verdict item 4). Like f3's IngestMaint, the loop's folds absorb
      // only their own root's bookkeeping, so the accumulated state
      // folds first.
      val st2 = if (st.segs.nonEmpty || st.tss.nonEmpty)
        stepF4(st, Fold, root, 9000 + k) else st
      val ids = st2.nextId until st2.nextId + n
      val victims = pick(st2.live, delSeed, 2)
      val ingestRoot = s"$root/op$k"
      val (b, leftover) = IvfPq.streamIngestWithMaintain(spark, st2.base,
        frame(ids.map(_ -> 0)), ingestRoot, files, every = 1,
        afterBatch = (ss, id) =>
          if (id == 0L && victims.nonEmpty)
            IvfPq.enqueueTombstones(ss, st2.base, ingestRoot,
              frame(victims.map(v => v -> st2.live(v)))): Unit)
      // Reconstruct the live view: pending tombstones (files=1 — no
      // fold ran after the enqueue) keep masking; consumed ones
      // (files>=2) must already be physically dropped from the fold.
      val fold = AnnIndex.resolveVersion(s"$ingestRoot/maint")
      val foldedTs: Set[String] =
        fold.map(AnnIndex.readManifest(_)._2).getOrElse(Set.empty)
      val pend = IvfPq.pendingTombstones(spark, ingestRoot, foldedTs, None)
        .map { t =>
          // A pending tombstone here means no fold ran after its
          // enqueue (files=1), so its recorded base IS the serving
          // base and its covered segments are a prefix of the
          // leftovers — the identity→position translation is direct.
          assert(t.base == b,
            "pending tombstone's base moved without a fold consuming it")
          (s"$ingestRoot/tsq/${t.name}",
            1 + leftover.takeWhile(p => t.segNames
              .contains(new java.io.File(p).getName)).size)
        }
      if (victims.nonEmpty && files >= 2)
        assert(pend.isEmpty,
          s"fold ran after the enqueue but left the tombstone pending")
      St(b, leftover.toVector, pend.toVector,
        st2.live ++ ids.map(_ -> 0) -- victims, st2.nextId + n)
  }

  private def serveCheckF4(st: St, what: String): Unit = {
    val probeIds = pick(st.live, 3, 4)
    assert(st.live.size > AnnIndex.TopK, "f4 soak corpus shrank below the surface")
    import spark.implicits._
    val probes = probeIds.map(id => (id + 1000000L, vec(id, st.live(id))))
      .toDF("pid", "pe")
    val roots = st.base +: st.segs
    val res = IvfPq.probeSegments(spark, roots, probes, tsFrames(st)).collect()
    assertServed(res, st, probeIds.size, s"$what f4")
    val dist = IvfPq.probeUnbounded(spark, roots, probes,
      tsFrames(st)).collect()
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(key(dist) == key(res),
      s"$what: distributed composed serve diverged from the collected serve")
    val fid = probeIds.head
    val flab = (fid % 10).toInt
    val fprobe = Seq((fid + 1000000L, vec(fid, st.live(fid)))).toDF("pid", "pe")
    val fres = IvfPq.probeSegments(spark, roots, fprobe, tsFrames(st),
      attrFilter = Some(col("label") === flab)).collect()
    assert(fres.nonEmpty && fres.length <= AnnIndex.TopK,
      s"$what f4-filtered: ${fres.length} rows")
    val top = fres.find(_.getLong(2) == 1L).get
    assert(top.getLong(1) == fid && top.getDouble(3) == 1.0,
      s"$what f4-filtered top-1 (${top.getLong(1)}, ${top.getDouble(3)}) " +
        "— stale copy served or fresh copy lost under the filter")
    fres.foreach { r =>
      val nbr = r.getLong(1)
      assert(st.live.contains(nbr) && nbr % 10 == flab,
        s"$what f4-filtered served $nbr (live=${st.live.contains(nbr)}, " +
          s"label=${nbr % 10} vs $flab)")
    }
  }

  private def runSequenceF4(ops: List[Op]): Unit = {
    val root = new java.io.File(soakRoot, s"runf4-${runIds.incrementAndGet()}")
    try {
      var st = St(baseDirF4, Vector.empty, Vector.empty,
        baseIds.map(_ -> 0).toMap, 1000L)
      ops.zipWithIndex.foreach { case (op, k) => st = stepF4(st, op, root.toString, k) }
      serveCheckF4(st, "pre-fold serve")
      st = stepF4(st, Fold, root.toString, ops.size)
      serveCheckF4(st, "post-fold serve")
    } finally Scratch.delete(root.toString)
  }

  test("f4 lifecycle: random {append,delete,upsert,stream+in-stream-delete,compact,maintain} sequences hold every invariant, distributed ≡ collected") {
    baseDirF4: Unit
    val genOp: Gen[Op] = Gen.frequency(
      5 -> Gen.choose(1, 3).map(Append.apply),
      3 -> Gen.zip(Gen.choose(0, 97), Gen.choose(1, 3)).map(t => Delete(t._1, t._2)),
      3 -> Gen.zip(Gen.choose(0, 97), Gen.choose(1, 2)).map(t => Upsert(t._1, t._2)),
      // n >= files so no micro-batch is empty (an empty batch skips the
      // afterBatch hook, and the model assumes the enqueue fired).
      2 -> Gen.zip(Gen.choose(4, 6), Gen.choose(1, 2), Gen.choose(0, 97))
        .map(t => IngestDelete(t._1, t._2, t._3)),
      2 -> Gen.const(Fold),
      1 -> Gen.const(Maintain))
    val genOps = Gen.choose(2, 5).flatMap(Gen.listOfN(_, genOp))
    check(Prop.forAll(genOps) { ops => runSequenceF4(ops); true }, n = 15, workers = 4)
  }
}
