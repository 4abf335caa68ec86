package graft.ops

import graft.SparkTestBase
import graft.io.Scratch
import graft.kms.TestKmsServer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming ingest on the composed f4 artifact
  * ([[IvfPq.streamIngestWithMaintain]] through the shared
  * [[AnnIndex.streamIngestCore]]): q128's checkpointed micro-batch
  * discipline landing composed delta segments, auto-maintain folding
  * them behind the CURRENT pointer with `_SEGMENTS` manifests, a
  * concurrent reader staying consistent across every fold — and the
  * whole loop composing with encryption (the last index write path).
  */
class IvfPqStreamSpec extends SparkTestBase {

  private val Dim = 64

  private def vec(id: Long): Seq[Double] =
    (0 until Dim).map(j => math.sin(id * 29.0 + j * 13.0))

  private def frame(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(id => (id, vec(id), (id % 10).toInt)).toDF("vec_id", "e", "label")
  }

  test("f4 stream-ingest: serve continuity across auto-fired folds, conservation and manifest at the end") {
    import spark.implicits._
    val root = Scratch.fresh("ivfpq-stream")
    val baseIds = 0L until 64L
    val ingestIds = 1000L until 1024L
    val universe = (baseIds ++ ingestIds).toSet
    val baseDir = IvfPq.buildFrom(spark, frame(baseIds), s"$root/base")
    val maintRoot = s"$root/ingest/maint"

    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicLong()
    @volatile var stop = false
    val probeId = 7L
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val st = AnnIndex.servingStateOf(baseDir, s"$root/ingest")
          val (b, unfolded) = (st.base, st.unfolded)
          val probes = Seq((probeId + 1000000L, vec(probeId))).toDF("pid", "pe")
          val res = IvfPq.probeSegments(spark, b +: unfolded, probes).collect()
          reads.incrementAndGet(): Unit
          if (res.length != AnnIndex.TopK)
            failures.add(s"surface ${res.length} rows (base=$b segs=${unfolded.size})"): Unit
          val top = res.find(_.getLong(2) == 1L)
          if (!top.exists(r => r.getLong(1) == probeId && r.getDouble(3) == 1.0))
            failures.add(s"top-1 lost self: ${top.map(r => (r.getLong(1), r.getDouble(3)))}"): Unit
          val nbrs = res.map(_.getLong(1))
          if (nbrs.distinct.length != nbrs.length)
            failures.add(s"duplicate neighbors: ${nbrs.mkString(",")}"): Unit
          nbrs.filterNot(universe).foreach(g => failures.add(s"ghost neighbor $g"): Unit)
        } catch {
          case e: Throwable => failures.add(s"reader threw: $e"): Unit
        }
      }
    })
    reader.start()
    val (finalBase, unfolded) = try {
      IvfPq.streamIngestWithMaintain(spark, baseDir, frame(ingestIds),
        s"$root/ingest", nFiles = 4, every = 2)
    } finally { stop = true; reader.join(30000) }
    assert(failures.isEmpty, s"reader violations: ${failures.toArray.take(5).mkString(" | ")}")
    assert(reads.get() >= 3, s"reader only completed ${reads.get()} polls — fixture too fast")

    val fold = AnnIndex.resolveVersion(maintRoot)
    assert(fold.isDefined, "no auto-maintain fold fired at every=2 over 4 batches")
    assert(unfolded.isEmpty, s"expected all segments folded, left: $unfolded")
    val got = spark.read.parquet(s"$finalBase/ivfpq_lists")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got.size == got.distinct.size, "fold duplicated ids")
    assert(got.toSet == universe,
      s"fold lost=${(universe -- got.toSet).take(5)} ghosts=${(got.toSet -- universe).take(5)}")
    val manifest = graft.io.Afs.readString(s"${fold.get}/_SEGMENTS")
      .split("\n").filter(_.nonEmpty)
    assert(manifest.length == 4, s"manifest: ${manifest.mkString(",")}")
  }

  test("deletes compose into the streaming ingest loop: masked before the fold, physical after, newer copies survive") {
    import spark.implicits._
    val root = Scratch.fresh("ivfpq-stream-del")
    val ingestRoot = s"$root/ingest"
    val baseIds = 0L until 64L
    val ingestIds = 1000L until 1024L
    val baseDir = IvfPq.buildFrom(spark, frame(baseIds), s"$root/base")

    val baseVictim = 7L
    @volatile var landedVictim = -1L   // an ingest id already landed when the delete fires
    @volatile var futureVictim = -1L   // an ingest id NOT yet landed — its copy is NEWER than the tombstone
    val hookErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val afterBatch = (ss: org.apache.spark.sql.SparkSession, id: Long) =>
      try {
        if (id == 1L) {
          // b0 and b1 are committed; enqueue a delete for one base id,
          // one landed ingest id, and one id that will only arrive in a
          // LATER batch (the tombstone must not mask that newer copy —
          // the LSM freshness rule).
          // Segments are separate partitioned roots — load each and
          // union (Spark rejects conflicting partition roots in one
          // load, the maskedUnion rule).
          val landed = Seq("b0", "b1")
            .map(b => ss.read.parquet(s"$ingestRoot/segments/$b/ivfpq_lists")
              .select("vec_id"))
            .reduce(_ unionAll _).collect().map(_.getLong(0)).toSet
          landedVictim = ingestIds.find(landed).get
          futureVictim = ingestIds.find(i => !landed(i)).get
          IvfPq.enqueueTombstones(ss, baseDir, ingestRoot,
            frame(Seq(baseVictim, landedVictim, futureVictim))): Unit
          // BEFORE any fold: the serve path must already mask the
          // victims (a delete is visible the moment its tombstone's
          // _COMPLETE lands).
          Seq(baseVictim, landedVictim).foreach { v =>
            val res = IvfPq.probeServing(ss, baseDir, ingestRoot,
              Seq((v + 1000000L, vec(v))).toDF("pid", "pe")).collect()
            if (res.exists(_.getLong(1) == v))
              hookErrors.add(s"victim $v served after its tombstone landed"): Unit
          }
        }
      } catch { case e: Throwable => hookErrors.add(s"hook threw: $e"): Unit }

    val (finalBase, unfolded) = IvfPq.streamIngestWithMaintain(spark, baseDir,
      frame(ingestIds), ingestRoot, nFiles = 4, every = 3,
      afterBatch = afterBatch)
    assert(hookErrors.isEmpty, s"in-stream violations: ${hookErrors.toArray.mkString(" | ")}")
    assert(landedVictim > 0 && futureVictim > 0, "hook never fired at batch 1")

    // The threshold fold consumed the tombstone: it is recorded in the
    // manifest (no longer pending) and the drop is PHYSICAL in the fold.
    val fold = AnnIndex.resolveVersion(s"$ingestRoot/maint")
    assert(fold.isDefined, "no fold fired at every=3 over 4 batches")
    val manifest = graft.io.Afs.readString(s"${fold.get}/_SEGMENTS")
      .split("\n").filter(_.nonEmpty)
    assert(manifest.exists(_.startsWith("ts:")),
      s"fold did not record the consumed tombstone: ${manifest.mkString(",")}")
    val (_, _, pending) = IvfPq.servingView(spark, baseDir, ingestRoot)
    assert(pending.isEmpty, "tombstone still pending after the fold consumed it")

    // Final live view: no ghost (deleted ids gone), no dup, and the
    // future victim's copy SURVIVED its own older tombstone (it landed
    // in a segment newer than the boundary).
    val served = (Seq(finalBase) ++ unfolded)
      .map(p => spark.read.parquet(s"$p/ivfpq_lists").select("vec_id"))
      .reduce(_ unionAll _).collect().map(_.getLong(0)).toSeq
    assert(served.size == served.distinct.size, "duplicate ids in the live view")
    val expect = (baseIds.toSet - baseVictim) ++ (ingestIds.toSet - landedVictim)
    assert(served.toSet == expect,
      s"lost=${(expect -- served.toSet).take(5)} ghosts=${(served.toSet -- expect).take(5)}")
    assert(served.contains(futureVictim),
      "the tombstone masked a NEWER copy of its victim — recency boundary broken")
    // And the serve path agrees: the deleted base id is gone, its probe
    // still gets a full surface.
    val res = IvfPq.probeServing(spark, baseDir, ingestRoot,
      Seq((baseVictim + 1000000L, vec(baseVictim))).toDF("pid", "pe")).collect()
    assert(res.length == AnnIndex.TopK)
    assert(!res.exists(_.getLong(1) == baseVictim), "deleted id served post-fold")
  }

  test("q128 stream ingest: one composed segment per micro-batch; checkpointed re-run is a no-op") {
    // Replay idempotence lives in the shared streamIngestCore; this pin
    // moved from the f3 spec when the quarantine was deleted (r15).
    val root = tempDir("graft-ivfpqstream-spec-")
    val (baseDir, segs) = IvfPq.streamIngestInto(spark, sfDir, root)
    assert(segs.size === AnnIndex.StreamFiles,
      s"expected one delta segment per micro-batch (${AnnIndex.StreamFiles}), got ${segs.size}")
    def n(p: String): Long = spark.read.parquet(p).count()
    val corpusN = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(n(s"$baseDir/ivfpq_lists") + segs.map(g => n(s"$g/ivfpq_lists")).sum
      === corpusN, "streamed composed index must cover the corpus exactly")
    // A finished checkpoint makes the ingest idempotent: a re-run over
    // the same root processes no files and rewrites no segment.
    def listing(dirs: Seq[String]): Map[String, Long] = dirs.flatMap { d =>
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(d)).map(f => f.getPath -> f.lastModified())
    }.toMap
    val before = listing(segs)
    val (_, segs2) = IvfPq.streamIngestInto(spark, sfDir, root)
    assert(segs2 === segs, "finished checkpoint must make a re-run a no-op")
    assert(listing(segs2) === before, "re-run rewrote a segment despite the checkpoint")
  }

  test("tombstone racing an intervening fold: identity coverage spares the post-enqueue re-add, still deletes its victims") {
    // The r14 ADVICE scenario: an out-of-loop enqueue records coverage
    // (base, {b0}); a fold that never saw the tombstone absorbs b0 (its
    // segment snapshot predates the enqueue — contract 1's legal race);
    // THEN a new segment b1 re-adds a deleted vec_id with a NEW
    // embedding. The pre-r15 positional boundary (2 = base + b0) masked
    // positions 0 AND 1 of the NEW [fold, b1] ordering — physically
    // dropping the fresher re-add. Identity coverage must mask only the
    // moved base (b0's content is inside it), sparing b1 — in the
    // reader view while pending AND in the consuming fold.
    import spark.implicits._
    val root = Scratch.fresh("ivfpq-ts-race")
    val ingest = s"$root/ingest"
    val maintRoot = s"$ingest/maint"
    val baseIds = 0L until 64L
    val baseDir = IvfPq.buildFrom(spark, frame(baseIds), s"$root/base")

    val baseVictim = 7L
    val segVictim = 1000L
    val reAddVictim = 1001L
    val newVec = vec(reAddVictim + 9000L) // the upsert's replacement embedding
    val b0 = IvfPq.landSegment(spark, baseDir, ingest, "b0",
      frame(1000L until 1008L))
    // Enqueue: coverage = (base, {b0}) — logically precedes everything
    // that lands after this point.
    IvfPq.enqueueTombstones(spark, baseDir, ingest,
      frame(Seq(baseVictim, segVictim, reAddVictim))): Unit
    // The racing fold: absorbs ONLY b0 (its snapshot predates the
    // enqueue) and never saw the tombstone (tsPending = Nil) — the base
    // moves, the tombstone stays pending with a stale base.
    IvfPq.maintainWithManifest(spark, baseDir, Seq(b0), maintRoot,
      foldedSegs = Nil, segRoot = s"$ingest/segments"): Unit
    // b1 lands AFTER the enqueue (and after the tombstone's _COMPLETE —
    // the pairing discipline) re-adding one victim with a NEW vector:
    // that copy is fresher than the delete and must survive it.
    IvfPq.landSegment(spark, baseDir, ingest, "b1",
      (Seq((reAddVictim, newVec, (reAddVictim % 10).toInt)) ++
        (1010L until 1014L).map(id => (id, vec(id), (id % 10).toInt)))
        .toDF("vec_id", "e", "label")): Unit

    val universe = baseIds.toSet ++ (1000L until 1008L) ++ (1010L until 1014L)
    val expect = universe - baseVictim - segVictim // reAddVictim SURVIVES

    // Reader view while pending: the mask must already be the exact
    // translated one — victims gone, the unfolded re-add served.
    val (b, unfolded, pend) = IvfPq.servingView(spark, baseDir, ingest)
    assert(unfolded.size == 1, s"expected b1 unfolded, got: $unfolded")
    assert(pend.size == 1, s"expected the one pending tombstone, got ${pend.size}")
    val res = IvfPq.probeServing(spark, baseDir, ingest,
      Seq((reAddVictim + 1000000L, newVec)).toDF("pid", "pe")).collect()
    val top = res.find(_.getLong(2) == 1L).get
    assert(top.getLong(1) == reAddVictim && top.getDouble(3) == 1.0,
      "pending stale-base tombstone transiently masked the fresher re-add")
    Seq(baseVictim, segVictim).foreach { v =>
      val r = IvfPq.probeServing(spark, baseDir, ingest,
        Seq((v + 1000000L, vec(v))).toDF("pid", "pe")).collect()
      assert(!r.exists(_.getLong(1) == v), s"victim $v served while pending")
    }

    // The consuming fold: resolves the identity coverage against the
    // MOVED base — drops the victims' old copies physically, keeps the
    // re-add that now sits at position 1 of the new ordering.
    val now = AnnIndex.servingStateOf(baseDir, ingest)
    val pending = IvfPq.pendingTombstones(spark, ingest, now.foldedTs, None)
    assert(pending.size == 1, "tombstone should still be pending pre-consume")
    IvfPq.maintainWithManifest(spark, b, now.unfolded, maintRoot, now.foldedSegs,
      now.foldedTs, tsPending = pending, segRoot = s"$ingest/segments"): Unit
    val b2 = AnnIndex.servingStateOf(baseDir, ingest).base
    val lists = spark.read.parquet(s"$b2/ivfpq_lists")
    val got = lists.select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got.size == got.distinct.size, "consuming fold duplicated ids")
    assert(got.toSet == expect,
      s"lost=${(expect -- got.toSet).take(5)} ghosts=${(got.toSet -- expect).take(5)}" +
        (if (!got.contains(reAddVictim))
           " — the stale-boundary bug: the fold dropped the newer re-add" else ""))
    // The SURVIVING copy is the new one (the upsert's embedding), not a
    // resurrected old row.
    val e = lists.filter(col("vec_id") === reAddVictim)
      .select("e").collect().head.getSeq[Double](0)
    assert(e == newVec, "the consuming fold kept the OLD copy of the re-add")
    val (_, _, pendAfter) = IvfPq.servingView(spark, baseDir, ingest)
    assert(pendAfter.isEmpty, "tombstone still pending after consumption")
  }

  test("a second writer's delete on a GC'd root stays pending and masked until the next fold drops it") {
    // The state a long-running ingest root reaches, and that a second
    // (or restarted) JVM finds: the serving fold's cumulative manifest
    // names consumed tombstones t1..tN, whose dirs and claims the
    // fold-point GC already swept (tsq/ is empty). A writer that numbers
    // tombstones from the listing alone, or from a per-JVM counter
    // starting at 1, re-claims a consumed name, and the reader view then
    // reads its fresh delete as already folded: the victim is served
    // again and the next fold never drops it. N sits far above any
    // number this JVM has claimed.
    import spark.implicits._
    val root = Scratch.fresh("ivfpq-ts-reuse")
    val ingest = s"$root/ingest"
    val baseIds = 0L until 64L
    val baseDir = IvfPq.buildFrom(spark, frame(baseIds), s"$root/base")
    val consumed = 500
    val fold = AnnIndex.publishVersion(s"$ingest/maint") { v =>
      Seq("ivf_centroids", "pq_codebook", "ivfpq_lists")
        .foreach(a => graft.io.Afs.copyTree(s"$baseDir/$a", s"$v/$a"))
      graft.io.Afs.writeString(s"$v/_SEGMENTS",
        (1 to consumed).map(n => s"ts:t$n").mkString("\n"))
    }
    graft.io.Afs.mkdirs(s"$ingest/tsq")

    val victim = 7L
    val ts = IvfPq.enqueueTombstones(spark, baseDir, ingest, frame(Seq(victim)))
    val (b, unfolded, pend) = IvfPq.servingView(spark, baseDir, ingest)
    assert(b == fold && unfolded.isEmpty, s"unexpected view: $b, $unfolded")
    assert(pend.size == 1,
      s"the fresh delete $ts reads as already folded — its name was reused")
    val probe = Seq((victim + 1000000L, vec(victim))).toDF("pid", "pe")
    val res = IvfPq.probeServing(spark, baseDir, ingest, probe).collect()
    assert(res.length == AnnIndex.TopK)
    assert(!res.exists(_.getLong(1) == victim),
      "deleted id served while its tombstone is pending")

    // The next fold consumes the delete and makes the drop physical.
    val ingestIds = 1000L until 1008L
    val (finalBase, left) = IvfPq.streamIngestWithMaintain(spark, baseDir,
      frame(ingestIds), ingest, nFiles = 1, every = 1)
    assert(left.isEmpty, s"expected the segment folded, left: $left")
    val (_, _, pendAfter) = IvfPq.servingView(spark, baseDir, ingest)
    assert(pendAfter.isEmpty, "tombstone still pending after the fold")
    val got = spark.read.parquet(s"$finalBase/ivfpq_lists")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val expect = (baseIds.toSet - victim) ++ ingestIds
    assert(got.size == got.distinct.size, "fold duplicated ids")
    assert(got.toSet == expect,
      s"lost=${(expect -- got.toSet).take(5)} ghosts=${(got.toSet -- expect).take(5)}")
  }

  test("fold-point GC keeps a long-running ingest root bounded: folded segments and consumed tombstones are swept past grace") {
    import spark.implicits._
    val root = Scratch.fresh("ivfpq-stream-gc")
    val ingestRoot = s"$root/ingest"
    val baseIds = 0L until 64L
    val ingestIds = 1000L until 1024L
    val baseDir = IvfPq.buildFrom(spark, frame(baseIds), s"$root/base")
    val victim = baseIds.head
    val grace = AnnIndex.RetireGraceMs
    AnnIndex.RetireGraceMs = 0L
    val (finalBase, unfolded) = try {
      IvfPq.streamIngestWithMaintain(spark, baseDir, frame(ingestIds),
        ingestRoot, nFiles = 6, every = 2,
        afterBatch = (ss, id) =>
          if (id == 0L)
            IvfPq.enqueueTombstones(ss, baseDir, ingestRoot,
              frame(Seq(victim))): Unit)
    } finally AnnIndex.RetireGraceMs = grace
    assert(unfolded.isEmpty, s"expected all segments folded, left: $unfolded")
    // Every fold is a GC point and grace is zero: nothing folded or
    // consumed may remain on disk — the 6-batch, 3-fold, 1-delete run
    // ends with EMPTY segments/ and tsq/ dirs (bounded-garbage
    // invariant: dir counts never grow with batches consumed).
    val segLeft = graft.io.Afs.listNames(s"$ingestRoot/segments")
      .filterNot(_.endsWith("._CLAIM"))
    assert(segLeft.isEmpty,
      s"folded segment dirs survived the GC sweep: ${segLeft.mkString(",")}")
    val tsLeft = graft.io.Afs.listNames(s"$ingestRoot/tsq")
      .filterNot(_.endsWith("._CLAIM"))
    assert(tsLeft.isEmpty,
      s"consumed tombstone dirs survived the GC sweep: ${tsLeft.mkString(",")}")
    // And the sweep cost nothing semantically: conservation holds on the
    // final fold.
    val expect = (baseIds.toSet - victim) ++ ingestIds
    val got = spark.read.parquet(s"$finalBase/ivfpq_lists")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got.size == got.distinct.size, "GC run duplicated ids")
    assert(got.toSet == expect,
      s"lost=${(expect -- got.toSet).take(5)} ghosts=${(got.toSet -- expect).take(5)}")
  }

  test("encrypted f4 stream-ingest: segments and folds land encrypted, serve under the token, denial gates") {
    import spark.implicits._
    val kms = TestKmsServer.shared
    val root = Scratch.fresh("ivfpq-stream-enc")
    val crypto = Some(AnnIndex.IndexCrypto(kms.url, Some("INTERNAL")))
    val baseIds = 0L until 64L
    val ingestIds = 1000L until 1024L
    val universe = (baseIds ++ ingestIds).toSet
    val baseDir = IvfPq.buildFrom(spark, frame(baseIds), s"$root/base", crypto)
    // A mid-stream DELETE rides the encrypted loop too: the tombstone's
    // stored victim embedding must land encrypted (the
    // `ivfpq_tombstones` policy) and the fold must consume it under the
    // token.
    val victim = 5L
    val (finalBase, unfolded) = IvfPq.streamIngestWithMaintain(spark, baseDir,
      frame(ingestIds), s"$root/ingest", nFiles = 4, every = 2, crypto,
      afterBatch = (ss, id) =>
        if (id == 0L)
          IvfPq.enqueueTombstones(ss, baseDir, s"$root/ingest",
            frame(Seq(victim)), crypto): Unit)
    assert(unfolded.isEmpty, s"expected all segments folded, left: $unfolded")
    // The tombstone itself is genuinely encrypted: a bare reader cannot
    // materialize the stored victim embedding.
    val tsDirs = graft.io.Afs.listNames(s"$root/ingest/tsq")
      .filter(_.startsWith("t")).filterNot(_.endsWith("._CLAIM"))
    assert(tsDirs.nonEmpty, "no tombstone segment landed")
    intercept[Throwable] {
      spark.read.parquet(s"$root/ingest/tsq/${tsDirs.head}/tombstones")
        .select("e").collect()
    }
    // Every landed artifact is genuinely encrypted: a bare reader cannot
    // materialize the protected columns of the fold (nor of a segment).
    intercept[Throwable] {
      spark.read.parquet(s"$finalBase/ivfpq_lists").select("e", "codes").collect()
    }
    // Conservation under the token — the enqueued victim is physically
    // gone (the fold consumed its encrypted tombstone), everything else
    // exactly once.
    val expect = universe - victim
    val got = AnnIndex.readArtifact(spark, s"$finalBase/ivfpq_lists", crypto)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got.size == got.distinct.size, "encrypted fold duplicated ids")
    assert(got.toSet == expect,
      s"encrypted fold lost=${(expect -- got.toSet).take(5)} " +
        s"ghosts=${(got.toSet -- expect).take(5)}")
    // Serve under the token: a streamed id is findable and top-1-exact.
    val probes = Seq((1007L + 1000000L, vec(1007L))).toDF("pid", "pe")
    val res = IvfPq.probeSegments(spark, Seq(finalBase), probes,
      crypto = crypto).collect()
    assert(res.length == AnnIndex.TopK)
    val top = res.find(_.getLong(2) == 1L).get
    assert(top.getLong(1) == 1007L && top.getDouble(3) == 1.0,
      s"streamed-in vector lost from the encrypted fold: " +
        s"(${top.getLong(1)}, ${top.getDouble(3)})")
    // Denial still gates the streamed state.
    val e = intercept[Throwable] {
      IvfPq.probeSegments(spark, Seq(finalBase), probes,
        crypto = Some(AnnIndex.IndexCrypto(kms.url, Some("PUBLIC")))).collect()
    }
    assert(e != null)
  }
}
