package graft.ops

import graft.SparkTestBase
import graft.io.Scratch

/** The format-agnostic version-publication machinery of the shared
  * index core, driven through the composed index's builds
  * ([[IvfPq.build]] / [[IvfPq.buildFrom]]) — marker-idempotent builds,
  * claim-by-exclusive-create allocation, retire-after-two with grace,
  * pointer-fallback resolution, Hadoop-FS scheme transparency, and the
  * live concurrent-reader closure. Serve/LSM pins live in IvfPqSpec /
  * IvfPqStreamSpec / AnnLifecycleSoakSpec.
  */
class AnnIndexSpec extends SparkTestBase {

  test("q133 build is idempotent-by-marker; a forced rebuild republishes adoptable artifacts") {
    val dir = IvfPq.build(spark, sfDir, force = true)
    val marker = new java.io.File(dir, "_SUCCESS")
    assert(marker.exists(), "build must leave a _SUCCESS marker")
    val stamp = marker.lastModified()
    // Unforced build must adopt the existing artifacts, not rebuild.
    assert(IvfPq.build(spark, sfDir) === dir)
    assert(marker.lastModified() === stamp,
      "unforced build re-ran the trainer instead of adopting the marker")
    // The published artifact set is complete and conserved — the same
    // law q133's oracle checks (every corpus vector exactly once in the
    // composed lists, trained tables at configured sizes).
    val n = graft.Tables.embeddings(spark, sfDir).count()
    assert(spark.read.parquet(s"$dir/ivfpq_lists").count() === n)
    assert(spark.read.parquet(s"$dir/ivf_centroids").count() === AnnIndex.K.toLong)
    assert(spark.read.parquet(s"$dir/pq_codebook").count() ===
      (AnnIndex.Mpq * AnnIndex.Kpq).toLong)
  }

  test("forced rebuild publishes a NEW version; the prior version survives one publish") {
    // Grace 0: this test pins the deterministic retire-after-two
    // lifecycle; the production default keeps retirable versions around
    // for the grace window so back-to-back flips can't delete a dir an
    // in-flight reader just resolved.
    val g = AnnIndex.RetireGraceMs
    AnnIndex.RetireGraceMs = 0L
    try {
      val v1 = IvfPq.build(spark, sfDir, force = true)
      val v2 = IvfPq.build(spark, sfDir, force = true)
      assert(v1 !== v2, "forced rebuild must publish a fresh immutable version dir")
      // An in-flight reader that resolved v1 just before the flip still
      // scans intact files: the predecessor is retired only by the NEXT
      // publish.
      assert(new java.io.File(v1, "_SUCCESS").exists(),
        "previous version must stay complete through one publish")
      assert(spark.read.parquet(s"$v1/ivfpq_lists").count() > 0)
      val v3 = IvfPq.build(spark, sfDir, force = true)
      assert(!new java.io.File(v1).exists(),
        s"version $v1 should be retired once two newer versions exist (now $v3)")
      // CURRENT resolves to the newest complete version for adopters.
      assert(IvfPq.build(spark, sfDir) === v3)
    } finally AnnIndex.RetireGraceMs = g
  }

  test("version allocation is claim-by-exclusive-create: a concurrent claim is never built into or retired") {
    import spark.implicits._
    val root = new java.io.File(Scratch.fresh("ann-claimspec"))
    val g = AnnIndex.RetireGraceMs
    AnnIndex.RetireGraceMs = 0L
    try {
      val emb = (0L until 80L)
        .map(id => (id, (0 until 64).map(j => math.sin(id * 31 + j * 17)), (id % 10).toInt))
        .toDF("vec_id", "e", "label")
      val v1 = IvfPq.buildFrom(spark, emb, root.toString)
      assert(new java.io.File(v1).getName === "v000001")
      // Writer A has CLAIMED v000002 (claim marker landed, build in
      // flight — here: a partial dir with A's data) — publishes racing
      // past it must skip the number, never merge a build into the dir,
      // and never retire it, however many newer versions complete
      // (r11 ADVICE, medium: the old below-predecessor sweep deleted
      // in-flight claims, whose writers then recreated the dir as a
      // corrupt published version).
      assert(graft.io.Afs.createExclusive(s"$root/v000002._CLAIM"))
      val claim = new java.io.File(root, "v000002")
      assert(claim.mkdir())
      assert(new java.io.File(claim, "a-partial-artifact").createNewFile())
      val v2 = IvfPq.buildFrom(spark, emb, root.toString)
      assert(new java.io.File(v2).getName === "v000003",
        s"publish must claim the next free version, got $v2")
      assert(Option(claim.listFiles()).getOrElse(Array.empty).map(_.getName).toSeq
        === Seq("a-partial-artifact"),
        "publish built into a directory another writer claimed")
      assert(java.nio.file.Files.readString(
        new java.io.File(root, "CURRENT").toPath).trim === "v000003")
      // The true predecessor (v000001, complete) survives this publish
      // even though a squatting claim sits between it and the new head.
      assert(new java.io.File(v1, "_SUCCESS").exists(),
        "retirement removed the complete predecessor instead of keying on _SUCCESS")
      // A THIRD writer publishes: v000001 (complete, below the new
      // predecessor v000003) retires; A's in-flight v000002 still must
      // not — retirement keys on _SUCCESS, and claim GC has a
      // generous age floor.
      val v4 = IvfPq.buildFrom(spark, emb, root.toString)
      assert(new java.io.File(v4).getName === "v000004")
      assert(!new java.io.File(v1).exists(),
        "complete version below the predecessor should retire at grace 0")
      assert(new java.io.File(claim, "a-partial-artifact").exists(),
        "retirement deleted another writer's claimed, in-flight build")
      assert(new java.io.File(root, "v000002._CLAIM").exists())
    } finally { AnnIndex.RetireGraceMs = g; Scratch.delete(root.toString) }
  }

  test("the artifact layer speaks the Hadoop FileSystem API: a scheme-qualified " +
      "file:// root publishes, resolves and serves end-to-end") {
    // r11 verdict item 2: the version/segment/rotation protocols were
    // hardwired to java.io.File. This pins the seam itself — a root
    // addressed by URI (as an hdfs:// or s3a:// deployment would) goes
    // through publish, claim, CURRENT resolution, delta append,
    // tombstones and a full probe without one local-file assumption.
    // Ported to the composed f4 lifecycle in r15 when the f3 serve
    // paths were deleted — the protocol under test is unchanged.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val local = new java.io.File(Scratch.fresh("ann-fsspec"))
    val root = "file:" + local.getAbsolutePath
    try {
      val emb = (0L until 120L)
        .map(id => (id, (0 until 64).map(j => math.sin(id * 31 + j * 17)), (id % 10).toInt))
        .toDF("vec_id", "e", "label")
      val v1 = IvfPq.buildFrom(spark, emb, s"$root/idx")
      assert(v1.startsWith("file:"), s"published dir must stay scheme-qualified: $v1")
      assert(AnnIndex.resolveVersion(s"$root/idx") === Some(v1))
      assert(spark.read.parquet(s"$v1/ivfpq_lists").count() === 120L)
      // Delta + tombstone segments publish and serve over the same URI
      // root: a probe of the composed LSM state returns a full surface
      // with the deleted id masked.
      val batch = (120L until 140L)
        .map(id => (id, (0 until 64).map(j => math.sin(id * 31 + j * 17)), (id % 10).toInt))
        .toDF("vec_id", "e", "label")
      val seg = IvfPq.appendSegment(spark, v1, batch, s"$root/seg")
      assert(seg.startsWith("file:"))
      val tsDir = AnnIndex.tombstonesFor(spark, v1,
        emb.filter(col("vec_id") === 5L).select(col("vec_id"), col("e")), s"$root/ts")
      val probeDf = emb.filter(col("vec_id") < 3L).select("vec_id", "e")
      val served = IvfPq.probeSegments(spark, Seq(v1, seg), probeDf,
        Seq(spark.read.parquet(s"$tsDir/tombstones").select("vec_id") ->
          Int.MaxValue))
      assert(served.count() === 3L * AnnIndex.TopK,
        "URI-rooted serve lost surface")
      assert(served.filter(col("nbr_id") === 5L).count() === 0L,
        "URI-rooted tombstone mask did not apply")
    } finally Scratch.delete(local.toString)
  }

  test("CURRENT resolution survives a missing, mid-flip or stale pointer via the listing fallback") {
    // The object-store / HDFS-delete+rename hole made executable: on
    // backends without atomic replace-rename a reader can catch CURRENT
    // absent (mid-flip), truncated, or naming a retired dir. Resolution
    // must degrade to the newest _SUCCESS-complete version — never to
    // None while a complete version exists, never to an incomplete dir.
    import spark.implicits._
    val local = new java.io.File(Scratch.fresh("ann-fallbackspec"))
    val root = local.getAbsolutePath
    try {
      val emb = (0L until 80L)
        .map(id => (id, (0 until 64).map(j => math.sin(id * 31 + j * 17)), (id % 10).toInt))
        .toDF("vec_id", "e", "label")
      val v1 = IvfPq.buildFrom(spark, emb, root)
      val v2 = IvfPq.buildFrom(spark, emb, root)
      // Mid-flip: CURRENT deleted between a writer's delete and rename.
      assert(new java.io.File(root, "CURRENT").delete())
      assert(AnnIndex.resolveVersion(root) === Some(v2),
        "missing pointer must fall back to the newest complete version")
      // Truncated/garbage pointer (partial object-store read).
      java.nio.file.Files.writeString(
        new java.io.File(root, "CURRENT").toPath, "v0000"): Unit
      assert(AnnIndex.resolveVersion(root) === Some(v2),
        "garbage pointer must fall back to the newest complete version")
      // Stale pointer naming a dir that no longer exists.
      java.nio.file.Files.writeString(
        new java.io.File(root, "CURRENT").toPath, "v000009"): Unit
      assert(AnnIndex.resolveVersion(root) === Some(v2),
        "stale pointer must fall back to the newest complete version")
      // An incomplete newer claim never wins the fallback.
      assert(graft.io.Afs.createExclusive(s"$root/v000007._CLAIM"))
      assert(new java.io.File(root, "v000007").mkdir())
      assert(AnnIndex.resolveVersion(root) === Some(v2),
        "fallback resolved an incomplete claim")
      assert(v1 != v2)
    } finally Scratch.delete(local.toString)
  }

  test("a concurrent reader always resolves a complete index across forced rebuilds") {
    // The r9 ADVICE race, exercised live: a reader resolving CURRENT
    // from disk (as a foreign JVM would — no builder cache) while
    // forced rebuilds publish fresh versions must only ever see
    // complete, readable artifacts. The deterministic retire-after-two
    // pin above proves the file lifecycle; this pins the read path.
    IvfPq.build(spark, sfDir, force = true)
    val root = AnnIndex.shmDir(graft.Tables.datasetTag(sfDir) + "/ivfpq")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val resolutions = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          AnnIndex.resolveVersion(root) match {
            case Some(dir) =>
              assert(spark.read.parquet(s"$dir/ivf_centroids").count() === AnnIndex.K.toLong)
              assert(spark.read.parquet(s"$dir/pq_codebook").count() ===
                (AnnIndex.Mpq * AnnIndex.Kpq).toLong)
              resolutions.incrementAndGet(): Unit
            case None =>
              failures.add(new AssertionError("CURRENT resolved to no complete version")): Unit
          }
        } catch { case t: Throwable => failures.add(t): Unit }
      }
    })
    reader.start()
    try (1 to 2).foreach(_ => IvfPq.build(spark, sfDir, force = true))
    finally { stop.set(true); reader.join(30000) }
    assert(failures.isEmpty, s"reader failed during rebuild: ${failures.peek()}")
    assert(resolutions.get() > 0, "reader never resolved a version while rebuilds ran")
  }
}
