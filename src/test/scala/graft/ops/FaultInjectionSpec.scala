package graft.ops

import graft.SparkTestBase
import graft.io.{Afs, EncryptedParquet, FaultyFileSystem, Scratch}
import graft.crypto.{EncryptionPolicy, Fixtures, PrivilegeLevel}
import graft.kms.TestKmsServer

/** The object-store arms of the artifact protocol, DRIVEN rather than
  * argued (r12 verdict item 2): every scenario runs on the `faulty://`
  * scheme ([[graft.io.FaultyFileSystem]]), where rename is copy+delete
  * with an observable mid-window hole and create-no-overwrite is not
  * exclusive — the two atomicity gaps [[graft.io.Afs]]'s Scaladoc
  * attributes to object stores.
  */
class FaultInjectionSpec extends SparkTestBase {

  private lazy val froot: String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    val local = new java.io.File(Scratch.fresh("faulty-spec"))
    local.mkdirs()
    "faulty://" + local.getAbsolutePath
  }

  override def afterAll(): Unit = {
    FaultyFileSystem.midRenameHook = None
    super.afterAll()
  }

  test("the injected faults are real: non-exclusive create, copy+delete rename with a hole") {
    val p = s"$froot/sanity/claim"
    Afs.mkdirs(s"$froot/sanity")
    assert(Afs.createExclusive(p), "first claim must win")
    assert(Afs.createExclusive(p),
      "fault not injected: the second claim should ALSO win on the faulty store")
    Afs.writeString(s"$froot/sanity/src", "payload")
    Afs.writeString(s"$froot/sanity/dst", "old")
    var sawHole = false
    FaultyFileSystem.midRenameHook = Some(() => {
      sawHole = true
      assert(!Afs.exists(s"$froot/sanity/dst"),
        "mid-rename window must expose a missing destination")
    })
    try Afs.renameOver(s"$froot/sanity/src", s"$froot/sanity/dst")
    finally FaultyFileSystem.midRenameHook = None
    assert(sawHole, "rename never exposed its hole")
    assert(Afs.readString(s"$froot/sanity/dst") == "payload")
    assert(!Afs.exists(s"$froot/sanity/src"))
  }

  test("a reader resolving INSIDE every pointer-flip hole always sees a complete version") {
    val root = s"$froot/flips"
    val prevGrace = AnnIndex.RetireGraceMs
    AnnIndex.RetireGraceMs = 0L
    // (resolved dir, _SUCCESS present, payload readable) captured AT the
    // observation instant — a later publish may legitimately retire the
    // dir a mid-flip reader resolved (that is what the grace window is
    // for; 0 here makes retirement immediate).
    val observed = scala.collection.mutable.Buffer[(Option[String], Boolean, Boolean)]()
    FaultyFileSystem.midRenameHook = Some(() => {
      // The CURRENT pointer does not exist at this instant (the hole);
      // resolution must degrade to the newest-complete listing, never to
      // None or an incomplete dir.
      val res = AnnIndex.resolveVersion(root)
      observed += ((res,
        res.exists(d => Afs.exists(s"$d/_SUCCESS")),
        res.exists(d => Afs.readString(s"$d/data").startsWith("gen-"))))
    })
    try {
      (1 to 3).foreach { i =>
        AnnIndex.publishVersion(root)(v => Afs.writeString(s"$v/data", s"gen-$i"))
      }
    } finally {
      FaultyFileSystem.midRenameHook = None
      AnnIndex.RetireGraceMs = prevGrace
    }
    // Holes observed: v1's flip (no prior version -> listing already
    // finds the just-completed v1), then v2's and v3's.
    assert(observed.size >= 3, s"expected a hole per publish, saw ${observed.size}")
    assert(observed.head._1.exists(_.endsWith("v000001")),
      s"first flip's hole must resolve the just-completed v1: ${observed.head._1}")
    observed.foreach { case (res, complete, whole) =>
      assert(res.isDefined, "a mid-flip reader resolved NO version")
      assert(complete, s"a mid-flip reader resolved an incomplete dir: $res")
      assert(whole, s"a mid-flip reader resolved a dir with missing payload: $res")
    }
    // Retirement (grace 0) ran through the same faulty renames: v1 is
    // gone, v3 is CURRENT, and resolution still lands on a complete dir.
    val fin = AnnIndex.resolveVersion(root)
    assert(fin.exists(_.endsWith("v000003")), s"final resolve: $fin")
    assert(!Afs.exists(s"$root/v000001"), "grace-0 retirement should have swept v1")
  }

  test("a doubly-won claim converges to one complete published version, no corruption") {
    // create-no-overwrite is best-effort on the faulty store: BOTH
    // writers win the same claim and build into the same version dir.
    // The protocol's convergence argument (Afs Scaladoc): writers
    // produce the same artifact set idempotently via whole-file PUTs,
    // _SUCCESS lands last either way, so the version is complete and
    // whole whichever writer's files survive. Replayed here step by
    // step, sequentially interleaved.
    val root = s"$froot/double"
    Afs.mkdirs(root)
    assert(Afs.createExclusive(s"$root/v000001._CLAIM"))
    assert(Afs.createExclusive(s"$root/v000001._CLAIM"),
      "fixture broken: second writer should win the claim too")
    val vdir = s"$root/v000001"
    // Writer A: payload, marker, flip.
    Afs.mkdirs(vdir)
    Afs.writeString(s"$vdir/part-0", "copy-A")
    Afs.touch(s"$vdir/_SUCCESS")
    Afs.writeString(s"$root/.CURRENT.1.tmp", "v000001")
    Afs.renameOver(s"$root/.CURRENT.1.tmp", s"$root/CURRENT")
    // Writer B: same version dir, same artifact names (idempotent
    // content), marker, flip.
    Afs.writeString(s"$vdir/part-0", "copy-B")
    Afs.touch(s"$vdir/_SUCCESS")
    Afs.writeString(s"$root/.CURRENT.1.tmp", "v000001")
    Afs.renameOver(s"$root/.CURRENT.1.tmp", s"$root/CURRENT")
    // Convergence: ONE complete version, whole payload, resolvable.
    val res = AnnIndex.resolveVersion(root)
    assert(res.contains(vdir), s"resolution diverged: $res")
    assert(Afs.readString(s"$vdir/part-0") == "copy-B", "payload torn")
    // The protocol continues past the mess: the next publish allocates
    // v2 (the shared claim marker blocks re-allocation of v1) and
    // becomes CURRENT.
    val v2 = AnnIndex.publishVersion(root)(v => Afs.writeString(s"$v/part-0", "v2"))
    assert(v2.endsWith("v000002"), s"next publish mis-allocated: $v2")
    assert(AnnIndex.resolveVersion(root).contains(v2))
  }

  test("rotateByRewrite completes on copy+delete rename semantics with full parity") {
    val kms = new TestKmsServer().start()
    try {
      val dir = s"$froot/rotate/people"
      val policy = EncryptionPolicy(
        columnKeys = Map(
          PrivilegeLevel.Restricted -> Seq("social_security_number")),
        internalKeyMaterial = true)
      val df = Fixtures.people(spark)
      EncryptedParquet.write(df, dir, policy, kms.url, mode = "overwrite")
      val want = df.collect().map(_.toSeq).toSet
      // Every swap step (path -> .rotate-old, .rotate-tmp -> path) runs
      // as copy+delete; the entry-guard/recovery logic must neither trip
      // nor leave generations behind.
      EncryptedParquet.rotateByRewrite(spark, dir, policy, kms.url, Some("RESTRICTED"))
      assert(EncryptedParquet.read(spark, dir, kms.url, Some("RESTRICTED"))
        .collect().map(_.toSeq).toSet == want,
        "post-rotation read on the faulty store must return the original rows")
      assert(!Afs.exists(dir + ".rotate-tmp"))
      assert(!Afs.exists(dir + ".rotate-old"))
    } finally kms.stop()
  }
}
