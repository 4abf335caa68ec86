package graft.io

import org.scalatest.funsuite.AnyFunSuite

/** The claim primitive's atomicity on the REAL local filesystem this
  * environment serves (r13): with Hive's jars on the classpath the
  * default `file://` filesystem is `ProxyLocalFileSystem`, so the r12
  * exact-class whitelist never engaged the NIO O_EXCL arm and local
  * claims silently went through RawLocal's exists-check-then-open —
  * a 2-thread barrier hammer double-won ~half its rounds, which is
  * exactly how the concurrent-maintain race spec caught it (two
  * maintains claimed ONE version dir; the second writer's overwrite
  * deleted the first's in-flight `_temporary`). Scheme-dispatch fixed
  * it; this pins the primitive itself, independent of any Spark jobs.
  * The claim loop on top of it ([[Afs.claim]]) is raced here too, in the
  * shape of each of its callers, and driven past its attempt cap.
  */
class AfsAtomicitySpec extends AnyFunSuite {

  test("createExclusive admits exactly one winner per path under a 2-thread barrier hammer") {
    val root = Scratch.tempDir("graft-afs-hammer-")
    try {
      val fsClass = org.apache.hadoop.fs.FileSystem
        .get(new java.net.URI("file:///"), Afs.conf).getClass.getName
      info(s"default local FS class: $fsClass")
      val anomalies = (0 until 500).count { round =>
        val p = s"$root/v$round._CLAIM"
        val wins = new java.util.concurrent.atomic.AtomicInteger(0)
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val ts = (0 until 2).map { _ =>
          new Thread(() => {
            barrier.await()
            if (Afs.createExclusive(p)) wins.incrementAndGet(): Unit
          })
        }
        ts.foreach(_.start()); ts.foreach(_.join())
        wins.get() != 1
      }
      assert(anomalies == 0,
        s"$anomalies/500 rounds had != 1 claim winner — the exclusive-create " +
          s"primitive is not atomic on $fsClass")
    } finally Scratch.delete(root)
  }

  test("claim: racing claimers for versions, tombstones and stream runs win every number exactly once") {
    // Each caller's shape: index versions (`v` zero-padded to 6 digits),
    // tombstones (`t<n>`, numbered above a manifest floor whose dirs and
    // claims were swept), stream runs (`run-<n>`).
    val shapes: Seq[(String, Int, Seq[String])] =
      Seq(("v", 6, Nil), ("t", 1, (1 to 40).map(n => s"t$n")), ("run-", 1, Nil))
    val (threads, rounds) = (4, 25)
    shapes.foreach { case (prefix, width, taken) =>
      val root = Scratch.tempDir("graft-afs-claim-")
      try {
        val won = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val barrier = new java.util.concurrent.CyclicBarrier(threads)
        val ts = (0 until threads).map { _ =>
          new Thread(() => (0 until rounds).foreach { _ =>
            try {
              barrier.await()
              won.add(new org.apache.hadoop.fs.Path(
                Afs.claim(root, prefix, width, taken)).getName): Unit
            } catch { case e: Throwable => errors.add(e): Unit }
          })
        }
        ts.foreach(_.start()); ts.foreach(_.join())
        assert(errors.isEmpty, s"$prefix claimers threw: ${errors.toArray.mkString(" | ")}")
        val floor = taken.size
        val expect = (floor + 1 to floor + threads * rounds)
          .map(n => prefix + s"%0${width}d".format(n))
        val got = won.toArray(Array.empty[String]).toSeq
        assert(got.size == got.distinct.size,
          s"$prefix: a number was won twice: ${got.diff(got.distinct).mkString(",")}")
        assert(got.sorted == expect.sorted,
          s"$prefix: won ${got.sorted.take(5).mkString(",")}… expected " +
            s"${expect.head}..${expect.last}")
        assert(Afs.listNames(root).count(_.endsWith("._CLAIM")) == expect.size)
      } finally Scratch.delete(root)
    }
  }

  test("claim fails loudly once past ClaimAttemptCap when every claim path reports existing") {
    val local = Scratch.tempDir("graft-afs-claimcap-")
    try {
      Afs.conf.set("fs.claimstaken.impl", classOf[ClaimsTakenFileSystem].getName)
      ClaimsTakenFileSystem.attempts.set(0)
      val e = intercept[java.io.IOException](
        Afs.claim(s"claimstaken://$local/versions", "v", width = 6))
      assert(e.getMessage.contains(s"lost ${Afs.ClaimAttemptCap} consecutive"),
        s"cap missing from the message: ${e.getMessage}")
      assert(ClaimsTakenFileSystem.attempts.get == Afs.ClaimAttemptCap,
        s"loop stopped after ${ClaimsTakenFileSystem.attempts.get} attempts, " +
          s"not at the cap (${Afs.ClaimAttemptCap})")
      assert(!Afs.listNames(s"$local/versions").exists(_.endsWith("._CLAIM")),
        "a refused claim left a marker")
    } finally Scratch.delete(local)
  }
}
