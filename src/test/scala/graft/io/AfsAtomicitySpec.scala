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
}
