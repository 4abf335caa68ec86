package graft.io

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FileUtil, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Object-store semantics emulated over the local filesystem (r12
  * verdict item 2) — the two atomicity gaps the [[Afs]] Scaladoc argues
  * the artifact protocol survives, made REAL so specs can drive
  * publish/resolve/retire/rotate through them:
  *
  *   - '''rename is copy+delete, never atomic''': an existing
  *     destination is deleted FIRST, then an observable mid-window hook
  *     fires (the destination does not exist at that instant — the
  *     "hole" an S3 pointer flip exposes), then the payload is copied
  *     and the source removed.
  *   - '''create(…, overwrite=false) is NOT exclusive''': every create
  *     succeeds, so two writers racing a claim marker can BOTH win —
  *     the best-effort arm [[Afs.createExclusive]] documents for object
  *     stores without conditional PUTs.
  *
  * Registered under the `faulty://` scheme via
  * `fs.faulty.impl = graft.io.FaultyFileSystem` on the Hadoop conf.
  * Everything else (list, open, mkdirs, delete, markers) delegates to
  * [[RawLocalFileSystem]] — marker visibility IS atomic on object
  * stores, which is exactly what the protocol relies on. Each
  * `listStatus` is counted per dir ([[FaultyFileSystem.listings]]), so a
  * spec can pin how often a read lists its path.
  */
class FaultyFileSystem extends RawLocalFileSystem {

  override def getScheme: String = "faulty"

  override def getUri: URI = URI.create("faulty:///")

  override def listStatus(f: Path): Array[FileStatus] = {
    FaultyFileSystem.listed.computeIfAbsent(f.toUri.getPath, _ => new AtomicLong).incrementAndGet()
    super.listStatus(f)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (exists(dst)) delete(dst, true)
    FaultyFileSystem.fireMidRename()
    FileUtil.copy(this, src, this, dst, true, true, getConf)
  }

  // Both public create overloads funnel every FileSystem.create variant;
  // forcing overwrite=true removes the exists check entirely — the
  // non-exclusive PUT.
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    super.create(f, permission, true, bufferSize, replication, blockSize, progress)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    super.create(f, true, bufferSize, replication, blockSize, progress)
}

object FaultyFileSystem {
  private val listed = new ConcurrentHashMap[String, AtomicLong]()

  /** `listStatus` calls made so far on the local dir `dir`. */
  def listings(dir: String): Long = Option(listed.get(dir)).map(_.get).getOrElse(0L)

  /** Hook observed INSIDE every rename's hole (destination deleted,
    * payload not yet copied). Re-entrance is suppressed: a hook that
    * itself triggers renames (or resolution listing) must not recurse.
    */
  @volatile var midRenameHook: Option[() => Unit] = None

  private val inHook = new ThreadLocal[Boolean] { override def initialValue = false }

  private def fireMidRename(): Unit =
    midRenameHook.foreach { h =>
      if (!inHook.get()) {
        inHook.set(true)
        try h() finally inHook.set(false)
      }
    }
}
