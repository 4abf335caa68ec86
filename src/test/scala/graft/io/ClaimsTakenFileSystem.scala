package graft.io

import java.net.URI

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A filesystem on which every exclusive create reports the path as
  * already existing — the broken store [[Afs.claim]]'s bounded loop
  * exists for: a connector whose unrelated error matches the "already
  * exists" sniff would otherwise spin a claim loop forever. Everything
  * else delegates to [[RawLocalFileSystem]], like [[FaultyFileSystem]].
  *
  * Registered under the `claimstaken://` scheme via
  * `fs.claimstaken.impl = graft.io.ClaimsTakenFileSystem`; `attempts`
  * counts the refused creates.
  */
class ClaimsTakenFileSystem extends RawLocalFileSystem {

  override def getScheme: String = "claimstaken"

  override def getUri: URI = URI.create("claimstaken:///")

  private def refuse(f: Path): Nothing = {
    ClaimsTakenFileSystem.attempts.incrementAndGet()
    throw new FileAlreadyExistsException(s"$f already exists")
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    if (!overwrite) refuse(f)
    else super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    if (!overwrite) refuse(f)
    else super.create(f, overwrite, bufferSize, replication, blockSize, progress)
}

object ClaimsTakenFileSystem {
  val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
}
