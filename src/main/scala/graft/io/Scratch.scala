package graft.io

import java.io.File
import java.nio.file.Files

import graft.Tables

/** Engine scratch: where untimed fixtures and throwaway working dirs
  * live, how a dataset's fixture is named, and when it is built or
  * adopted. One rule for every fixture the registry queries read
  * (source-format copies, physical layouts, exported assets, encrypted
  * copies), so a new fixture is one call here, not another private copy
  * of the rule.
  *
  * Fixtures are local scratch, not product artifacts: production writes
  * go wherever the caller points them, and the versioned ANN publish
  * protocol ([[graft.ops.AnnIndex]]) keeps its own adoption rule.
  */
object Scratch {

  /** RAM-backed tmpfs: preferred for every scratch root (same rationale
    * as spark.local.dir in build.sbt — the container's backing disk
    * intermittently throttles metadata ops).
    */
  private[graft] val Tmpfs = "/dev/shm"

  /** [[Tmpfs]] when writable, else `java.io.tmpdir`. */
  lazy val base: String = {
    val shm = new File(Tmpfs)
    if (shm.isDirectory && shm.canWrite) Tmpfs else sys.props("java.io.tmpdir")
  }

  /** The scratch root of one area: `<base>/graft-<area>`. */
  def root(area: String): String = s"$base/graft-$area"

  /** Where fixture `name` of dataset `d` lives:
    * `<root(area)>/<Tables.datasetTag(d)>/<name>`. The tag hashes the
    * source files' names, sizes and mtimes, so a regenerated dataset
    * gets a new path and is never served a stale copy.
    */
  def path(area: String, d: String, name: String): String =
    s"${root(area)}/${Tables.datasetTag(d)}/$name"

  /** Per-JVM memo, keyed by fixture path. Guarded by this object's lock,
    * which builds hold: a fixture is built once, and a build may itself
    * ask for another fixture (the lock is reentrant).
    */
  private val memo = scala.collection.mutable.HashMap.empty[String, Any]

  /** Fixture `name` of dataset `d` (see [[path]]), returning `value(dir)`
    * memoized per JVM. A dir holding `_SUCCESS` is adopted as it is —
    * from this JVM or an earlier one. Anything else (absent, or partial
    * files a crashed build left) is deleted, `build(dir)` writes it, and
    * `_SUCCESS` lands only after `build` returns; a single Spark batch
    * write to `dir` writes its own.
    */
  def fixtureWith[T](area: String, d: String, name: String)(build: String => Unit)(
      value: String => T): T = synchronized {
    val dir = path(area, d, name)
    memo.getOrElseUpdate(dir, {
      val marker = new File(dir, "_SUCCESS")
      if (!marker.exists()) {
        delete(dir)
        build(dir)
        new File(dir).mkdirs()
        marker.createNewFile(): Unit
      }
      value(dir)
    }).asInstanceOf[T]
  }

  /** [[fixtureWith]] for the common case: the value is the dir itself. */
  def fixture(area: String, d: String, name: String)(build: String => Unit): String =
    fixtureWith(area, d, name)(build)(identity)

  /** `root(area)`, emptied: a tool's or spec's throwaway scratch root. */
  def fresh(area: String): String = {
    val r = root(area)
    delete(r)
    r
  }

  /** A new, uniquely named empty dir under [[base]]. */
  def tempDir(prefix: String): String =
    Files.createTempDirectory(new File(base).toPath, prefix).toString

  /** Recursive delete; an absent path is a no-op. */
  def delete(p: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
      f.delete(): Unit
    }
    rm(new File(p))
  }
}
