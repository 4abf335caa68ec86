package graft.io

import java.io.File
import java.nio.file.{Files, Paths}

import graft.{SparkTestBase, Tables}
import graft.crypto.CryptoParity

/** The one fixture rule: a dataset's fixture has one deterministic path,
  * keyed by the dataset's files; a marked dir is adopted, anything else
  * is cleared and rebuilt; a build runs at most once per JVM.
  */
class ScratchSpec extends SparkTestBase {

  private val Area = "scratchspec"

  /** A private copy of the sf dir, so its tag (and every fixture path
    * under it) is this spec's alone.
    */
  private def copySf(suffix: String): String = {
    val d = Scratch.fresh(s"$Area-$suffix")
    Files.createDirectories(Paths.get(d))
    new File(sfDir).listFiles().foreach(f =>
      Files.copy(f.toPath, Paths.get(d, f.getName)))
    d
  }

  private lazy val copied: String = copySf("data")

  override def beforeAll(): Unit = {
    super.beforeAll()
    Scratch.fresh(Area): Unit
  }

  override def afterAll(): Unit = {
    Seq(Area, s"$Area-data", s"$Area-touched").foreach(a => Scratch.delete(Scratch.root(a)))
    super.afterAll()
  }

  private def writeFile(dir: String, name: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), name.getBytes): Unit
  }

  test("one (dataset, name) is one deterministic path, built once per JVM") {
    var builds = 0
    def get(): String = Scratch.fixture(Area, copied, "once") { dir =>
      builds += 1
      writeFile(dir, "part-0")
    }
    val (p1, p2) = (get(), get())
    assert(p1 == s"${Scratch.root(Area)}/${Tables.datasetTag(copied)}/once")
    assert(p1 == p2 && p1 == Scratch.path(Area, copied, "once"))
    assert(builds == 1, s"build ran $builds times")
    assert(new File(p1, "_SUCCESS").exists() && new File(p1, "part-0").exists())
  }

  test("a dir with partial files but no marker is cleared and rebuilt, never adopted") {
    val dir = Scratch.path(Area, copied, "partial")
    // A build that dies midway leaves files but no marker...
    intercept[IllegalStateException] {
      Scratch.fixture(Area, copied, "partial") { out =>
        writeFile(out, "stale-part")
        throw new IllegalStateException("build died")
      }
    }
    assert(new File(dir, "stale-part").exists() && !new File(dir, "_SUCCESS").exists())
    // ...so the next call deletes them and builds afresh.
    var builds = 0
    val got = Scratch.fixture(Area, copied, "partial") { out =>
      builds += 1
      writeFile(out, "fresh-part")
    }
    assert(got == dir && builds == 1)
    assert(!new File(dir, "stale-part").exists(), "partial files were adopted")
    assert(new File(dir, "fresh-part").exists() && new File(dir, "_SUCCESS").exists())
  }

  test("a marked dir left by an earlier JVM is adopted as it is, without a build") {
    val dir = Scratch.path(Area, copied, "adopted")
    writeFile(dir, "part-0")
    writeFile(dir, "_SUCCESS")
    val got = Scratch.fixture(Area, copied, "adopted")(_ => fail("a marked dir was rebuilt"))
    assert(got == dir && new File(dir, "part-0").exists())
  }

  test("a copied sf dir with one parquet file's mtime touched gets a different path") {
    val copy = copySf("touched")
    val before = Scratch.path(Area, copy, "x")
    assert(before != Scratch.path(Area, sfDir, "x"), "the copy's path is part of the key")
    val f = new File(copy, "nation.parquet")
    assert(f.setLastModified(f.lastModified() - 60000L))
    assert(Scratch.path(Area, copy, "x") != before, "a touched source must not share a fixture")
  }

  test("the q24 family's encrypted fixtures are deterministic paths under the crypto root") {
    val dirs = Seq(
      CryptoParity.encryptedDir(spark, sfDir),
      CryptoParity.encryptedLineitemDir(spark, sfDir),
      CryptoParity.encryptedDocsDir(spark, sfDir),
      CryptoParity.encryptedStreamDir(spark, sfDir))
    assert(dirs == Seq("nation", "lineitem", "documents", "events_stream/sink")
      .map(Scratch.path("crypto", sfDir, _)))
    assert(dirs.forall(_.startsWith(Scratch.root("crypto") + "/")))
    // Every q24-family query reads only those fixtures.
    CryptoParity.queries.foreach { q =>
      val files = q.fn(spark, sfDir).inputFiles
      assert(files.nonEmpty && files.forall(f => dirs.exists(d => f.contains(d + "/"))),
        s"${q.name} reads outside its fixtures: ${files.mkString(", ")}")
    }
  }
}
