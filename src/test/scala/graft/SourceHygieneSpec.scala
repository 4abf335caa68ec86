package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source hygiene: ONE local-session factory (`Graft.localSession`, whose
  * closed set of shapes covers the bench, the oracle and the specs), ONE
  * Spark listener (`graft.obs.QueryMetrics`), ONE scratch-placement rule
  * (`graft.io.Scratch`), ONE crypto carrier in the ANN index
  * (`AnnIndex.IndexCrypto`), ONE claim loop (`graft.io.Afs.claim`) and
  * ONE batch Parquet read (`graft.io.Parquet.read`, `.parquet(` or a
  * Parquet `.format(...).load(`), ONE way graft's
  * functions reach a session (the ServiceLoader-installed
  * `GraftSparkExtensions`) and ONE way an operator runs under confs of
  * its own (a scoped clone, `org.apache.spark.sql.graft.Sessions`), and
  * ONE ANN serve plan (`IvfPq.probeSegments`, one ADC scoring site). A
  * second builder, collector, private scratch root, raw crypto option
  * map, copied claim loop, second batch Parquet read or schema handed to
  * one, spec temp dir left behind, imperative function
  * registration, set-and-restore of a caller's session conf, fresh
  * `newSession()` or second serve pipeline regrowing in a module fails
  * here.
  */
class SourceHygieneSpec extends AnyFunSuite {

  /** (file under `dir`, line number, line) for each code line. */
  private def codeLinesIn(dir: String): Seq[(String, Int, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"spec must run from the repo root (no $root)")
    Files.walk(root).iterator.asScala.toSeq.filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if !Seq("//", "*", "/*").exists(l.trim.startsWith) =>
            (root.relativize(p).toString, i + 1, l.trim)
        }
      }
  }

  private lazy val codeLines = codeLinesIn("src/main/scala")

  private def assertOnlyIn(pattern: Regex, allowed: Set[String],
      under: String = "", lines: Seq[(String, Int, String)] = codeLines): Unit = {
    val found = lines.filter(h =>
      h._1.startsWith(under) && pattern.findFirstIn(h._3).isDefined)
    // Not vacuous: the pattern still matches its allowed homes.
    assert(allowed.subsetOf(found.map(_._1).toSet), s"$pattern no longer matches $allowed")
    val strays = found.filterNot(h => allowed(h._1))
    assert(strays.isEmpty, s"$pattern outside $allowed:\n  " +
      strays.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n  "))
  }

  test("SparkSession.builder() appears only in Graft.localSession") {
    assertOnlyIn("""SparkSession\s*\.\s*builder\b""".r, Set("graft/Graft.scala"))
  }

  test("the only SparkListener implementation is graft.obs.QueryMetrics") {
    assertOnlyIn(
      """\b(extends|with|new)\s+[\w.]*\b(SparkListener|SparkListenerInterface|SparkFirehoseListener)\b""".r,
      Set("graft/obs/QueryMetrics.scala"))
  }

  test("the /dev/shm literal and Files.createTempDirectory appear only in graft.io.Scratch") {
    assertOnlyIn("\"/dev/shm".r, Set("graft/io/Scratch.scala"))
    assertOnlyIn("""\bcreateTempDirectory\b""".r, Set("graft/io/Scratch.scala"))
  }

  test("specs make temp dirs only with SparkTestBase.tempDir, which removes them") {
    assertOnlyIn("""\bcreateTempDirectory\b""".r, Set("graft/SparkTestBase.scala"),
      lines = codeLinesIn("src/test/scala").filterNot(_._1 == "graft/SourceHygieneSpec.scala"))
  }

  test("under graft/ops the crypto conf maps are built only where IndexCrypto is defined") {
    assertOnlyIn("""\b(readConfMap|writeConfMap)\b""".r,
      Set("graft/ops/AnnIndex.scala"), under = "graft/ops/")
  }

  /** A batch read chain: `.read`, any option/schema/format calls, then
    * `.parquet(` or `.load(`, however the chain is split across lines.
    */
  private val readChain =
    """\.read\b\s*(?:\.\s*\w+\s*\((?:[^()]|\([^()]*\))*\)\s*)*\.\s*(parquet|load)\s*\(""".r
  /** A `.format("…")` naming a source other than Parquet. */
  private val otherFormat = """\.\s*format\s*\(\s*"(?!(?i:parquet)")[^"]*"\s*\)""".r

  /** Whether a matched read chain reads Parquet: `.parquet(`, or a
    * `.load(` whose format is not a quoted non-Parquet source (a bare
    * `.load` reads the default source, Parquet; a format given by class
    * or value may be Parquet).
    */
  private def readsParquet(chain: scala.util.matching.Regex.Match): Boolean =
    chain.group(1) == "parquet" || otherFormat.findFirstIn(chain.matched).isEmpty

  /** Batch Parquet reads as (file, line, chain). */
  private lazy val parquetReads: Seq[(String, Int, String)] =
    codeLines.groupBy(_._1).toSeq.flatMap { case (file, lines) =>
      val text = lines.map(_._3).mkString("\n")
      readChain.findAllMatchIn(text).filter(readsParquet).map(m =>
        (file, lines(text.substring(0, m.start).count(_ == '\n'))._2, m.matched))
    }

  test("the batch-read pattern catches .parquet and Parquet .format(...).load reads") {
    def parquet(code: String) = readChain.findFirstMatchIn(code).exists(readsParquet)
    assert(parquet("spark.read.options(o).schema(s).parquet(p)"))
    assert(parquet("s.read\n.format(classOf[PruningParquetFormat].getName).options(o)\n.load(p)"))
    assert(parquet("""spark.read.format("parquet").load(p)"""))
    assert(parquet("spark.read.format(fmt).load(p)"))
    assert(parquet("spark.read.load(p)"))
    assert(!parquet("""s.read.format("binaryFile").load(dir)"""))
    assert(!parquet("""spark.read.format("csv").option("header", "true").load(p)"""))
  }

  test("batch Parquet reads go through graft.io.Parquet, apart from the named sites") {
    val allowed = Map(
      "graft/io/Parquet.scala" -> "the entry point: its one format read",
      "graft/ops/Sources.scala" -> "q74's two-path mergeSchema read, which must infer")
    assert(allowed.keySet.subsetOf(parquetReads.map(_._1).toSet),
      s"the read pattern no longer matches ${allowed.keySet}")
    val strays = parquetReads.filterNot(r => allowed.contains(r._1))
    assert(strays.isEmpty, "batch Parquet read outside graft.io.Parquet:\n  " +
      strays.map { case (f, n, _) => s"$f:$n" }.mkString("\n  "))
  }

  test("no batch Parquet read hands the reader a schema") {
    // graft.io.PruningParquetFormat resolves every batch Parquet schema
    // from the listing Spark makes; a schema handed over needs a listing
    // of its own to be inferred.
    val handsSchema = """\.\s*schema\s*\(""".r
    def handOff(code: String) = readChain.findFirstMatchIn(code)
      .exists(m => readsParquet(m) && handsSchema.findFirstIn(m.matched).isDefined)
    // It matches the read graft.io.Parquet once made with an inferred schema...
    assert(handOff("spark.read.format(classOf[PruningParquetFormat].getName).options(options)\n" +
      ".schema(schema(spark, path, options)).load(path)"))
    // ...and not the plain format read it makes now.
    assert(!handOff("spark.read.format(classOf[PruningParquetFormat].getName).options(options).load(path)"))
    val hits = parquetReads.filter(r => handsSchema.findFirstIn(r._3).isDefined)
    assert(hits.isEmpty, "batch Parquet read handed a schema:\n  " +
      hits.map { case (f, n, _) => s"$f:$n" }.mkString("\n  "))
  }

  test("createExclusive is called only from the claim primitive's file") {
    assertOnlyIn("""\bcreateExclusive\s*\(""".r, Set("graft/io/Afs.scala"))
  }

  test("session confs are set only by Graft.tune and on a scoped clone") {
    // `<session>.conf.set(` / `.unset(` on a SparkSession's RuntimeConfig.
    val pattern = """\.conf\s*\.\s*(?:set|unset)\s*\(""".r
    // It matches the set the connected-components loop once made on its
    // caller's session...
    assert(pattern.findFirstIn("""s.conf.set("spark.sql.shuffle.partitions", "8")""").isDefined)
    // ...and not a Hadoop Configuration's set.
    Seq("graft/crypto/EncryptionPolicy.scala" -> "conf.set(k, v)",
        "graft/ops/IvfPq.scala" -> "conf.set(KeyToolkit.KEY_MATERIAL_INTERNAL_PROPERTY_NAME")
      .foreach { case (file, set) =>
        val line = codeLines.find(h => h._1 == file && h._3.contains(set))
        assert(line.isDefined, s"no Hadoop conf set `$set` in $file")
        assert(pattern.findFirstIn(line.get._3).isEmpty, s"$pattern matches ${line.get}")
      }
    assertOnlyIn(pattern,
      Set("graft/Graft.scala", "org/apache/spark/sql/graft/Sessions.scala"))
  }

  test("no session under src/main is built with newSession()") {
    // A stream already runs on its own clone of the session it is built
    // on, and every other operator runs on its caller's session or a
    // scoped clone; each new session is one more executor-side artifact
    // session.
    val pattern = """\.newSession\s*\(""".r
    // It matches the per-call session the stream ingest once built.
    assert(pattern.findFirstIn("val s2 = s.newSession()").isDefined)
    val hits = codeLines.filter(h => pattern.findFirstIn(h._3).isDefined)
    assert(hits.isEmpty, "newSession() under src/main:\n  " +
      hits.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n  "))
  }

  test("the ANN serve scores ADC at one site, and no second serve pipeline exists") {
    // One route → ADC → refine plan serves every probe frame: a second
    // adc_dot or pq_lut call would be a second scoring pipeline.
    Seq("""\bGraftFunctions\s*\.\s*adcDot\s*\(""".r,
        """\bGraftFunctions\s*\.\s*pqLut\s*\(""".r).foreach { pattern =>
      val hits = codeLines.filter(h => pattern.findFirstIn(h._3).isDefined)
      // Not vacuous: the one site still matches.
      assert(hits.size == 1, s"$pattern called ${hits.size} times under src/main:\n  " +
        hits.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n  "))
    }
    val self = Paths.get("src/test/scala/graft/SourceHygieneSpec.scala")
    val gone = Files.walk(Paths.get("src")).iterator.asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p != self)
      .filter(p => new String(Files.readAllBytes(p), "ISO-8859-1")
        .contains("probeDistributedSegments"))
    assert(gone.isEmpty, s"a second serve entry point is back: ${gone.mkString(", ")}")
  }

  test("no file under src/ registers functions imperatively") {
    // Every session gets graft's functions from GraftSparkExtensions when
    // it is built; a temp-function registration would be a second path.
    val self = Paths.get("src/test/scala/graft/SourceHygieneSpec.scala")
    val pattern = """\bcreateOrReplaceTempFunction\b|\bGraftFunctions\s*\.\s*register\b""".r
    val hits = Files.walk(Paths.get("src")).iterator.asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p != self)
      .flatMap { p =>
        new String(Files.readAllBytes(p), "ISO-8859-1").linesIterator.zipWithIndex
          .collect { case (l, i) if pattern.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}" }
      }
    assert(hits.isEmpty, "imperative function registration under src/:\n  " + hits.mkString("\n  "))
  }
}
