package graft.io

import java.io.File
import java.nio.file.{Files, Paths}

import graft.{SparkEntry, SparkTestBase, Tables}
import graft.crypto.{EncryptionPolicy, Fixtures, PrivilegeLevel}
import graft.kms.TestKmsServer
import graft.obs.QueryMetrics
import org.apache.parquet.crypto.KeyAccessDeniedException
import org.apache.spark.sql.types.{BinaryType, StringType}

/** The one batch Parquet read ([[Parquet.read]]): every read lists its
  * path once, a warm read builds its frame with no Spark job, anything
  * that can change the inferred schema (a file under the path, the
  * session's Parquet conf, the reader's options and so its privilege
  * token) gets its own inference, and no read that a bare inferring read
  * refuses is let through — a denial still fails where it failed before.
  */
class ParquetSpec extends SparkTestBase {

  private var kms: TestKmsServer = _
  private var qm: QueryMetrics = _
  private lazy val root = tempDir("graft-parquet-schema-")

  override def beforeAll(): Unit = {
    super.beforeAll()
    kms = new TestKmsServer().start()
    qm = QueryMetrics.install(spark)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(qm)
    kms.stop()
    super.afterAll()
  }

  /** Spark jobs `run` fires. */
  private def jobs(run: => Any): Long =
    qm.measure(spark, "build")(run: Unit).map(_.jobs).getOrElse(fail("the measured run threw"))

  private def people(name: String, policy: EncryptionPolicy): String = {
    val dir = s"$root/$name"
    EncryptedParquet.write(Fixtures.people(spark), dir, policy, kms.url)
    dir
  }

  private def deniedByKms(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[KeyAccessDeniedException])

  test("a warm Tables.load and a warm EncryptedParquet.read build their frame with 0 Spark jobs") {
    Tables.orders(spark, sfDir)
    assert(jobs(Tables.orders(spark, sfDir).schema) == 0L)
    val dir = people("warm", EncryptionPolicy.reference)
    EncryptedParquet.read(spark, dir, kms.url, Some("RESTRICTED"))
    assert(jobs(EncryptedParquet.read(spark, dir, kms.url, Some("RESTRICTED")).schema) == 0L)
  }

  test("a warm q01 runs exactly one job fewer than a cold one: its one table load") {
    val d = s"$root/q01"
    Files.createDirectories(Paths.get(d))
    Files.copy(Paths.get(s"$sfDir/lineitem.parquet"), Paths.get(s"$d/lineitem.parquet"))
    def q01(): Unit = SparkEntry.queries("q01_filter_project")(spark, d)
      .write.format("noop").mode("overwrite").save()
    val cold = jobs(q01())
    val warm = jobs(q01())
    assert(cold - warm == 1L, s"cold q01 ran $cold jobs, warm $warm")
  }

  test("rewriting or touching any file under the path re-infers its schema") {
    val dir = s"$root/touched"
    spark.range(4).selectExpr("id AS a", "id % 2 AS p").write.partitionBy("p").parquet(dir)
    Parquet.read(spark, dir)
    assert(jobs(Parquet.read(spark, dir)) == 0L)
    val part = new File(s"$dir/p=1").listFiles().find(_.getName.endsWith(".parquet")).get
    assert(part.setLastModified(part.lastModified + 10000L))
    assert(jobs(Parquet.read(spark, dir)) == 1L, "a touched partition file served the old entry")
    assert(jobs(Parquet.read(spark, dir)) == 0L)
    spark.range(4).selectExpr("id AS a", "id * 2 AS b", "id % 2 AS p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    assert(Parquet.read(spark, dir).columns.toSeq == Seq("a", "b", "p"))
  }

  test("sessions that differ in spark.sql.parquet.binaryAsString each get their own schema") {
    // Written by bare parquet-mr: a Spark writer stores its own schema in
    // the footer, which inference prefers over the conf.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = s"$root/binary"
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x"))
    finally w.close()
    val asBinary = spark.newSession()
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Parquet.read(asBinary, dir).schema("b").dataType == BinaryType)
    assert(Parquet.read(asString, dir).schema("b").dataType == StringType)
    assert(Parquet.read(asBinary, dir).schema("b").dataType == BinaryType)
  }

  test("a Parquet.read lists its dir once, cold with one job and warm with none") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    val dir = s"$root/listed"
    spark.range(30).repartition(3).write.parquet(dir)
    assert(new File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 3)
    // (listings of `dir`, Spark jobs) of one read through `faulty://`.
    def read(): (Long, Long) = {
      val before = FaultyFileSystem.listings(dir)
      val ran = jobs(Parquet.read(spark, s"faulty://$dir"))
      (FaultyFileSystem.listings(dir) - before, ran)
    }
    assert(read() == ((1L, 1L)), "a cold read's (listings, jobs)")
    assert(read() == ((1L, 0L)), "a warm read's (listings, jobs)")
  }

  test("a token below an encrypted footer's level is refused after a RESTRICTED read warmed the cache") {
    val dir = people("footer", EncryptionPolicy.reference.copy(
      plaintextFooter = false, footerKey = PrivilegeLevel.Confidential))
    assert(EncryptedParquet.read(spark, dir, kms.url, Some("RESTRICTED"))
      .select("social_security_number").collect().length == 3)
    val e = intercept[Exception](EncryptedParquet.read(spark, dir, kms.url, Some("INTERNAL")))
    assert(deniedByKms(e), s"expected a KMS denial, got $e")
  }

  test("a denied column read still builds, then fails at action time with KeyAccessDeniedException") {
    val dir = people("column", EncryptionPolicy.reference)
    EncryptedParquet.read(spark, dir, kms.url, Some("RESTRICTED")).collect()
    EncryptedParquet.read(spark, dir, kms.url, Some("INTERNAL"))
    assert(jobs(EncryptedParquet.read(spark, dir, kms.url, Some("INTERNAL"))) == 0L)
    val low = EncryptedParquet.read(spark, dir, kms.url, Some("INTERNAL"))
    val e = intercept[Exception](low.select("id", "social_security_number").collect())
    assert(deniedByKms(e), s"expected a KMS denial, got $e")
    assert(low.select("id", "date_of_birth").collect().length == 3)
  }
}
