package graft.crypto

import java.nio.file.Files

import graft.SparkTestBase
import graft.io.EncryptedParquet
import graft.kms.TestKmsServer
import org.apache.parquet.crypto.KeyAccessDeniedException
import org.scalatest.BeforeAndAfterAll

/** Golden parity spec (SURVEY.md §5): the reference's write-then-read demo
  * (README.md:96-127) as an automated matrix over the people fixture.
  */
class EncryptedRoundtripSpec extends SparkTestBase with BeforeAndAfterAll {

  private var kms: TestKmsServer = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    kms = new TestKmsServer().start()
    dir = tempDir("graft-pme-")
    EncryptedParquet.write(
      Fixtures.people(spark), dir, EncryptionPolicy.reference, kms.url,
      mode = "overwrite")
  }

  override def afterAll(): Unit = {
    kms.stop()
    super.afterAll()
  }

  test("q24e: engine dedup over encrypted documents == dedup over plaintext") {
    // The preserved-functionality thesis (README.md:17-19) on the query
    // surface: an engine operator must be result-identical whether its
    // scan decrypts or not.
    val enc = CryptoParity.q24e.fn(spark, sfDir).collect().toSeq
    val plain = graft.ops.Dedup.q21.fn(spark, sfDir).collect().toSeq
    assert(enc === plain)
  }

  private def read(token: Option[String], cols: String*): Seq[Seq[Any]] =
    EncryptedParquet.readCollected(spark, dir, kms.url, token, cols)
      .orderBy(cols.head)
      .collect().toIndexedSeq.map(_.toSeq)

  test("RESTRICTED reads all five columns — golden rows") {
    val got = read(Some("RESTRICTED"), "id", "date_of_birth", "first_name",
      "last_name", "social_security_number")
    val want = Fixtures.peopleRows.map(_.toSeq)
    assert(got == want)
  }

  test("CONFIDENTIAL reads names+dob but not SSN") {
    val ok = read(Some("CONFIDENTIAL"), "id", "date_of_birth", "first_name", "last_name")
    assert(ok.map(_.head) == Seq(1L, 2L, 3L))
    val e = intercept[Exception](read(Some("CONFIDENTIAL"), "id", "social_security_number"))
    assert(causedByAccessDenied(e), s"unexpected failure: $e")
  }

  test("INTERNAL reads dob but neither names nor SSN") {
    val ok = read(Some("INTERNAL"), "id", "date_of_birth")
    assert(ok == Fixtures.peopleRows.map(r => Seq(r.get(0), r.get(1))))
    assert(causedByAccessDenied(
      intercept[Exception](read(Some("INTERNAL"), "id", "first_name"))))
  }

  test("no token reads only the plaintext id column") {
    assert(read(None, "id").map(_.head) == Seq(1L, 2L, 3L))
    assert(causedByAccessDenied(
      intercept[Exception](read(None, "id", "date_of_birth"))))
  }

  test("PUBLIC token conveys no column privilege") {
    assert(causedByAccessDenied(
      intercept[Exception](read(Some("PUBLIC"), "id", "date_of_birth"))))
  }

  test("plaintext footer: legacy reader (no crypto conf) reads id") {
    // No decryption factory configured at all — the plaintext-footer file
    // must still be listable and its plaintext column readable
    // (README.md:49-54, write_encrypted_parquet.py:85).
    // No crypto key is bound to the session's Hadoop conf (crypto travels
    // as per-relation options), so this really is a crypto-less reader.
    val hadoop = spark.sessionState.newHadoopConf()
    val bound = EncryptionPolicy.writeConfMap(EncryptionPolicy.reference, "kms", Some("token"))
      .keySet.filter(k => hadoop.get(k) != null)
    assert(bound.isEmpty, s"crypto keys set on the session's Hadoop conf: $bound")
    val rows = spark.read.parquet(dir).select("id").orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("zstd compression and column encryption visible in footer metadata") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val file = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.toString).find(_.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), new Configuration()))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
      val byPath = cols.map(c => Option(c.getPath).map(_.toDotString).getOrElse("")).toSeq
      // Encrypted columns hide their metadata unless decryption props are
      // given; the plaintext id column must be present with ZSTD codec.
      val id = cols.find(c => Option(c.getPath).exists(_.toDotString == "id"))
      assert(id.isDefined, s"id column chunk missing from $byPath")
      assert(id.get.getCodec.name() == "ZSTD")
    } finally reader.close()
  }

  private def causedByAccessDenied(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.isInstanceOf[KeyAccessDeniedException] ||
          Option(t.getMessage).exists(m => m.contains("denied") || m.contains("403")))
        return true
      t = t.getCause
    }
    false
  }
}
