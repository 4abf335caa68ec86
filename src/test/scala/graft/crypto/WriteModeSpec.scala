package graft.crypto

import graft.SparkTestBase
import graft.io.EncryptedParquet
import graft.kms.TestKmsServer
import org.apache.spark.sql.AnalysisException

/** Write-mode parity: the reference writer refuses to clobber existing
  * data (`existing_data_behavior="error"`, write_encrypted_parquet.py:26)
  * and its demo overwrites only via an explicit pre-write rmtree
  * (write_encrypted_parquet.py:89-91). `EncryptedParquet.write` mirrors
  * that: default `errorifexists`, overwrite only on request.
  */
class WriteModeSpec extends SparkTestBase {

  test("default write mode errors on existing data; explicit overwrite succeeds") {
    val kms = new TestKmsServer().start()
    try {
      val dir = tempDir("graft-mode-")
      val df = Fixtures.people(spark)
      // First write into the pre-existing (empty temp) dir must already
      // error — Spark's errorifexists refuses any existing path.
      intercept[AnalysisException] {
        EncryptedParquet.write(df, dir, EncryptionPolicy.reference, kms.url)
      }
      // A fresh (non-existent) path works with the default mode...
      val fresh = s"$dir/data"
      EncryptedParquet.write(df, fresh, EncryptionPolicy.reference, kms.url)
      // ...but writing again errors, like the reference.
      intercept[AnalysisException] {
        EncryptedParquet.write(df, fresh, EncryptionPolicy.reference, kms.url)
      }
      // Explicit overwrite (the rmtree+write pair) replaces the data.
      EncryptedParquet.write(df.limit(1), fresh, EncryptionPolicy.reference,
        kms.url, mode = "overwrite")
      val got = EncryptedParquet.read(spark, fresh, kms.url, Some("RESTRICTED"))
      assert(got.count() == 1)
    } finally kms.stop()
  }
}
