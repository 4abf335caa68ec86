package graft.crypto

import graft.io.EncryptedParquet
import org.apache.spark.sql.SparkSession

/** Parity entry points for the reference's mise tasks (mise.toml:28-42):
  *  - `runMain graft.crypto.WriteEncrypted [path] [kmsUrl]` ≙ `mise run write`
  *  - `runMain graft.crypto.ReadEncrypted [path] [kmsUrl] [token] [cols…]` ≙ `mise run read`
  * The KMS (`runMain graft.kms.TestKmsServer` ≙ `mise run serve`) must be
  * running; default URL matches the reference's port 8001.
  */
object Demo {
  private[crypto] def session(): SparkSession = graft.Graft.localSession("4")
}

object WriteEncrypted {
  def main(args: Array[String]): Unit = {
    val path = if (args.length > 0) args(0) else "/tmp/graft-dataset"
    val kmsUrl = if (args.length > 1) args(1) else "http://127.0.0.1:8001"
    val spark = Demo.session()
    // rmtree-then-write in the reference (write_encrypted_parquet.py:89-91)
    // = overwrite semantics for the demo; the library default is error.
    EncryptedParquet.write(
      Fixtures.people(spark), path, EncryptionPolicy.reference, kmsUrl,
      mode = "overwrite")
    println(s"wrote encrypted dataset to $path")
    spark.stop()
  }
}

object ReadEncrypted {
  def main(args: Array[String]): Unit = {
    val path = if (args.length > 0) args(0) else "/tmp/graft-dataset"
    val kmsUrl = if (args.length > 1) args(1) else "http://127.0.0.1:8001"
    val token = if (args.length > 2 && args(2) != "none") Some(args(2)) else None
    val cols = if (args.length > 3) args.drop(3).toSeq
      else Seq("id", "date_of_birth", "first_name", "last_name",
        "social_security_number")
    val spark = Demo.session()
    // Prints one row per line, like read_encrypted_parquet.py:44-45.
    EncryptedParquet.readCollected(spark, path, kmsUrl, token, cols)
      .orderBy(cols.head)
      .collect()
      .foreach(r => println(r.getValuesMap[Any](cols)))
    spark.stop()
  }
}
