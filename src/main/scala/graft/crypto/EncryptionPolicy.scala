package graft.crypto

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.crypto.keytools.{KeyToolkit, KmsClient, PropertiesDrivenCryptoFactory => PDCF}

/** Column-level encryption policy: which privilege level (KEK) protects
  * which columns, compiled to the Hadoop properties consumed by
  * parquet-mr's PropertiesDrivenCryptoFactory.
  *
  * Defaults reproduce the reference's writer config exactly
  * (write_encrypted_parquet.py:67-87): AES_GCM_V1, 256-bit DEKs, double
  * wrapping, internal key material, plaintext footer signed with the
  * footer KEK, 60 s KEK cache.
  */
final case class EncryptionPolicy(
    columnKeys: Map[PrivilegeLevel, Seq[String]],
    footerKey: PrivilegeLevel = PrivilegeLevel.Public,
    plaintextFooter: Boolean = true,
    algorithm: String = "AES_GCM_V1",
    dataKeyLengthBits: Int = 256,
    doubleWrapping: Boolean = true,
    internalKeyMaterial: Boolean = true,
    cacheLifetimeSeconds: Long = 60) {

  /** `kekId: col,col; kekId2: col` — the COLUMN_KEYS_PROPERTY_NAME format. */
  def columnKeysProperty: String =
    columnKeys.toSeq.sortBy(_._1.rank)
      .map { case (level, cols) => s"${level.name}: ${cols.mkString(", ")}" }
      .mkString("; ")

  /** Minimum privilege needed to read a column; None = plaintext. */
  def levelOf(column: String): Option[PrivilegeLevel] =
    columnKeys.collectFirst { case (l, cols) if cols.contains(column) => l }
}

object EncryptionPolicy {

  /** The reference's demo policy (write_encrypted_parquet.py:75-79). */
  val reference: EncryptionPolicy = EncryptionPolicy(
    columnKeys = Map(
      PrivilegeLevel.Internal     -> Seq("date_of_birth"),
      PrivilegeLevel.Confidential -> Seq("first_name", "last_name"),
      PrivilegeLevel.Restricted   -> Seq("social_security_number")))

  val CryptoFactoryClassProperty = "parquet.crypto.factory.class"

  /** Reader-side crypto conf as a plain map: factory + KMS endpoint +
    * token only — the column policy is discovered from the file's key
    * metadata. Returned as a map so it can travel as per-relation
    * DataFrame reader/writer OPTIONS (Spark merges datasource options
    * into each scan's/job's Hadoop conf via newHadoopConfWithOptions),
    * which keeps every encrypted relation carrying its own token instead
    * of mutating the session-global Hadoop conf.
    */
  def readConfMap(kmsUrl: String, accessToken: Option[String]): Map[String, String] =
    Map(
      CryptoFactoryClassProperty -> classOf[PDCF].getName,
      KeyToolkit.KMS_CLIENT_CLASS_PROPERTY_NAME -> classOf[HttpKmsClient].getName,
      KeyToolkit.KMS_INSTANCE_URL_PROPERTY_NAME -> kmsUrl,
      // KeyToolkit caches KmsClient instances by (instance id, token);
      // using the URL as the id keeps a restarted/relocated KMS from being
      // served by a stale cached client pointing at the old endpoint.
      KeyToolkit.KMS_INSTANCE_ID_PROPERTY_NAME -> kmsUrl) ++
      accessToken.map(KeyToolkit.KEY_ACCESS_TOKEN_PROPERTY_NAME -> _)

  /** Writer-side crypto conf map (encryption side needs the policy). */
  def writeConfMap(policy: EncryptionPolicy, kmsUrl: String,
      accessToken: Option[String]): Map[String, String] =
    readConfMap(kmsUrl, accessToken) ++ Map(
      PDCF.COLUMN_KEYS_PROPERTY_NAME -> policy.columnKeysProperty,
      PDCF.FOOTER_KEY_PROPERTY_NAME -> policy.footerKey.name,
      PDCF.PLAINTEXT_FOOTER_PROPERTY_NAME -> policy.plaintextFooter.toString,
      PDCF.ENCRYPTION_ALGORITHM_PROPERTY_NAME -> policy.algorithm,
      KeyToolkit.DATA_KEY_LENGTH_PROPERTY_NAME -> policy.dataKeyLengthBits.toString,
      KeyToolkit.DOUBLE_WRAPPING_PROPERTY_NAME -> policy.doubleWrapping.toString,
      KeyToolkit.KEY_MATERIAL_INTERNAL_PROPERTY_NAME -> policy.internalKeyMaterial.toString,
      KeyToolkit.CACHE_LIFETIME_PROPERTY_NAME -> policy.cacheLifetimeSeconds.toString)

  /** Reader-side crypto conf applied to a Hadoop Configuration. */
  def applyReadConf(conf: Configuration, kmsUrl: String,
      accessToken: Option[String]): Unit = {
    readConfMap(kmsUrl, accessToken).foreach { case (k, v) => conf.set(k, v) }
    if (accessToken.isEmpty) conf.unset(KeyToolkit.KEY_ACCESS_TOKEN_PROPERTY_NAME)
  }

  /** Drop parquet-mr's JVM-wide KMS-client and KEK caches for `tokens`
    * only (`None` is a token-less caller, cached under parquet's
    * `DEFAULT`). A key rotation flushes the tokens it writes and verifies
    * with; every other token's warm reader cache stays warm.
    */
  def flushKeyCaches(tokens: Option[String]*): Unit =
    tokens.map(_.getOrElse(KmsClient.KEY_ACCESS_TOKEN_DEFAULT)).distinct
      .foreach(KeyToolkit.removeCacheEntriesForToken)
}
