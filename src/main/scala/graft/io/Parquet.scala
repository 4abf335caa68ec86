package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one batch Parquet read: every table load, encrypted read and
  * index-artifact read in the engine goes through [[read]].
  *
  * A bare `spark.read.parquet(path)` runs a whole Spark job to infer the
  * schema (the footer-merge job of `ParquetFileFormat.inferSchema`)
  * before the caller's own query is even built — on a sub-second query
  * that job weighs as much as the query. Here the schema is inferred
  * once per JVM and handed to the reader (`.schema(s)`), which plans
  * exactly what the inferring read plans, with no job.
  *
  * This is catalog metadata, not result caching: no row is cached and
  * nothing outlives the JVM. Scan tasks still open every footer and
  * decrypt (so authorize) every projected column, so a privilege
  * denial still fails the job at action time. A cached schema is served
  * only to a read that would infer the same one, which the key pins:
  *
  *  - the qualified path;
  *  - a content tag over every file under it (name, size, mtime, listed
  *    recursively through [[Afs]]), so a rewritten or touched file
  *    re-infers, on any filesystem and through partition dirs;
  *  - the full reader-options map — for an encrypted read that includes
  *    the KMS URL and the privilege token, so a token never receives an
  *    entry another token filled (a token that cannot unwrap an
  *    encrypted footer keeps failing at inference, as it always did);
  *  - the session's and the context's inference-relevant conf
  *    ([[inferenceConf]]).
  *
  * Only a successful inference is cached; a failing one throws exactly
  * what the bare read throws, every time.
  */
object Parquet {

  /** Entries kept, least recently used evicted first. A schema is a few
    * KB; the registry touches ~100 distinct (dataset, options) pairs.
    */
  private val MaxEntries = 256

  private final case class Key(path: String, content: String,
      options: Map[String, String], conf: Map[String, String])

  private val cache = new java.util.LinkedHashMap[Key, StructType](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
      size > MaxEntries
  }

  /** `spark.read.options(options).parquet(path)` with its schema
    * resolved through the per-JVM cache ([[schema]]), read through
    * [[PruningParquetFormat]]: Spark's Parquet source, plus row-group
    * pruning on `TIMESTAMP_NTZ` comparisons.
    */
  def read(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format(classOf[PruningParquetFormat].getName).options(options)
      .schema(schema(spark, path, options)).load(path)

  /** The schema `spark.read.options(options).parquet(path)` infers,
    * inferred at most once per JVM for the same [[Key]]. Also what a
    * streaming read of a parquet dir (which must be given one) takes.
    */
  def schema(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): StructType = {
    val key = Key(Afs.qualify(path), contentTag(path), options, inferenceConf(spark))
    cache.synchronized(Option(cache.get(key))).getOrElse {
      // Inferred outside the lock: a cold dataset must not hold up reads
      // of warm ones. Two threads racing one cold key both infer it.
      val s = spark.read.options(options).parquet(path).schema
      cache.synchronized(cache.put(key, s))
      s
    }
  }

  /** Digest of (path, size, mtime) over every file under `path`. */
  private def contentTag(path: String): String = {
    val listing = Afs.filesUnder(path)
      .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(listing.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  private val ConfPrefixes = Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.", "parquet.")
  private val ConfKeys = Set(
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.files.ignoreMissingFiles")

  /** The conf that can change what inference returns: the session's
    * Parquet, legacy-Parquet, case-sensitivity, partition-typing and
    * corrupt/missing-file settings and Hadoop-keyed `parquet.*` entries
    * (`EncryptedParquet.withEncryptedStream` binds some), plus the
    * context Hadoop conf's `parquet.*` entries. Only explicitly set
    * session entries appear; defaults are the same for every session.
    */
  private def inferenceConf(spark: SparkSession): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val session = spark.conf.getAll.filter { case (k, _) =>
      ConfKeys(k) || ConfPrefixes.exists(k.startsWith)
    }
    val hadoop = spark.sparkContext.hadoopConfiguration
      .getPropsWithPrefix("parquet.").asScala.map { case (k, v) => s"hadoop:parquet.$k" -> v }
    session ++ hadoop
  }
}
