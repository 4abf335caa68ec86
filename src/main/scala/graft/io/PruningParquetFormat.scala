package graft.io

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{StructType, TimestampNTZType}
import org.apache.spark.util.SerializableConfiguration

/** Spark's Parquet source — the source [[Parquet.read]] reads through —
  * with two jobs of its own: a memoized schema inference and row-group
  * pruning on `TIMESTAMP_NTZ` comparisons.
  *
  * '''Schema memo.''' Spark infers a schema with a job over the footers
  * before the caller's query is even built; on a sub-second query that
  * job weighs as much as the query. Spark calls [[inferSchema]] with the
  * listing its file index just made, and the schema inferred from it is
  * kept per JVM, so a warm read lists its path once and runs no job. This
  * is catalog metadata, not result caching: no row is cached, nothing
  * outlives the JVM, and scan tasks still decrypt (so authorize) every
  * projected column, so a denial still fails at action time. The key pins
  * a read that would infer the same schema: a digest of the listed files
  * (path, size, mtime), so a rewritten or touched file re-infers; the
  * options Spark passes in, which for an encrypted read hold the KMS URL
  * and the privilege token, so no token is served an entry another token
  * filled (one that cannot unwrap an encrypted footer keeps failing at
  * inference); and the inference-relevant conf (`inferenceConf`). Spark's
  * listing skips `_`-prefixed files, so `_SUCCESS` and the
  * `_KEY_MATERIAL_FOR_*` sidecars are outside the key: a sidecar-only
  * rewrite (an in-place key rotation) never changes a schema, and a token
  * the rotated material denies still fails in the scan. Only a successful
  * inference is cached.
  *
  * '''Row-group pruning.''' Every date column of the corpus is a naive
  * `TIMESTAMP(isAdjustedToUTC=false)`, which Spark reads as
  * `TIMESTAMP_NTZ`, and Spark 4.1's `ParquetFilters` builds Parquet
  * predicates only for UTC-adjusted timestamps: a date window shows up in
  * `PushedFilters` but never skips a row group. Here each scan task reads
  * its split's footer (the same crypto-aware, signature-verified
  * `ParquetFooterReader` read the scan itself makes, through the scan's own
  * broadcast Hadoop conf), tests each row group's min/max statistics
  * against the NTZ `>`, `>=`, `<`, `<=`, `=` and `In` filters (and `And` /
  * `Or` of them), and hands Spark's stock reader only the byte ranges of
  * the row groups it keeps. A split with nothing left is never opened by
  * the reader. Spark's own pushdown, the row-level `Filter` above the scan
  * and the plan text (`Format: Parquet`) are unchanged; so is every result.
  *
  * Pruning never touches a key the scan would not. Row-group boundaries
  * come from the first column's chunk offsets, so a file whose first
  * column has encrypted metadata (reading it would unwrap that column's
  * key, which an unprojected column's scan never does) is read unpruned.
  * The statistics tested are the filter column's own, which the scan
  * decrypts anyway to read that column; a window that keeps no row group
  * of a file therefore reads no projected column and unwraps no column
  * key, exactly as Spark's own pushdown does on date, UTC-timestamp and
  * numeric columns.
  *
  * `spark.sql.parquet.filterPushdown` and
  * `spark.sql.parquet.filterPushdown.timestamp` switch the pruning off
  * with the rest of Spark's timestamp pushdown.
  */
class PruningParquetFormat extends ParquetFileFormat {

  override def inferSchema(
      sparkSession: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] =
    PruningParquetFormat.memoized(sparkSession, options, files)(
      super.inferSchema(sparkSession, options, files))

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[sources.Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val read = super.buildReaderWithPartitionValues(sparkSession, dataSchema,
      partitionSchema, requiredSchema, filters, options, hadoopConf)
    val conf = getSqlConf(sparkSession)
    val caseSensitive = conf.caseSensitiveAnalysis
    val test =
      if (!conf.parquetFilterPushDown || !conf.parquetFilterPushDownTimestamp) None
      else PruningParquetFormat.translate(filters, dataSchema)
    val pruned = for (t <- test; shared <- PruningParquetFormat.scanConf(read))
      yield (file: PartitionedFile) =>
        PruningParquetFormat.ranges(shared.value.value, file, t, caseSensitive) match {
          case None => read(file)
          case Some(kept) => kept.iterator.flatMap { case (s, e) =>
            read(file.copy(start = s, length = e - s))
          }
        }
    pruned.getOrElse(read)
  }
}

object PruningParquetFormat {

  /** Entries kept, least recently used evicted first. A schema is a few
    * KB; the registry touches ~100 distinct (dataset, options) pairs.
    */
  private val MaxEntries = 256

  private final case class Key(files: String, options: Map[String, String],
      conf: Map[String, String])

  private val cache = new java.util.LinkedHashMap[Key, StructType](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
      size > MaxEntries
  }

  /** The schema `infer` returns, inferred at most once per JVM for the
    * same [[Key]].
    */
  private def memoized(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus])(infer: => Option[StructType]): Option[StructType] = {
    val key = Key(digest(files), Map.from(options), inferenceConf(spark))
    cache.synchronized(Option(cache.get(key))).orElse {
      // Inferred outside the lock: a cold dataset must not hold up reads
      // of warm ones. Two threads racing one cold key both infer it.
      val s = infer
      s.foreach(v => cache.synchronized(cache.put(key, v)))
      s
    }
  }

  /** Digest of (path, size, mtime) over `files`. */
  private def digest(files: Seq[FileStatus]): String = {
    val listing = files
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
    val session = spark.conf.getAll.filter { case (k, _) =>
      ConfKeys(k) || ConfPrefixes.exists(k.startsWith)
    }
    val hadoop = spark.sparkContext.hadoopConfiguration
      .getPropsWithPrefix("parquet.").asScala.map { case (k, v) => s"hadoop:parquet.$k" -> v }
    session ++ hadoop
  }

  /** A row-group test: may a row group with these statistics hold a row
    * the filter keeps? `stats(column)` is the column's (min, max) in
    * microseconds, or None where the row group has no usable statistics
    * (stats-less, null-only, another encoding) — such a row group is kept.
    */
  sealed trait Test extends Serializable {
    def keeps(stats: String => Option[(Long, Long)]): Boolean = this match {
      case Within(c, spans) => stats(c).forall { case (lo, hi) =>
        spans.exists { case (a, b) => a <= hi && b >= lo } }
      case Both(l, r) => l.keeps(stats) && r.keeps(stats)
      case EitherOf(l, r) => l.keeps(stats) || r.keeps(stats)
    }
    def columns: Set[String] = this match {
      case Within(c, _) => Set(c)
      case Both(l, r) => l.columns ++ r.columns
      case EitherOf(l, r) => l.columns ++ r.columns
    }
  }
  /** Some value of column `c` lies in one of the closed `spans`. */
  final case class Within(c: String, spans: Seq[(Long, Long)]) extends Test
  final case class Both(l: Test, r: Test) extends Test
  final case class EitherOf(l: Test, r: Test) extends Test

  /** The conjunction of `filters`' NTZ comparisons as one [[Test]]; None
    * when no filter has one. Spark names a filter's column as
    * `dataSchema` does.
    */
  def translate(filters: Seq[sources.Filter], dataSchema: StructType): Option[Test] = {
    val ntz = dataSchema.fields.filter(_.dataType == TimestampNTZType).map(_.name).toSet
    def column(name: String): Option[String] = Some(name).filter(ntz)
    def micros(v: Any): Option[Long] = v match {
      case t: LocalDateTime => Some(DateTimeUtils.localDateTimeToMicros(t))
      case _ => None
    }
    def span(name: String, v: Any)(lohi: Long => Option[(Long, Long)]): Option[Test] =
      for (c <- column(name); m <- micros(v))
        yield Within(c, lohi(m).toSeq)
    def one(f: sources.Filter): Option[Test] = f match {
      case sources.GreaterThan(a, v) => span(a, v)(m =>
        if (m == Long.MaxValue) None else Some((m + 1, Long.MaxValue)))
      case sources.GreaterThanOrEqual(a, v) => span(a, v)(m => Some((m, Long.MaxValue)))
      case sources.LessThan(a, v) => span(a, v)(m =>
        if (m == Long.MinValue) None else Some((Long.MinValue, m - 1)))
      case sources.LessThanOrEqual(a, v) => span(a, v)(m => Some((Long.MinValue, m)))
      case sources.EqualTo(a, v) => span(a, v)(m => Some((m, m)))
      case sources.In(a, vs) if vs.forall(v => v == null || micros(v).isDefined) =>
        column(a).map(c => Within(c, vs.toSeq.flatMap(micros).map(m => (m, m))))
      case sources.And(l, r) => (one(l), one(r)) match {
        case (Some(x), Some(y)) => Some(Both(x, y))
        case (x, y) => x.orElse(y)
      }
      case sources.Or(l, r) => for (x <- one(l); y <- one(r)) yield EitherOf(x, y)
      case _ => None
    }
    filters.flatMap(one).reduceOption(Both(_, _))
  }

  /** The byte ranges of `file`'s split that hold the row groups `test`
    * keeps, as (start, end); None to read the split as it is (every owned
    * row group kept, or boundaries not readable without a key).
    *
    * A row group belongs to the split holding its midpoint (parquet-mr's
    * own rule, which the stock reader applies to the range it is handed),
    * so the range [start(rg i), start(rg i+1)) — or the split's end after
    * its last owned row group — holds exactly row group i's midpoint.
    * Adjacent kept row groups share one range.
    */
  def ranges(conf: Configuration, file: PartitionedFile, test: Test,
      caseSensitive: Boolean): Option[Seq[(Long, Long)]] = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file.toPath, conf),
      ParquetFooterReader.buildFilter(conf, file, false))
    val blocks = footer.getBlocks.asScala.toIndexedSeq
    // Only plaintext first-column metadata: its offsets need no key.
    if (blocks.exists(_.getColumns.get(0).isEncrypted)) return None
    val columns = naiveTimestamps(footer, test.columns, caseSensitive)
    val kept = blocks.map(b => test.keeps(c => columns.get(c).flatMap(minMax(b, _))))
    if (blocks.nonEmpty && kept.forall(identity)) return None
    val starts = blocks.map(_.getStartingPos)
    val end = file.start + file.length
    def stop(i: Int): Long = if (i + 1 < blocks.size) starts(i + 1) else end
    Some(blocks.indices.filter(kept).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, i) if e == starts(i) => (s, stop(i)) :: rest
      case (acc, i) => (starts(i), stop(i)) :: acc
    }.reverse)
  }

  /** For each of `columns` the file stores as a naive INT64 micro- or
    * millisecond timestamp: its file column name and the factor to
    * microseconds.
    */
  private def naiveTimestamps(footer: ParquetMetadata, columns: Set[String],
      caseSensitive: Boolean): Map[String, (String, Long)] = {
    val fields = footer.getFileMetaData.getSchema.getFields.asScala.filter(_.isPrimitive)
    columns.flatMap { c =>
      fields.find(_.getName == c)
        .orElse(if (caseSensitive) None else fields.find(_.getName.equalsIgnoreCase(c)))
        .map(_.asPrimitiveType)
        .filter(_.getPrimitiveTypeName == PrimitiveTypeName.INT64)
        .map(p => (p.getName, p.getLogicalTypeAnnotation))
        .collect {
          case (n, t: TimestampLogicalTypeAnnotation) if !t.isAdjustedToUTC &&
              t.getUnit == TimeUnit.MICROS => c -> (n, 1L)
          case (n, t: TimestampLogicalTypeAnnotation) if !t.isAdjustedToUTC &&
              t.getUnit == TimeUnit.MILLIS => c -> (n, 1000L)
        }
    }.toMap
  }

  /** Row group `b`'s (min, max) of a [[naiveTimestamps]] column in
    * microseconds, if its statistics cover at least one non-null value.
    */
  private def minMax(b: BlockMetaData, column: (String, Long)): Option[(Long, Long)] = {
    val (name, scale) = column
    def micros(v: Any): Option[Long] =
      Try(Math.multiplyExact(v.asInstanceOf[java.lang.Long].longValue, scale)).toOption
    for {
      chunk <- b.getColumns.asScala.find(_.getPath.toDotString == name)
      s <- Option(chunk.getStatistics) if s.hasNonNullValue
      lo <- micros(s.genericGetMin)
      hi <- micros(s.genericGetMax)
    } yield (lo, hi)
  }

  /** The broadcast Hadoop conf Spark's reader function `read` captured,
    * so pruning reads footers through the scan's one conf broadcast
    * instead of shipping the conf a second time. None if `read` does not
    * hold exactly one broadcast (a Spark whose reader closure changed
    * shape): the scan then runs unpruned.
    */
  private def scanConf(read: AnyRef): Option[Broadcast[SerializableConfiguration]] =
    read.getClass.getDeclaredFields
      .filter(f => classOf[Broadcast[_]].isAssignableFrom(f.getType)).toSeq match {
        case Seq(f) => Try {
          f.setAccessible(true)
          f.get(read).asInstanceOf[Broadcast[SerializableConfiguration]]
        }.toOption
        case _ => None
      }
}
