package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test corpus (TESTDATA.md).
  *
  * Each scale-factor directory holds one parquet file per table. At cluster
  * scale these would be directories of many files / partitions; the API is
  * identical (`graft.io.Parquet.read` over a path), so nothing here
  * changes at 100 TB — only the physical layout under the path does.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    // Session conf (ICU case mappings, nanos-as-long, bucketed-scan
    // ordering) is applied once per session by Graft.tune — every entry
    // point calls it, so loaders no longer mutate conf per call. The load
    // lists the path once, and its schema is inferred once per JVM from
    // that listing (graft.io.PruningParquetFormat).
    io.Parquet.read(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped under two physical encodings (the corpus
    * generator changed mid-build), so the loader is TYPE-ADAPTIVE on the
    * scanned schema and always emits a µs `TimestampType` column:
    *
    *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it;
    *    with `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *    `Graft.tune`) it arrives as a LongType of epoch nanos, converted
    *    here with exact integer division (`DIV`, i.e. floor for these
    *    positive epoch values). The sub-µs remainder is truncated — that
    *    truncation is inherent to Spark's µs TimestampType and is kept
    *    out of oracle-visible comparisons (oracles compare at second
    *    precision). NOTE: `col("ts") / 1000L` would be double division;
    *    epoch nanos (~1.7e18) exceed double's 2^53 integer range (256 ns
    *    ulp), which put ~12% of rows off by 1 µs.
    *  - parquet TIMESTAMP(isAdjustedToUTC=false, MICROS): arrives as
    *    TimestampNTZType; the session timezone is pinned to UTC at every
    *    entry point, so the cast to TimestampType preserves the exact
    *    microsecond value (identical values to the nanos path at µs
    *    precision — no query or oracle downstream changes).
    *
    * Any other physical type is a corpus regeneration this loader has
    * not been audited against — fail loudly rather than mis-convert.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts scanned as $other; expected LongType (nanosAsLong), " +
        "TimestampNTZType or TimestampType — audit the conversion before use")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Fixture-cache tag for a dataset dir: hashes the PATH plus the
    * (name, size, mtime) of every parquet file under it, so regenerated
    * source tables invalidate any cached fixture copies keyed on it
    * (a bare _SUCCESS check kept serving stale copies when the source
    * changed under the same path). Every untimed fixture is keyed on it
    * through `graft.io.Scratch.path`; the ANN index roots use it too.
    */
  def datasetTag(d: String): String = {
    val files = Option(new java.io.File(d).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString(";")
    val bytes = s"$d|$files".getBytes
    java.lang.Long.toHexString(
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, 42).toLong & 0xffffffffL)
  }

  /** Widen a scan that is NARROWER than the cluster before a
    * compute-heavy stage. Two deliberate choices:
    *
    *  - EXPLICIT partition count (the cluster's default parallelism):
    *    `repartition(col)` without a count is advisory and AQE's
    *    byte-based coalescing will happily fold a tiny-input exchange
    *    back to ONE partition — catastrophic when the next operator
    *    explodes rows (caught live in round 2: a nested-loop join's 2M
    *    pairs streaming through a single task, 340 s of single-thread
    *    CPU). An explicit count is user-specified and AQE never
    *    coalesces it.
    *  - CONDITIONAL on the scan actually being narrow: the test corpus
    *    is one row group per table, which scans as ONE partition — the
    *    regime this shuffle exists for. A 100 TB table scans as tens of
    *    thousands of partitions, where the same unconditional shuffle
    *    would move the whole table to fix a problem it doesn't have;
    *    spread is for spreading COMPUTE, not key co-location (downstream
    *    joins/aggs plan their own exchanges either way), so when the
    *    scan is already at least cluster-wide it passes through
    *    untouched. The check reads the planned partition count off the
    *    physical scan — driver-side planning only, no job.
    */
  def spread(df: DataFrame, c: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // The pass-through probe is only sound (and only cheap) on scan-ish
    // plans: for a frame with exchanges upstream, `.rdd` under AQE can
    // MATERIALIZE query stages at plan-build time — running real jobs
    // from inside a utility that promises planning only. ALLOWLIST, not
    // blocklist (r7 advisor: a blocklist missed Union/Expand and
    // subquery-bearing Filters): only leaf scans plus Project/Filter/
    // SubqueryAlias nodes whose expressions embed no subquery plan pass
    // through; everything else keeps the unconditional repartition (the
    // pre-round-7 behavior, always correct).
    val scanish = {
      import org.apache.spark.sql.catalyst.expressions.PlanExpression
      def noSubquery(p: LogicalPlan): Boolean =
        p.expressions.forall(e =>
          e.collectFirst { case _: PlanExpression[_] => () }.isEmpty)
      df.queryExecution.analyzed.collect { case p => p }.forall {
        case _: LeafNode => true
        case p @ (_: Project | _: Filter | _: SubqueryAlias) => noSubquery(p)
        case _ => false
      }
    }
    val scanParts =
      if (!scanish) 0
      else try df.rdd.getNumPartitions
      catch { case scala.util.control.NonFatal(_) => 0 }
    if (scanParts >= parallelism) df
    else df.repartition(parallelism, c)
  }
}
