package graft

import graft.crypto.EncryptionPolicy
import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade: one import to get the whole engine.
  *
  * {{{
  * import graft.Graft
  * Graft.init(spark, "/data/corpus")          // temp views + functions
  * spark.sql("SELECT ... FROM lineitem ...")  // plain Spark SQL
  * Graft.query("q23_cosine_topk")(spark, dir) // named operators
  * Graft.writeEncrypted(df, path, policy, kmsUrl)
  * }}}
  */
object Graft {

  /** The engine's session-level conf, applied ONCE at session setup (all
    * entry points — [[localSession]], which Verify and the test base
    * build through, and Graft.init — call this)
    * so no individual query needs to mutate session state:
    *
    *  - `icu.caseMappings.enabled=false`: JVM case mappings instead of
    *    ICU — identical on ASCII corpora, avoids ICU's tens-of-seconds
    *    single-threaded static init serializing every task thread.
    *  - `legacy.parquet.nanosAsLong=true`: events corpora have shipped as
    *    parquet TIMESTAMP(NANOS), which the vectorized reader otherwise
    *    rejects; under this conf they scan as longs and `Tables.events`
    *    (type-adaptive) converts to a µs timestamp. Harmless for the
    *    current TIMESTAMP(MICROS) corpus — the conf only affects NANOS
    *    columns.
    *  - `legacy.bucketedTableScan.outputOrdering=true`: report per-bucket
    *    sort order from bucketed scans. Spark 3+ dropped it because
    *    multi-file buckets interleave (SPARK-28595); `Layout`'s writer
    *    guarantees ONE file per bucket, exactly the regime where the
    *    ordering is sound — and what keeps the bucketed fact-fact join
    *    sort-free. HARD REQUIREMENT of a tuned session: any bucketed
    *    table it reads must hold one file per bucket. Layout enforces
    *    this at write AND at table registration (it throws on a
    *    multi-file bucket dir); register external bucketed tables
    *    through Layout or validate the same invariant first.
    *
    * Idempotent; ConfHygieneSpec asserts that, given a tuned session, no
    * registered query leaves session conf changed.
    */
  def tune(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
  }

  /** The closed set of local-session shapes [[localSession]] builds,
    * each keeping the confs its recorded numbers were taken under:
    * `Bench` (bench and tool mains) sets both AQE coalescing floors and
    * the sort-based shuffle writer; `Oracle` (`graft.Verify` — the oracle
    * hashes) the partition-count floor only; `Spec` (the spec base,
    * `local[4]` as app `graft-test` — the `ShuffleBudgetSpec`
    * exchange-byte ceilings) neither.
    */
  private[graft] sealed abstract class SessionShape
  private[graft] object SessionShape {
    case object Bench extends SessionShape
    case object Oracle extends SessionShape
    case object Spec extends SessionShape
  }

  /** The one local-session factory (`local[cpus]`, `cpus` shuffle
    * partitions, tuned): every bench and tool main, `Verify` and the
    * spec base build through here, each in its [[SessionShape]], so a
    * session-wide conf lands in one place.
    */
  private[graft] def localSession(cpus: String,
      shape: SessionShape = SessionShape.Bench): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (shape == SessionShape.Spec) builder.appName("graft-test")
    // Parallelism floor under AQE: coalescing is byte-based and the
    // dedup/similarity joins EXPAND rows 10-1000x after the exchange, so
    // coalescing their tiny inputs to 1-2 partitions serializes the
    // heavy join on one thread (measured: identical plans swinging
    // 5s..110s run-to-run). On a real cluster the same floor is
    // spark.default.parallelism-sized; data volume alone cannot reveal
    // generator/join fanout. Both knobs: minPartitionNum is deprecated
    // (and no longer honored for some plans in 4.x); the SIZE floor is
    // what actually stops the 1 MB default from folding a 2 MB
    // CPU-heavy shuffle onto 1-2 threads.
    if (shape != SessionShape.Spec)
      builder.config("spark.sql.adaptive.coalescePartitions.minPartitionNum", cpus)
    if (shape == SessionShape.Bench)
      builder.config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        // Sort-based shuffle writer even for small partition counts: the
        // bypass-merge writer creates mappers×reducers (=1024) tiny files
        // per exchange, and task-level metrics show shuffle-write TIME
        // exceeding CPU time on the multi-exchange dedup queries (6.9s of
        // 20.2s task time on q22b). The sort path writes one data+index
        // file per mapper. Same reasoning a real cluster applies — bypass
        // is only a win when per-file cost is negligible.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
    spark
  }

  /** Register every corpus table as a temp view. Idempotent. graft's
    * custom functions need no call: the session got them when it was
    * built (see [[graft.functions.GraftFunctions]]).
    */
  def init(spark: SparkSession, sfDir: String): Unit = {
    tune(spark)
    Tables.all.foreach { t =>
      val df = if (t == "events") Tables.events(spark, sfDir)
               else Tables.load(spark, sfDir, t)
      df.createOrReplaceTempView(t)
    }
  }

  /** All named operators (SURVEY.md §2 / §8). */
  def queryNames: Seq[String] = Registry.all.map(_.name)

  def query(name: String): (SparkSession, String) => DataFrame =
    Registry.all.find(_.name == name)
      .getOrElse(throw new NoSuchElementException(
        s"unknown query '$name'; known: ${queryNames.mkString(", ")}"))
      .fn

  def writeEncrypted(df: DataFrame, path: String, policy: EncryptionPolicy,
      kmsUrl: String): Unit =
    io.EncryptedParquet.write(df, path, policy, kmsUrl)

  def readEncrypted(spark: SparkSession, path: String, kmsUrl: String,
      token: Option[String]): DataFrame =
    io.EncryptedParquet.read(spark, path, kmsUrl, token)
}
