package graft.io

import java.time.LocalDateTime

import graft.SparkTestBase
import graft.crypto.{EncryptionPolicy, PrivilegeLevel}
import graft.kms.TestKmsServer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Sessions
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{StructType, TimestampNTZType}

/** [[PruningParquetFormat]]: a `TIMESTAMP_NTZ` window read through
  * [[Parquet.read]] skips the row groups whose statistics rule it out, on
  * plaintext and on PME-encrypted files alike, keeps every row group it
  * cannot rule out, and returns exactly what the same query returns with
  * Parquet pushdown switched off.
  *
  * The fixture: 20 row groups of 1,000 rows, sorted on `ts`, row `id` at
  * `ts` = 2020-01-01 + `id` hours, so row group r holds ids
  * [1000 r, 1000 r + 999].
  */
class RowGroupPruningSpec extends SparkTestBase {

  private val Rows = 20000
  private val PerGroup = 1000
  private val base = LocalDateTime.of(2020, 1, 1, 0, 0)
  private def t(id: Long): Column = lit(base.plusHours(id))
  private val ts = col("ts")

  private var kms: TestKmsServer = _
  private lazy val root = tempDir("graft-rg-prune-")
  private val rowGroups = Map("parquet.block.row.count.limit" -> PerGroup.toString)

  override def beforeAll(): Unit = {
    super.beforeAll()
    kms = new TestKmsServer().start()
  }

  override def afterAll(): Unit = {
    kms.stop()
    super.afterAll()
  }

  /** `Rows` rows sorted on `ts`, the first `nulls` of them with a null ts. */
  private def fixture(nulls: Int = 0): DataFrame =
    spark.range(Rows).select(
      col("id"),
      when(col("id") >= nulls, lit(base) + expr("make_dt_interval(0, id)")).as("ts"),
      sha2(col("id").cast("string"), 256).as("payload"))
      .coalesce(1)

  private lazy val plainDir: String = {
    val dir = s"$root/plain"
    fixture().write.options(rowGroups).parquet(dir)
    dir
  }

  /** `ts` RESTRICTED and `payload` CONFIDENTIAL; `id`, the first column,
    * plaintext.
    */
  private lazy val encDir: String = {
    val dir = s"$root/enc"
    EncryptedParquet.write(fixture(), dir, EncryptionPolicy(Map(
      PrivilegeLevel.Restricted -> Seq("ts"),
      PrivilegeLevel.Confidential -> Seq("payload"))), kms.url, extraOptions = rowGroups)
    dir
  }

  private def plain(s: SparkSession): DataFrame = Parquet.read(s, plainDir)
  private def enc(s: SparkSession): DataFrame =
    EncryptedParquet.read(s, encDir, kms.url, Some("RESTRICTED"))

  private lazy val unpushed: SparkSession =
    Sessions.scoped(spark, Map("spark.sql.parquet.filterPushdown" -> "false"))

  /** Rows the Parquet scan of `df` emitted, after an action. */
  private def scanRows(df: DataFrame): Long = {
    df.collect(): Unit
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).map(_.metrics("numOutputRows").value).sum
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  /** (filter, row groups kept) on the fixture. */
  private val cases: Seq[(String, Column, Int)] = Seq(
    ("ts > t", ts > t(4500), 16),
    ("ts >= t", ts >= t(5000), 15),
    ("ts < t", ts < t(3000), 3),
    ("ts <= t", ts <= t(3000), 4),
    ("ts = t", ts === t(7777), 1),
    ("ts IN (t, t)", ts.isin(base.plusHours(10), base.plusHours(15500)), 2),
    ("window", ts >= t(2000) && ts < t(4000), 2),
    ("Or of windows", ts < t(1000) || ts >= t(19000), 2),
    ("Or of an And with an untranslatable side", (ts >= t(18000) && col("id") > 5) || ts < t(500), 3),
    ("Not", !ts.isin(base.plusHours(10)), 20),
    ("IsNull", ts.isNull, 20))

  for ((label, read) <- Seq[(String, SparkSession => DataFrame)](
      "plaintext" -> plain, "PME" -> enc)) {
    test(s"$label: every translated operator prunes to its row groups; others keep all") {
      cases.foreach { case (name, cond, groups) =>
        val pruned = read(spark).where(cond)
        assert(scanRows(pruned) == groups.toLong * PerGroup, s"$name: scan rows")
        assert(ids(pruned) == ids(read(unpushed).where(cond)), s"$name: result")
      }
    }
  }

  test("the conf switches are honoured: no pushdown, no pruning") {
    val cond = ts >= t(2000) && ts < t(4000)
    assert(scanRows(plain(unpushed).where(cond)) == Rows)
    val noTimestamp = Sessions.scoped(spark,
      Map("spark.sql.parquet.filterPushdown.timestamp" -> "false"))
    assert(scanRows(plain(noTimestamp).where(cond)) == Rows)
    assert(scanRows(plain(spark).where(cond)) == 2L * PerGroup)
  }

  test("null-only and stats-less row groups are kept") {
    val nulls = s"$root/nulls"
    fixture(nulls = 3 * PerGroup).write.options(rowGroups).parquet(nulls)
    val cond = ts >= t(15000) && ts < t(15500)
    // Three null-only row groups, then row group 15.
    val withNulls = Parquet.read(spark, nulls).where(cond)
    assert(scanRows(withNulls) == 4L * PerGroup)
    assert(ids(withNulls) == (15000L until 15500L))
    val statsless = s"$root/statsless"
    fixture().write.options(rowGroups)
      .option("parquet.column.statistics.enabled", "false").parquet(statsless)
    val noStats = Parquet.read(spark, statsless).where(cond)
    assert(scanRows(noStats) == Rows)
    assert(ids(noStats) == (15000L until 15500L))
  }

  test("a file split across several tasks returns each row exactly once") {
    // Splits of about one row group, and of several (so one task keeps
    // runs of row groups with gaps between them).
    for (splitBytes <- Seq(64 * 1024, 256 * 1024)) {
      val small = Sessions.scoped(spark, Map(
        "spark.sql.files.maxPartitionBytes" -> splitBytes.toString,
        "spark.sql.files.openCostInBytes" -> "0"))
      for ((label, read) <- Seq[(String, SparkSession => DataFrame)](
          "plaintext" -> plain, "PME" -> enc)) {
        val all = read(small)
        assert(all.rdd.getNumPartitions >= 2, s"$label: fixture not split at $splitBytes")
        val everyOther = ts.isin((0 until 20 by 2).map(r => base.plusHours(r * 1000L + 500)): _*)
        Seq(ts >= t(0), ts >= t(2500) && ts < t(13500), ts < t(1) || ts > t(19998), everyOther)
          .foreach { cond =>
            val got = ids(all.where(cond))
            assert(got.distinct.size == got.size, s"$label $cond: a row read twice")
            assert(got == ids(read(unpushed).where(cond)), s"$label $cond: result")
          }
        assert(scanRows(all.where(ts >= t(2500) && ts < t(13500))) == 12L * PerGroup)
        assert(scanRows(all.where(everyOther)) == 10L * PerGroup)
      }
    }
  }

  test("translate: NTZ comparisons only; Not and other columns' filters give nothing") {
    val schema = new StructType().add("ts", TimestampNTZType).add("id", "long")
    val v = base
    def tr(f: sources.Filter*) = PruningParquetFormat.translate(f, schema)
    assert(tr(sources.Not(sources.LessThan("ts", v))).isEmpty)
    assert(tr(sources.GreaterThan("id", 5L)).isEmpty)
    assert(tr(sources.IsNotNull("ts")).isEmpty)
    assert(tr(sources.Or(sources.LessThan("ts", v), sources.GreaterThan("id", 5L))).isEmpty)
    assert(tr(sources.And(sources.LessThan("ts", v), sources.GreaterThan("id", 5L))).isDefined)
    assert(tr(sources.In("ts", Array(v, null))).isDefined)
  }
}
