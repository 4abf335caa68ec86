package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Z-order clustering contract (q43): the same 2-D box over the same
  * rows must READ measurably less when the table is Morton-clustered on
  * the two predicate columns than when it is sorted on an unrelated key.
  * Parquet row-group min/max skipping is the mechanism; scan-node output
  * rows (rows surviving row-group/page pruning before Spark's own
  * Filter) are the observable.
  */
class ZorderSpec extends SparkTestBase {

  /** Rows emitted by the parquet scan node after an action ran. */
  private def scanOutputRows(df: DataFrame): Long = {
    df.collect(): Unit
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(unwrap)
      }
    unwrap(df.queryExecution.executedPlan).map(_.metrics("numOutputRows").value).sum
  }

  test("z-ordered layout skips most row groups for the 2-D box; linear does not") {
    val (zDir, linDir) = Layout.zorderedLineitem(spark, sfDir)
    val b = Layout.zBoxBounds(spark, sfDir)
    val zScan = scanOutputRows(Layout.zBox(spark.read.parquet(zDir), b))
    val linScan = scanOutputRows(Layout.zBox(spark.read.parquet(linDir), b))
    // Identical result sets...
    val zRows = Layout.zBox(spark.read.parquet(zDir), b).count()
    val linRows = Layout.zBox(spark.read.parquet(linDir), b).count()
    assert(zRows == linRows && zRows > 0)
    // ...but the clustered layout reads a fraction of the physical rows:
    // the box covers ~2% of the key plane, so a clustered scan should
    // emit far fewer undecided rows than the unclustered one, which
    // reads essentially everything (suppkey/partkey uncorrelated with
    // orderkey order).
    assert(zScan * 2 <= linScan,
      s"z-order read $zScan physical rows vs linear $linScan — no skipping benefit")
  }

  test("compact: many small files collapse to the target count, content-identical") {
    import org.apache.spark.sql.functions._
    val base = tempDir("graft-compact")
    val inDir = s"$base/in"
    val outDir = s"$base/out"
    // Simulate streaming-ingest debris: 64 tiny files of one table.
    graft.Tables.orders(spark, sfDir).repartition(64)
      .write.mode("overwrite").parquet(inDir)
    val nIn = Option(new java.io.File(inDir).listFiles()).get
      .count(f => f.getName.endsWith(".parquet"))
    assert(nIn >= 32, s"fixture degenerate: only $nIn input files")
    val totalBytes = Option(new java.io.File(inDir).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val target = math.max(totalBytes / 4, 1L) // expect ~4 output files
    val nOut = Layout.compact(spark, inDir, outDir, target)
    assert(nOut <= 5 && nOut >= 1, s"expected ~4 compacted files, got $nOut")
    // Layout-only: the row multiset survives exactly (per-key counts
    // identical in both directions).
    val a = spark.read.parquet(inDir).groupBy("o_orderkey").count()
    val b = spark.read.parquet(outDir).groupBy("o_orderkey").count()
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "compaction changed the row multiset")
  }
}
