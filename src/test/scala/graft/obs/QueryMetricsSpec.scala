package graft.obs

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared listener's contract: [[QueryMetrics.measure]] attributes
  * every job, shuffle byte and stage to the query it ran, and a query
  * that throws reports no shape (partial counts would make a heavy
  * query that died early look light to the bench's solo rule).
  */
class QueryMetricsSpec extends SparkTestBase {

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def shuffled = Tables.lineitem(spark, sfDir)
    .groupBy("l_returnflag", "l_linestatus").agg(sum("l_quantity"))
  private def scanOnly = Tables.lineitem(spark, sfDir)
    .filter(col("l_quantity") < 24).select("l_orderkey", "l_quantity")

  /** `qm` plus a never-reset listener that sees the same events. */
  private def withListeners(f: (QueryMetrics, QueryMetrics) => Unit): Unit = {
    org.apache.spark.graft.ListenerFlush.flush(spark.sparkContext) // earlier specs' events
    val (qm, total) = (QueryMetrics.install(spark), QueryMetrics.install(spark))
    try f(qm, total)
    finally Seq(qm, total).foreach(spark.sparkContext.removeSparkListener)
  }

  test("measure attributes each query's jobs, shuffle bytes and stages to it alone") {
    assert(shuffled.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(!scanOnly.queryExecution.executedPlan.toString.contains("Exchange"))
    withListeners { (qm, total) =>
      val a = qm.measure(spark, "shuffled")(noop(shuffled)).get
      val aStages = qm.stages.map(_.id).toSet
      val b = qm.measure(spark, "scan-only")(noop(scanOnly)).get
      val bStages = qm.stages.map(_.id).toSet
      assert(a.jobs >= 1 && a.shuffleBytes > 0, s"exchange query measured $a")
      assert(b.jobs >= 1 && b.shuffleBytes == 0L,
        s"shuffle-free query measured $b (bytes leaked across reset?)")
      assert(aStages.nonEmpty && bStages.nonEmpty && (aStages & bStages).isEmpty,
        s"stage rows leaked across reset: $aStages vs $bStages")
      // Every event landed in exactly one window: none lost, none doubled.
      assert(total.jobs.sum == a.jobs + b.jobs)
      assert(total.shufBytes.sum == a.shuffleBytes + b.shuffleBytes)
    }
  }

  test("a throwing query yields no shape, not its partial counts") {
    withListeners { (qm, _) =>
      val failed = qm.measure(spark, "throws") {
        noop(shuffled)
        throw new IllegalStateException("fails after an exchange ran")
      }
      assert(failed.isEmpty && qm.shufBytes.sum > 0, s"partial run reported $failed")
      assert(qm.measure(spark, "scan-only")(noop(scanOnly)).map(_.shuffleBytes)
        .contains(0L), "the measurement after a failure did not start clean")
    }
    // The exchange-byte sweep marks the failure with -1.
    val throwing = (_: SparkSession, _: String) => throw new IllegalStateException("plan")
    assert(graft.tools.ScaleDiag.shuffleBytes(spark, sfDir, Seq("throws" -> throwing)) ==
      Seq("throws" -> -1L))
  }
}
