package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.{Q, SparkTestBase}
import org.apache.spark.graft.ListenerFlush
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.graft.Sessions
import org.apache.spark.sql.util.QueryExecutionListener

/** Operators that run under confs of their own (the connected-components
  * loop: 8 shuffle partitions, AQE off) do so on a scoped clone of the
  * caller's session, so nothing the caller runs — before, during or after
  * the operator, concurrently included — is planned under those confs.
  */
class ScopedSessionSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  /** The executions `body` ran on `spark` itself (not on a clone), read
    * after the listener bus has drained.
    */
  private def callerExecutions(body: => Unit): Seq[QueryExecution] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe): Unit
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.add(qe): Unit
    }
    spark.listenerManager.register(listener)
    try {
      body
      ListenerFlush.flush(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.filter(_.sparkSession eq spark)
  }

  /** Every caller-side execution that exchanges data ran adaptive (a
    * plan with no exchange never gets an adaptive root, AQE on or off).
    * Returns those executions' plans.
    */
  private def assertAdaptive(qes: Seq[QueryExecution]): Seq[SparkPlan] = {
    val exchanging = qes.map(_.executedPlan)
      .filter(p => collect(p) { case e: Exchange => e }.nonEmpty)
    exchanging.foreach(p =>
      assert(p.isInstanceOf[AdaptiveSparkPlanExec], s"a caller-side execution ran without AQE:\n$p"))
    exchanging
  }

  test("a scoped clone keeps the caller's confs, adds its own, and leaves the caller unchanged") {
    val before = spark.conf.getAll
    val aqeOff = Map("spark.sql.adaptive.enabled" -> "false")
    val clone = Sessions.scoped(spark, aqeOff)
    assert(clone ne spark)
    assert(clone.conf.getAll == before + ("spark.sql.adaptive.enabled" -> "false"))
    assert(spark.conf.getAll == before)
    // Reused while caller, caller conf and overrides are unchanged.
    assert(Sessions.scoped(spark, aqeOff) eq clone)
    val other = spark.newSession()
    val otherClone = Sessions.scoped(other, aqeOff)
    assert(otherClone ne clone)
    other.conf.set("spark.sql.shuffle.partitions", "5")
    val changed = Sessions.scoped(other, aqeOff)
    assert(changed ne otherClone)
    assert(changed.conf.get("spark.sql.shuffle.partitions") == "5")
    assert(Sessions.scoped(other, Map.empty) ne changed)
    val df = spark.range(10).toDF("x")
    val rebound = Sessions.rebind(df, clone)
    assert(rebound.sparkSession eq clone)
    assert(rebound.collect().toSeq == df.collect().toSeq)
  }

  test("the connected-components loop never plans on the caller's session under its own confs") {
    import spark.implicits._
    val before = spark.conf.getAll
    val n = 64
    val edges = (1 until n).map(i => (i.toLong, i.toLong - 1)).toDF("src", "dst")
    val qes = callerExecutions {
      val labels = Dedup.connectedComponents(edges)
      assert(labels.sparkSession eq spark, "the labels must come back on the caller's session")
      // A caller-side aggregate over the labels, as q38 runs one.
      val sizes = labels.groupBy("lbl").count().collect()
      assert(sizes.map(r => r.getLong(0) -> r.getLong(1)).toSeq == Seq(0L -> n.toLong))
    }
    assert(spark.conf.getAll == before)
    // Every caller-side execution with an exchange ran adaptive, and its
    // hash shuffles at the session's own partition count.
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val hashParts = assertAdaptive(qes).flatMap(p => collect(p) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
        e.outputPartitioning.numPartitions
    })
    assert(hashParts.nonEmpty, "no caller-side hash shuffle was checked (test vacuous)")
    assert(hashParts.forall(_ == parts),
      s"caller-side shuffles ran at $hashParts partitions, not the session's $parts")
  }

  test("q38 and q02 run concurrently on one session: solo results, caller conf and plans unchanged") {
    def rows(q: Q): Seq[String] = q.fn(spark, sfDir).collect().map(_.toString).sorted.toSeq
    val solo38 = rows(Dedup.q38)
    val solo02 = rows(Relational.q02)
    val before = spark.conf.getAll
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val qes = callerExecutions {
        (1 to 3).foreach { _ =>
          val q38 = Future(rows(Dedup.q38))
          // q02 runs back to back for as long as the loop does.
          var runs = 0
          while (!q38.isCompleted || runs == 0) {
            assert(rows(Relational.q02) == solo02, "q02 differs from its solo run")
            runs += 1
          }
          assert(Await.result(q38, 10.minutes) == solo38, "q38 differs from its solo run")
        }
      }
      assert(spark.conf.getAll == before)
      assert(assertAdaptive(qes).nonEmpty, "no caller-side exchange was checked (test vacuous)")
    } finally pool.shutdown()
  }
}
