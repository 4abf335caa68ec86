package graft.obs

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The engine's one Spark listener: per-query task-level accumulators
  * plus per-stage rows — where wall-clock actually went. Every
  * measurement site (the bench's timed runs and its shape pass, the
  * exchange-byte sweep, the per-stage profiler) reads the session it
  * measures through this class and [[measure]].
  *
  * Reading the sums: wall >> taskSum/cores with low cpu ⇒ tasks were
  * stalled (IO / memory / host contention); taskSum ≈ cpu ⇒ genuine
  * compute; wall >> taskSum ⇒ the gap is driver-side (job scheduling,
  * broadcast build, codegen).
  */
final class QueryMetrics extends SparkListener {
  import QueryMetrics._

  val tasks, jobs = new LongAdder
  val taskMs, cpuMs, gcMs, fetchWaitMs, shufWriteMs, deserMs, shufBytes = new LongAdder
  private val stageRows = mutable.ArrayBuffer.empty[StageRow]

  override def onJobStart(j: SparkListenerJobStart): Unit =
    jobs.increment()

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    if (t.taskInfo != null) taskMs.add(t.taskInfo.duration)
    val m = t.taskMetrics
    if (m != null) {
      cpuMs.add(m.executorCpuTime / 1000000L)
      gcMs.add(m.jvmGCTime)
      fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      shufWriteMs.add(m.shuffleWriteMetrics.writeTime / 1000000L)
      deserMs.add(m.executorDeserializeTime)
      shufBytes.add(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
      .getOrElse(-1L)
    stageRows.synchronized {
      stageRows += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(80),
        wall, si.taskMetrics.executorRunTime, si.numTasks)
    }
  }

  /** Stages completed since the last [[reset]], in completion order. */
  def stages: Seq[StageRow] = stageRows.synchronized(stageRows.toList)

  def reset(): Unit = {
    Seq(tasks, jobs, taskMs, cpuMs, gcMs, fetchWaitMs, shufWriteMs, deserMs, shufBytes)
      .foreach(_.reset())
    stageRows.synchronized(stageRows.clear())
  }

  def line: String = {
    def s(a: LongAdder) = f"${a.sum / 1000.0}%.1fs"
    s"jobs=${jobs.sum} tasks=${tasks.sum} taskSum=${s(taskMs)} cpu=${s(cpuMs)} " +
      s"taskGc=${s(gcMs)} fetchWait=${s(fetchWaitMs)} shufWrite=${s(shufWriteMs)} " +
      s"deser=${s(deserMs)}"
  }

  /** One measured query: drain the listener bus, reset, `run`, drain
    * again (events are asynchronous — without the drains a query's
    * tasks would be attributed to its neighbour), then drop persisted
    * tables so a leftover cache cannot contaminate the next query.
    *
    * Returns the query's shape, or None when `run` threw: a failed run
    * must NOT report its partial counts — a heavy query dying early
    * would measure artificially light. The accumulators still hold
    * those partial counts for diagnostics.
    */
  def measure(spark: SparkSession, name: String)(run: => Unit): Option[Shape] = {
    org.apache.spark.graft.ListenerFlush.flush(spark.sparkContext)
    reset()
    val ok =
      try { run; true }
      catch { case e: Throwable =>
        System.err.println(s"[measure] $name failed: ${e.getMessage}")
        false
      }
    org.apache.spark.graft.ListenerFlush.flush(spark.sparkContext)
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    if (ok) Some(Shape(jobs.sum, shufBytes.sum)) else None
  }
}

object QueryMetrics {

  /** What one query did to the scheduler: Spark jobs fired and bytes
    * written to shuffle (each exchange counted once; broadcasts
    * excluded).
    */
  final case class Shape(jobs: Long, shuffleBytes: Long)

  /** One completed stage: stage wall, summed executor run time, tasks. */
  final case class StageRow(id: Int, name: String, wallMs: Long,
      taskTimeMs: Long, tasks: Int)

  /** Wall seconds of one run of `run`. */
  def seconds(run: => Unit): Double = {
    val t0 = System.nanoTime()
    run
    (System.nanoTime() - t0) / 1e9
  }

  /** Wall seconds of a steady-state run: `run` once untimed (fixtures,
    * codegen, page cache, KEK unwraps), then once timed.
    */
  def warmSeconds(run: => Unit): Double = { run; seconds(run) }

  /** A fresh listener registered on `spark`'s context. */
  def install(spark: SparkSession): QueryMetrics = {
    val qm = new QueryMetrics
    spark.sparkContext.addSparkListener(qm)
    qm
  }
}
