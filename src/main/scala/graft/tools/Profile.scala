package graft.tools

import graft.SparkEntry
import graft.obs.QueryMetrics

/** Local diagnosis main: run one registered query N times in a single
  * session and print per-run wall time plus a per-stage breakdown
  * (stage wall, summed executor task time, task count). Exposes where
  * run-to-run degradation lands — scheduler vs one slow stage vs one
  * straggler stage — which the bench's single wall number can't.
  *
  * Usage: runMain graft.tools.Profile <queryName> [reps] [sfDir]
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q23_cosine_topk")
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    val spark = graft.Graft.localSession(cpus)
    val qm = QueryMetrics.install(spark)
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { r =>
      var dt = 0.0
      val ok = qm.measure(spark, name) {
        dt = QueryMetrics.seconds(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      }.isDefined
      val stages = qm.stages
      println(f"[profile] $name rep=$r wall=$dt%.2fs ok=$ok stages=${stages.size} ${qm.line}")
      stages.sortBy(-_.wallMs).take(12).foreach { s =>
        println(f"[profile]   stage=${s.id}%-4d wall=${s.wallMs / 1000.0}%7.2fs " +
          f"taskSum=${s.taskTimeMs / 1000.0}%8.2fs tasks=${s.tasks}%-4d ${s.name}")
      }
    }
    spark.stop()
  }
}
