package graft.tools

/** Plan dumper: `runMain graft.tools.PlanDump <outDir> <sfDir> <query>
  * [query ...]` writes `<outDir>/<query>.txt` with each query's
  * `.explain("formatted")` output, one JVM/session for the whole list,
  * on the bench's local session (so the dumped plans carry the bench's
  * shuffle-partition count and AQE floors).
  *
  * NOTE: queries with imperative bodies (index builds, the CC fixpoint
  * loops) EXECUTE their driver loops while the plan is constructed —
  * the dump still only prints the final returned frame's plan; the
  * loop evidence for those lives in the bench's job-shape metrics.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = args(1)
    val names = args.drop(2).toSeq
    val spark = graft.Graft.localSession("8")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$name.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/$name.txt")
    }
    spark.stop()
  }
}
