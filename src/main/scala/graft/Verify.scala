package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    Bench.sweepLocalDirs()
    val Array(sfDir, outDir, rest @ _*) = args
    val only: Set[String] = rest.toSet // optional query-name filter (local dev)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.localSession(cpus, Graft.SessionShape.Oracle)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A throwing query must NOT silently vanish from the round's
        // correctness artifact (round 6: 12 broken queries were simply
        // absent from the JSON and the breakage went unnoticed in-round).
        // Leave the query dir present-but-unreadable with an error
        // sidecar: any driver that iterates output dirs or attempts the
        // parquet read now records an explicit err for this name.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(2000)}"
        failed(name) = msg
        // Recursive stale-output sweep: a killed run can leave a nested
        // _temporary/ tree that a flat listFiles().delete() silently
        // skips, letting stale data coexist with the error sidecar.
        graft.io.Scratch.delete(s"$outDir/$name")
        Files.createDirectories(Paths.get(s"$outDir/$name"))
        Files.writeString(Paths.get(s"$outDir/$name/_GRAFT_ERROR.txt"), msg)
      }
      // Queries that persist intermediates (q22c/q23e/q23f/q64/q65) have
      // no post-action hook to unpersist them; without this, each one
      // leaks a MEMORY_AND_DISK entry into the shared session for the
      // rest of the 80+-query run. Bench does the same between queries.
      try spark.catalog.clearCache() catch { case _: Throwable => () }
    }
    // q34a's oracle references a sampled-key parquet fixture; the dump is
    // the harness's job (the Q fn stays a pure plan builder) and the
    // fixture lives in THIS run's outDir, next to oracle_sql.json, so it
    // travels with the artifact the driver's DuckDB pass reads; its
    // oracle entry is added only when the dump succeeded.
    val q34aSql =
      try ops.Sampling.dumpQ34aOracleFixture(spark, sfDir, outDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] q34a fixture dump failed: ${e.getMessage}")
        Map.empty[String, String]
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = (SparkEntry.oracleSql ++ q34aSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable failure roll-up next to the per-query sidecars.
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.mkString(", "))
    spark.stop()
  }
}
