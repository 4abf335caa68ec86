package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. One JVM-wide session (getOrCreate) so
  * suites don't pay repeated startup.
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = Graft.localSession("4", Graft.SessionShape.Spec)
    // Register the custom-function surface up front: library helpers that
    // build `call_function(...)` columns (TextOps.fingerprint/langScore,
    // Dedup kernels) resolve at analysis time, and without this a
    // selectively-run spec would depend on some earlier test having
    // registered as a side effect. Deployment gets the same guarantee
    // from spark.sql.extensions=GraftSparkExtensions.
    graft.functions.GraftFunctions.register(s)
    s
  }
}
