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
  // graft's custom functions need no set-up: every session gets them
  // when it is built (see graft.functions.GraftFunctions).
  lazy val session: SparkSession = Graft.localSession("4", Graft.SessionShape.Spec)
}
