package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. One JVM-wide session (getOrCreate) so
  * suites don't pay repeated startup.
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs = mutable.Buffer[String]()

  /** A new dir `<prefix><random>` in the system temp dir, removed with
    * everything under it when the suite ends.
    */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    val dir = Files.createTempDirectory(prefix).toString
    tempDirs += dir
    dir
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(graft.io.Afs.delete))
    finally super.afterAll()
}

object SparkTestBase {
  // graft's custom functions need no set-up: every session gets them
  // when it is built (see graft.functions.GraftFunctions).
  lazy val session: SparkSession = Graft.localSession("4", Graft.SessionShape.Spec)
}
