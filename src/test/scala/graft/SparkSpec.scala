package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM; the session is
  * created once and reused — pattern of the reference's ADAMFunSuite /
  * SparkFunSuite, adam-core/src/test/.../util/ADAMFunSuite.scala:24-37).
  * Built by the engine's session factory, so the tests run the plans the
  * oracle gate and the bench run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.SessionTuning.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-test").toString
}
