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

  /** The number of Spark jobs `body` starts. Listener events arrive
    * asynchronously but in order, so a marked one-task job run before and
    * after `body` brackets exactly `body`'s job starts. */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val Mark = "graft.test.jobsDuring"
    val marks = new java.util.concurrent.LinkedBlockingQueue[String]()
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Mark))) match {
          case Some(m) => marks.put(m)
          case None => started.incrementAndGet()
        }
    }
    def mark(m: String): Unit = {
      sc.setLocalProperty(Mark, m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Mark, null)
      assert(marks.poll(60, java.util.concurrent.TimeUnit.SECONDS) == m,
        s"listener did not see the $m marker job")
    }
    sc.addSparkListener(listener)
    try {
      mark("before")
      val before = started.get
      body
      mark("after")
      started.get - before
    } finally sc.removeSparkListener(listener)
  }
}
