package org.apache.spark

/** The one Spark-internal call the benchmark makes: block until the
  * listener bus has delivered every posted event. Spark's own test suites
  * use the same call for the same reason. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
