package graft.core

import graft.{SparkSpec, TestSpark}

/** Pins the shared session factory's conf: the oracle gate, the bench,
  * the CLI and the tests all take their session from
  * [[SessionTuning.local]], so they plan every query under the same
  * SQLConf. */
class SessionTuningSpec extends SparkSpec {

  test("the test session is SessionTuning.local(4) with the shared engine confs") {
    val s = TestSpark.spark
    assert(s.sparkContext.appName == "graft")
    if (!sys.env.contains("SPARK_MASTER"))
      assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("the formerly tuned keys stay at Spark's defaults") {
    val s = TestSpark.spark
    assert(s.conf.get("spark.sql.join.preferSortMergeJoin") == "true")
    assert(s.conf.get(
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") == "0b")
    assert(s.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "false")
    // unset, so Spark's default shuffle codec (lz4) applies
    assert(!s.sparkContext.getConf.contains("spark.io.compression.codec"))
  }
}
