package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. The oracle gate (`Verify`), the
  * bench, the CLI, the tools and the tests all take their session from
  * here, and Catalyst's rules read the session's SQLConf, so they all run
  * the same plans.
  *
  * Join strategy, shuffle codec and cached-plan partitioning stay at
  * Spark's defaults because the defaults measured best
  * (OPTIMIZATION_r17.md). Set any of them with `--conf` or
  * `spark-defaults.conf` (or a `-Dspark.…` JVM property outside
  * spark-submit).
  */
object SessionTuning {

  /** The confs every graft session needs: UTC session time (calendar
    * operators and the oracle compare assume it), TIMESTAMP(NANOS)
    * parquet read as a long (converted back by [[Tables.normalizeTs]];
    * Spark 4 cannot read it otherwise), no UI, and room for graft's
    * generated classes.
    *
    * Spark keeps compiled codegen classes in one JVM-wide cache of
    * `spark.sql.codegen.cache.maxEntries` entries (default 100), which
    * Guava splits into 4 segments that each evict on their own. Seven
    * short catalog queries already compile 79 classes plus the session's
    * own, so whether a segment overflows depends on how the keys hash:
    * in some JVMs every warm pass recompiled 19–28 classes and ran
    * slower. 4096 entries hold a whole catalog pass (3351 classes
    * at sf0.001) without an eviction. The size is fixed once per JVM, at
    * its first codegen, so it takes effect only where a session built
    * here compiles first; a facade user's own session keeps Spark's 100. */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** Default session parallelism: `SPARK_GRAFT_CPUS`, else the machine's
    * processor count. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A session on `local[cpus]` (or `SPARK_MASTER` when set) with one
    * shuffle partition per core. Returns the active session if one is
    * running. */
  def local(cpus: Int = SessionTuning.cpus): SparkSession = {
    val s = apply(SparkSession.builder())
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
