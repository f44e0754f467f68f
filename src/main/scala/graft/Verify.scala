package graft
import java.nio.file.{Files, Paths}
import graft.Bench.{jsonString => q}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  val usage = "usage: [SPARK_GRAFT_ONLY=<name>,...] graft.Verify <sfDir> <outDir>"

  /** (sfDir, outDir, the SPARK_GRAFT_ONLY selection) from the command line,
    * checked: two arguments, every table present under sfDir, every
    * selected name in the catalog. Throws IllegalArgumentException. */
  private[graft] def parseArgs(args: Seq[String],
      only: Option[String]): (String, String, Option[Set[String]]) = {
    require(args.size == 2, s"expected 2 arguments, got ${args.size}")
    graft.core.Tables.requireAll(args(0))
    (args(0), args(1), only.map(SparkEntry.resolveQueries(_).toSet))
  }

  def main(args: Array[String]): Unit = {
    // checked before the session starts, so a typo fails at once instead
    // of running every query into failures.json; SPARK_GRAFT_ONLY is the
    // local-iteration filter (unset for the full correctness gate)
    val (sfDir, outDir, only) =
      Bench.parseOrExit(usage)(parseArgs(args.toSeq, sys.env.get("SPARK_GRAFT_ONLY")))
    // the shared session factory: the oracle gate verifies the SAME plans
    // the bench times
    val spark = graft.core.SessionTuning.local()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the dedup/similarity operators persist narrow internal tables for
      // the life of the returned plan (documented contract) — release them
      // between queries, same hygiene as Bench
      Bench.dropCaches(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written, even when empty: a crashed query otherwise leaves
    // only a stderr line, so "failures.json == {}" is positive evidence
    // that every selected query ran.
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
