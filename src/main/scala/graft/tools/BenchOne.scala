package graft.tools

import graft.{Bench, SparkEntry}
import graft.core.SessionTuning

/** Time one or more catalog queries repeatedly and optionally print plans.
  * Usage: runMain graft.tools.BenchOne <name>[,<name>…] [sfDir] [reps] [explain]
  * (comma-separated names share one session)
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = SparkEntry.resolveQueries(args(0))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val doExplain = args.lift(3).contains("explain")
    val spark = SessionTuning.local()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (doExplain) fn(spark, sfDir).explain("formatted")
      // same force and cache hygiene between reps as graft.Bench, so
      // timings match the full bench's protocol
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = Bench.force(fn(spark, sfDir))
        println(f"RUN$i $name rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
        Bench.dropCaches(spark)
      }
    }
    spark.stop()
  }
}
