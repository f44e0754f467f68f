package graft.tools

import graft.{Bench, SparkEntry}
import graft.core.SessionTuning

/** Time one or more catalog queries repeatedly and optionally print plans.
  * Usage: runMain graft.tools.BenchOne <name>[,<name>…] [sfDir] [reps] [explain]
  * (comma-separated names share one session)
  */
object BenchOne {
  val usage = "usage: graft.tools.BenchOne <name>[,<name>...] [sfDir] [reps] [explain]"

  /** (names, sfDir, reps, explain) from the command line, checked: 1 to 4
    * arguments, known query names, every table present under sfDir, a
    * positive reps, `explain` or nothing last. Throws
    * IllegalArgumentException. */
  private[graft] def parseArgs(args: Seq[String]): (Seq[String], String, Int, Boolean) = {
    require(args.size >= 1 && args.size <= 4, s"expected 1 to 4 arguments, got ${args.size}")
    val names = SparkEntry.resolveQueries(args(0))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).fold(3) { r =>
      r.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(s"reps must be a positive integer, got '$r'"))
    }
    require(args.lift(3).forall(_ == "explain"), s"expected 'explain', got '${args(3)}'")
    graft.core.Tables.requireAll(sfDir)
    (names, sfDir, reps, args.size == 4)
  }

  def main(args: Array[String]): Unit = {
    val (names, sfDir, reps, doExplain) = Bench.parseOrExit(usage)(parseArgs(args.toSeq))
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
