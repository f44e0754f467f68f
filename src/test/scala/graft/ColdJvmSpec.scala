package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** What a fresh JVM pays on its first text query and on repeated plans:
  * graft's text operators never initialize Spark's
  * `CollationAwareUTF8String` (whose initializer builds an ICU title-case
  * table over every code point), and a session from
  * [[core.SessionTuning]] keeps a working set of twice Spark's default
  * 100 generated classes compiled. Runs [[ColdJvmProbe]] in a child JVM,
  * because both are once-per-JVM effects this test JVM has long paid. */
class ColdJvmSpec extends AnyFunSuite {

  /** Runs [[ColdJvmProbe]] in a fresh JVM with class-initialization
    * logging, on this JVM's class path and module opens; returns (exit
    * code, stdout). */
  private def runProbe(): (Int, String) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String])
    val opens = args.indices.flatMap { i =>
      if (args(i).startsWith("--add-opens=")) Seq(args(i))
      else if (args(i) == "--add-opens" && i + 1 < args.length) Seq(args(i), args(i + 1))
      else Nil
    }
    val out = java.nio.file.Files.createTempFile("graft-cold-jvm", ".log").toFile
    try {
      val pb = new ProcessBuilder((Seq(javaBin, "-Xmx1g", "-Xlog:class+init=info") ++ opens ++
        Seq("-cp", System.getProperty("java.class.path"), ColdJvmProbe.getClass.getName
          .stripSuffix("$"))): _*)
      pb.redirectOutput(out)
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val code = pb.start().waitFor()
      (code, new String(java.nio.file.Files.readAllBytes(out.toPath), "UTF-8"))
    } finally out.delete()
  }

  private lazy val probe = runProbe()

  test("text operators over non-ASCII rows never initialize CollationAwareUTF8String") {
    val (code, log) = probe
    assert(code == 0, log.linesIterator.toSeq.takeRight(20).mkString("\n"))
    def logged(s: String): Boolean = log.contains(s)
    assert(logged(ColdJvmProbe.TextDone), "the probe did not run its text queries")
    assert(logged("Initializing 'org/apache/spark/SparkContext'"),
      "class-initialization logging is not on")
    val initialized =
      logged("Initializing 'org/apache/spark/sql/catalyst/util/CollationAwareUTF8String'")
    assert(!initialized, "a text operator initialized CollationAwareUTF8String")
  }

  test("a second round of 220 generated classes compiles nothing") {
    val (code, log) = probe
    assert(code == 0)
    val rounds = log.linesIterator.collectFirst {
      case l if l.startsWith(ColdJvmProbe.Rounds) =>
        l.stripPrefix(ColdJvmProbe.Rounds).trim.split(" ").map(_.toLong)
    }
    assert(rounds.isDefined, "the probe did not run its codegen rounds")
    val Array(first, second) = rounds.get
    assert(first >= 2 * 100, s"the first round compiled only $first classes")
    assert(second == 0, s"the second round recompiled $second of $first classes")
  }
}

/** The child JVM's program for [[ColdJvmSpec]]. */
object ColdJvmProbe {
  val TextDone = "cold-jvm-probe: text done"
  val Rounds = "cold-jvm-probe: compiled per round"

  def main(args: Array[String]): Unit = {
    val spark = core.SessionTuning.local(2)
    import spark.implicits._
    val docs = spark.createDataset(spark.sparkContext.parallelize(Seq(
      (1L, "ΟΔΟΣ Straße İstanbul"), (2L, "οδος  straße  i̇stanbul"),
      (3L, "Ünïcödé ΣΑΣ text"), (4L, "plain ascii")), 2)).toDF("doc_id", "text")
    operators.DedupOps.exactDuplicates(docs, "doc_id", "text").collect()
    operators.TokenizerOps.wordHistogram(docs, "text").collect()
    docs.select(operators.TextOps.fingerprint(col("text"))).collect()
    println(TextDone)

    import org.apache.spark.metrics.source.CodegenMetrics
    def round(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (0 until 220).foreach(i => spark.range(4).select((col("id") * i + i).as("v")).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = round()
    println(s"$Rounds $first ${round()}")
    spark.stop()
  }
}
