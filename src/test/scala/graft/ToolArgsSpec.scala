package graft

import org.scalatest.funsuite.AnyFunSuite

/** The tools check their command line and their input tables before they
  * start a session. A bad invocation prints a usage line and exits 2; it
  * never runs queries into a failure record. */
class ToolArgsSpec extends AnyFunSuite {

  /** A directory holding a file for every table; the checks look no further. */
  private lazy val sfDir = {
    val d = java.nio.file.Files.createTempDirectory("graft-sf")
    core.Tables.names.foreach(n => java.nio.file.Files.createFile(d.resolve(s"$n.parquet")))
    d.toString
  }
  private val q = SparkEntry.queries.keys.min

  private def rejects(body: => Any, fragment: String): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(fragment), e.getMessage)
  }

  test("Verify checks its argument count, SF directory and query selection") {
    val dir = sfDir
    rejects(Verify.parseArgs(Seq(dir), None), "expected 2 arguments, got 1")
    rejects(Verify.parseArgs(Seq(dir, "out", "x"), None), "got 3")
    rejects(Verify.parseArgs(Seq(dir + "/absent", "out"), None), "lacks region.parquet")
    rejects(Verify.parseArgs(Seq(dir, "out"), Some(s"$q,nope")), "nope")
    assert(Verify.parseArgs(Seq(dir, "out"), Some(q)) == ((dir, "out", Some(Set(q)))))
    assert(Verify.parseArgs(Seq(dir, "out"), None) == ((dir, "out", None)))
  }

  test("BenchOne checks its argument count, integers and SF directory") {
    val dir = sfDir
    rejects(tools.BenchOne.parseArgs(Nil), "got 0")
    rejects(tools.BenchOne.parseArgs(Seq(q, dir, "3", "explain", "x")), "got 5")
    rejects(tools.BenchOne.parseArgs(Seq(q, dir, "three")), "'three'")
    rejects(tools.BenchOne.parseArgs(Seq(q, dir, "0")), "positive integer")
    rejects(tools.BenchOne.parseArgs(Seq(q, dir, "2", "explian")), "'explian'")
    rejects(tools.BenchOne.parseArgs(Seq(q, dir + "/absent")), "lacks")
    assert(tools.BenchOne.parseArgs(Seq(q, dir)) == ((Seq(q), dir, 3, false)))
    assert(tools.BenchOne.parseArgs(Seq(q, dir, "2", "explain")) == ((Seq(q), dir, 2, true)))
  }

  /** Runs `main` of `cls` in a fresh JVM on this JVM's class path and
    * returns (exit code, stderr). */
  private def runMain(cls: String, args: Seq[String], env: (String, String)*): (Int, String) = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val pb = new ProcessBuilder((Seq(java, "-cp", System.getProperty("java.class.path"), cls) ++
      args): _*)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
    val p = pb.start()
    val err = new String(p.getErrorStream.readAllBytes(), "UTF-8")
    (p.waitFor(), err)
  }

  test("a bad invocation of Verify, BenchOne or Bench exits 2 with its usage, no session") {
    val absent = java.nio.file.Files.createTempDirectory("graft-args").toString + "/absent"
    Seq(
      runMain("graft.Verify", Seq(absent)) -> Verify.usage,
      runMain("graft.Verify", Seq(absent, absent)) -> Verify.usage,
      runMain("graft.tools.BenchOne", Seq(q, absent, "x")) -> tools.BenchOne.usage,
      runMain("graft.Bench", Nil, "SPARK_GRAFT_SF_DIR" -> absent) -> "graft.Bench"
    ).foreach { case ((code, err), usage) =>
      assert(code == 2, err)
      assert(err.contains(usage), err)
      assert(!err.contains("SparkContext"), "a session started:\n" + err)
    }
    assert(!new java.io.File(absent).exists(), "Verify wrote output for a bad invocation")
  }
}
