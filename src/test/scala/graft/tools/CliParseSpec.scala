package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The command-line parser, checked without a Spark session: every
  * rejection happens before `Cli.main` would start one. */
class CliParseSpec extends AnyFunSuite {

  private def rejected(args: String*): String =
    intercept[IllegalArgumentException](Cli.parse(args)).getMessage

  test("an unknown command or an empty line is rejected") {
    assert(rejected("nope", "a", "b").contains("unknown command: nope"))
    assert(rejected().contains("no command given"))
  }

  test("too few and too many positionals name the command and its usage") {
    val few = rejected("gini", "in.parquet")
    assert(few.contains("gini: expects 2 positional arguments, got 1"))
    assert(few.contains("usage: gini <in.parquet> <out.parquet>"))
    assert(rejected("gini", "a", "b", "c").contains("got 3"))
    assert(rejected("adam2fastq", "in").contains("expects 2 to 3"))
    assert(rejected("print").contains("expects at least 1"))
    assert(Cli.parse(Seq("print", "a", "b", "c")).pos == Seq("a", "b", "c"))
  }

  test("an undeclared flag is rejected, not ignored") {
    val msg = rejected("chi2", "in", "out", "-bucket", "64")
    assert(msg.contains("chi2: undeclared flag -bucket"))
    assert(msg.contains("[-buckets 4096]"))
  }

  test("a valued flag at the end of the line needs its value") {
    assert(rejected("chi2", "in", "out", "-top")
      .contains("flag -top needs a value"))
  }

  test("a missing required flag is rejected") {
    assert(rejected("mad", "in", "out", "-group", "g")
      .contains("missing required flag -value, -tie"))
  }

  test("flags may come before the positionals; defaults fill the rest") {
    val a = Cli.parse(Seq("chi2", "-top", "7", "-label", "lang", "in", "out"))
    assert(a.pos == Seq("in", "out") && a.out == "out")
    assert(a.int("-top") == 7 && a("-label") == "lang")
    assert(a.int("-buckets") == 4096 && a("-text") == "text")
    val b = Cli.parse(Seq("coverage", "-collapse", "in", "out"))
    assert(b.has("-collapse") && b.pos == Seq("in", "out"))
    assert(!Cli.parse(Seq("coverage", "in", "out")).has("-collapse"))
  }

  test("a valued flag takes the next token even when it starts with -") {
    val a = Cli.parse(Seq("anomalies", "in", "out", "-lookback", "-1"))
    assert(a.int("-lookback") == -1 && a.pos == Seq("in", "out"))
    val v = Cli.parse(Seq("view", "in", "-o", "-single"))
    assert(v.get("-o").contains("-single") && !v.has("-single"))
  }

  test("optional flags stay absent until given") {
    val a = Cli.parse(Seq("hits", "e", "out"))
    assert(a.get("-k").isEmpty && a.int("-iters") == 3)
    assert(Cli.parse(Seq("hits", "e", "out", "-k", "5")).get("-k")
      .contains("5"))
  }

  test("the generated usage has one line per registered command") {
    val names = Cli.commands.map(_.spec.name)
    assert(names.distinct.size == names.size, "duplicate command names")
    val lines = Cli.usage.linesIterator.toSeq
    names.foreach(n =>
      assert(lines.exists(_.startsWith(s"  $n ")), s"no usage line for $n"))
  }
}
