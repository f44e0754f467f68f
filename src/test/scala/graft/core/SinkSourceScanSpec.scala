package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: every GenomicDataset sink reads the dataset's one shared
  * execution ([[GenomicDataset.executed]], or `records` over it). Reading
  * `gd.ds.rdd`, `gd.ds.map`, `gd.ds.toLocalIterator` or `toDF.write`
  * instead plans the dataset again, so a second sink would redo the first
  * sink's sort. */
class SinkSourceScanSpec extends AnyFunSuite {

  private val Forbidden = Seq(
    """\bds\.rdd\b""", """\bds\.map\b""", """\bds\.toLocalIterator\b""",
    """\btoDF(\(\))?\.write\b""").map(_.r)

  /** A source file without char and string literals and comments. */
  private def code(path: String): String = {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    src.replaceAll("""'(\\.|[^'\\])'""", "' '")
      .replaceAll(""""(\\.|[^"\\\n])*"""", "\"\"")
      .replaceAll("""(?s)/\*.*?\*/""", "")
      .replaceAll("""//[^\n]*""", "")
  }

  /** The `def`s among a file's object- or class-level members (2-space
    * indent), as (name, first parameter list, text after it). */
  private def defs(src: String): Seq[(String, String, String)] =
    src.split("""(?m)(?=^  (?:(?:private|protected|override)(?:\[\w+\])? )*(?:def|val|lazy val|case class|class|object|implicit) )""")
      .toSeq.flatMap { m =>
        """^\s*(?:(?:private|protected|override)(?:\[\w+\])? )*def (\w+)""".r
          .findFirstMatchIn(m).map { d =>
            val open = m.indexOf('(', d.end)
            if (open < 0) (d.group(1), "", m.substring(d.end))
            else {
              // the parenthesis closing the first parameter list
              val depth = m.substring(open).scanLeft(0) { (n, c) =>
                if (c == '(') n + 1 else if (c == ')') n - 1 else n }
              val close = open + depth.indexWhere(_ == 0, 1) - 1
              (d.group(1), m.substring(open, close + 1), m.substring(close + 1))
            }
          }
      }

  private def violations(body: String): Seq[String] =
    Forbidden.flatMap(_.findFirstIn(body))

  test("GenomicDataset sinks in graft.sources read the shared execution") {
    val dir = new java.io.File("src/main/scala/graft/sources")
    val sinks = dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq.flatMap { f =>
      defs(code(f.getPath)).collect {
        case (name, params, rest) if params.contains(": GenomicDataset[") &&
            rest.matches("""(?s)\s*:\s*Unit\s*=.*""") =>
          (f.getName.stripSuffix(".scala") + "." + name, rest)
      }
    }
    val names = sinks.map(_._1).toSet
    Seq("BamIO.write", "CramIO.write", "CramIO.writeIndexed", "SamIO.write")
      .foreach(n => assert(names.contains(n), s"scan did not find sink $n in $names"))
    sinks.foreach { case (name, body) =>
      assert(violations(body).isEmpty, s"$name reads ${violations(body)}")
      assert("""\bgd\.(records|executed)\b|\bwrite\(gd\b""".r.findFirstIn(body).isDefined,
        s"$name reads neither gd.records nor gd.executed")
    }
  }

  test("GenomicDataset.save* write the shared execution") {
    val saves = defs(code("src/main/scala/graft/core/GenomicDataset.scala"))
      .filter(_._1.startsWith("save"))
    assert(saves.map(_._1).toSet == Set("saveAsParquet", "saveAsPartitionedParquet"))
    saves.foreach { case (name, _, body) =>
      assert(violations(body).isEmpty, s"$name reads ${violations(body)}")
      assert("""\btoDF\b""".r.findFirstIn(body).isEmpty, s"$name reads toDF")
      assert(body.contains("executedDF"), s"$name does not write executed")
    }
  }
}
