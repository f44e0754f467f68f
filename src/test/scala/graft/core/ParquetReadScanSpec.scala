package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: every parquet read in `src/main` goes through
  * [[Tables.readParquet]], which reads the schema from the footers on the
  * driver. A bare `spark.read.parquet` elsewhere would bring back the
  * schema-inference job on each read. */
class ParquetReadScanSpec extends AnyFunSuite {

  private val Forbidden = Seq("""\bread\s*\.\s*parquet\b""", """\bread\s*\.\s*schema\b""").map(_.r)

  /** A source file without char and string literals and comments. */
  private def code(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .replaceAll("""'(\\.|[^'\\])'""", "' '")
      .replaceAll(""""(\\.|[^"\\\n])*"""", "\"\"")
      .replaceAll("""(?s)/\*.*?\*/""", "")
      .replaceAll("""//[^\n]*""", "")

  private def sources(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles().toSeq.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private def hits(f: java.io.File): Seq[String] =
    Forbidden.flatMap(_.findAllIn(code(f)))

  test("src/main reads parquet only through Tables.readParquet") {
    val (reader, rest) = sources(new java.io.File("src/main/scala"))
      .partition(_.getPath.endsWith("graft/core/Tables.scala"))
    assert(reader.size == 1, "scan did not find Tables.scala")
    assert(hits(reader.head) == Seq("read.schema"), "Tables.scala holds one read")
    val found = rest.map(f => f.getPath -> hits(f)).filter(_._2.nonEmpty)
    assert(found.isEmpty, s"parquet reads outside Tables.readParquet: ${found.mkString(", ")}")
  }
}
