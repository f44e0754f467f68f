package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: cache lifetimes in `graft.operators` are decided in
  * [[Caching]] alone. An operator persists scaffolding and cuts
  * per-round state through a [[Caching.Scope]], which frees what the
  * call made and nothing a caller made; a hand-written `unpersist` or
  * local checkpoint elsewhere would decide a lifetime of its own. */
class CacheScopeScanSpec extends AnyFunSuite {

  private val Forbidden = Seq(
    """\.localCheckpoint\b""", """\bfreeSuperseded\b""", """\.unpersist\b""")
    .map(_.r)

  /** A source file without char and string literals and comments. */
  private def code(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .replaceAll("""'(\\.|[^'\\])'""", "' '")
      .replaceAll(""""(\\.|[^"\\\n])*"""", "\"\"")
      .replaceAll("""(?s)/\*.*?\*/""", "")
      .replaceAll("""//[^\n]*""", "")

  test("no unpersist or local checkpoint in graft.operators outside Caching") {
    val files = new java.io.File("src/main/scala/graft/operators").listFiles()
      .filter(_.getName.endsWith(".scala")).toSeq
    assert(files.exists(_.getName == "GraphOps.scala"), "scan found no operator sources")
    val caching = files.find(_.getName == "Caching.scala").get
    assert(Forbidden.exists(_.findFirstIn(code(caching)).isDefined),
      "the scan no longer matches the calls Caching makes")
    val found = for {
      f <- files if f != caching
      re <- Forbidden
      m <- re.findAllIn(code(f))
    } yield s"${f.getName}: $m"
    assert(found.isEmpty, found.mkString("; "))
  }
}
