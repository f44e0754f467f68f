package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tools resolve query lists up front, so a typo fails before any session
  * starts or any query is timed. */
class ResolveQueriesSpec extends AnyFunSuite {

  test("resolveQueries trims entries and drops empty ones") {
    assert(SparkEntry.resolveQueries(" q01 , ,q02", Set("q01", "q02", "q03")) ==
      Seq("q01", "q02"))
  }

  test("resolveQueries names every unknown entry") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.resolveQueries("q01,q9x,q02,zz", Set("q01", "q02")))
    assert(e.getMessage.contains("q9x, zz"))
  }

  test("resolveQueries checks against the catalog by default") {
    val name = SparkEntry.queries.keys.min
    assert(SparkEntry.resolveQueries(s" $name ,") == Seq(name))
    intercept[IllegalArgumentException](
      SparkEntry.resolveQueries(s"$name,q03_revenue_by_nation_typo"))
    intercept[IllegalArgumentException](SparkEntry.resolveQueries(" , "))
  }

  test("BenchOne rejects an unknown name before it starts a session") {
    intercept[IllegalArgumentException](
      graft.tools.BenchOne.parseArgs(Seq("q03_revenue_by_nation,nope")))
  }
}
