package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.QuerySpec

/** The query registry: one table of [[QuerySpec]]s, from which the
  * driver's `queries` and `oracleSql` maps and the query filter are
  * derived. None of it needs a session. */
class RegistrySpec extends AnyFunSuite {

  test("queries and oracleSql hold the same 309 names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 309)
  }

  test("every oracle is non-blank SQL") {
    // a spec built before a val it reads would hold null here
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql == null || sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"blank oracle SQL: ${blank.toSeq.sorted}")
  }

  test("two specs with one name fail, naming the duplicate") {
    val sql = "SELECT 1"
    val a = QuerySpec("qa", SparkEntry.queries("q01_agg"), sql)
    val b = QuerySpec("qb", SparkEntry.queries("q01_agg"), sql)
    assert(SparkEntry.byName(Seq(a, b)).keySet == Set("qa", "qb"))
    val e = intercept[IllegalArgumentException](SparkEntry.byName(Seq(a, b, a.copy(oracleSql = "SELECT 2"))))
    assert(e.getMessage.contains("qa") && !e.getMessage.contains("qb"), e.getMessage)
  }

  test("the query filter selects exactly the named specs, in name order") {
    assert(SparkEntry.select(Some(" q03_join_agg,q01_agg ,q03_join_agg")).map(_.name) ==
      Seq("q01_agg", "q03_join_agg"))
    assert(SparkEntry.select(None).map(_.name) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("the query filter rejects unknown names and an empty list") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q01_agg,q01_agg_typo,nope")))
    assert(e.getMessage.contains("q01_agg_typo") && e.getMessage.contains("nope"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.select(Some(" , ")))
  }
}
