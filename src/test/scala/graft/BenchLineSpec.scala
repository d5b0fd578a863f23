package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-query stdout lines stay valid JSON for any query name
  * and any measured time. */
class BenchLineSpec extends AnyFunSuite {

  test("queries_part lines keep identifier names and finite times as before") {
    assert(Bench.queriesPartLine(3, Seq("q01" -> 1.25, "q02" -> 0.0)) ==
      """{"metric":"queries_part","part":3,"queries":{"q01":1.25,"q02":0.0}}""")
  }

  test("queries_part lines escape names and write non-finite times as null") {
    val times = Seq("a\"b\\c" -> Double.NaN, "tab\there" -> Double.PositiveInfinity,
      "nl\n" -> Double.NegativeInfinity, "q\"x\\y\nz\tw" -> Double.NaN, "ok" -> 2.5)
    val line = Bench.queriesPartLine(1, times)
    assert(!line.contains("NaN") && !line.contains("Infinity"), line)
    assert(!line.exists(_ < ' '), line)
    val json = new ObjectMapper().readTree(line)
    assert(json.get("metric").asText == "queries_part" && json.get("part").asInt == 1)
    val queries = json.get("queries")
    assert(queries.fieldNames().asScala.toSeq == times.map(_._1))
    assert(times.init.forall { case (k, _) => queries.get(k).isNull })
    assert(queries.get("ok").asDouble == 2.5)
  }
}
