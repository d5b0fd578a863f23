package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-query stdout lines stay valid JSON for any query name
  * and any measured time, and its between-query release leaves nothing
  * cached. */
class BenchLineSpec extends AnyFunSuite with SparkFixture {

  test("releaseCached drops Dataset.cache() entries, not only their blocks") {
    val s = spark; import s.implicits._
    val docs = (0L until 12L).map(i => (i, s"near dup w${i % 3}a w${i % 3}b w${i % 3}c w${i % 3}d"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.minhashNearDups(docs, threshold = 0.5).count()
    val cache = spark.sharedState.cacheManager
    assert(!cache.isEmpty, "minhashNearDups caches its candidate pairs")
    Bench.releaseCached(spark)
    assert(cache.isEmpty, "a cache-manager entry outlived releaseCached")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

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
