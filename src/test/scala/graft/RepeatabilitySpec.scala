package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must be invokable TWICE in one session with
  * identical results — catches hidden statefulness (memory-sink /
  * temp-view name reuse, cache accumulation, function-registry
  * conflicts) that a single-pass verify never sees but a long-lived
  * driver session would. The streaming queries, whose drains reuse
  * sink names, staged sources and state-store providers across passes,
  * must also agree on an order-insensitive content hash. */
class RepeatabilitySpec extends AnyFunSuite with SparkFixture {

  private val streaming = Seq(
    "q22_streaming", "q71_streaming_dedup", "q72_streaming_join", "q82_upsert_sink",
    "q85_streaming_sessions", "q87_streaming_left_join", "q88_streaming_full_join",
    "q109_streaming_ingest_dedup", "q123_stream_quality", "q155_stream_contracts",
    "q181_stream_topk", "q226_stream_dedup_ttl", "q242_stream_enrich", "q262_stream_hll",
    "q300_rocksdb_sessions", "q301_bounded_sessions", "q304_rocksdb_join",
    "q308_bounded_rocksdb_sessions").toSet

  /** Order-insensitive content hash, in the convention of
    * `scripts/compare.py`: columns sorted by name, every value
    * stringified (null and NaN as "NULL"), rows sorted. */
  private def contentHash(df: DataFrame): String = {
    val cols = df.columns.sorted
    val lines = df.select(cols.map(df.col): _*).collect().map(_.toSeq.map {
      case null => "NULL"
      case d: Double if d.isNaN => "NULL"
      case f: Float if f.isNaN => "NULL"
      case v => v.toString
    }.mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  test("all queries run twice in one session with identical row counts") {
    val sf = "/root/testdata/sf0.001"
    assert(streaming.subsetOf(SparkEntry.queries.keySet),
      s"unknown streaming names: ${streaming -- SparkEntry.queries.keySet}")
    def pass(): Seq[(String, Long, Option[String])] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val df = fn(spark, sf)
        (name, df.count(), Option.when(streaming(name))(contentHash(df)))
      }
    val first = pass()
    val second = pass()
    first.zip(second).foreach { case ((n1, c1, h1), (n2, c2, h2)) =>
      assert(n1 == n2 && c1 == c2, s"$n1: first run $c1 rows, second run $c2")
      assert(h1 == h2, s"$n1: content hash differs between the two runs")
    }
    assert(first.forall(_._2 >= 0))
    assert(first.count(_._3.isDefined) == streaming.size)
  }

  test("entry() flagship returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
