package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13: the RocksDB state-store option. The default
  * HDFSBackedStateStoreProvider keeps every state row in executor heap,
  * so at 100× state the provider — not the plan — is the first thing to
  * fall over. A drain's `stateStore = Some("rocksdb")` switches it to
  * Spark's built-in RocksDBStateStoreProvider (off-heap LSM,
  * spill-to-disk, bounded by disk not heap). The provider must be
  * invisible in the RESULT: this spec drains the session-window, TTL
  * dedup, stream-stream join and flatMapGroupsWithState shapes on both
  * providers and asserts row-identical output. */
class StateStoreProviderSpec extends AnyFunSuite with SparkFixture {

  private def sessionRows(provider: Option[String]): Seq[(Long, String, Long)] = {
    val s = spark; import s.implicits._
    val dir = Scratch.dir("ssp_spec").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ts(minutes: Long) = new java.sql.Timestamp(base + minutes * 60000L)
    Seq(
      (1L, ts(0), 7L, "click", 1.0, ""), (2L, ts(5), 7L, "click", 1.0, ""),
      (3L, ts(90), 7L, "click", 1.0, ""),
      (4L, ts(2), 8L, "view", 1.0, ""), (5L, ts(95), 8L, "view", 1.0, ""),
      (-1L, ts(60 * 48), -1L, "sentinel", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)
    val stream = graft.streaming.StreamingOps.rawEventStream(s, dir)
      .withWatermark("ts", "1 minute")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
    graft.streaming.StreamingOps
      .drain(s, stream, s"ssp_spec_${provider.getOrElse("default")}",
        outputMode = "append", stateStore = provider).df
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("start"),
        col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
  }

  /** The q226 staged timeline (mtime-ordered files, maxFilesPerTrigger
    * 1): batch 2 re-delivers a fingerprint WITHIN the TTL (dropped),
    * batch 4 re-delivers it AFTER state expiry (lands again) — both
    * TTL paths exercise real state eviction on the provider under test. */
  private def ttlDedupRows(provider: Option[String]): Seq[(Long, String)] = {
    val s = spark; import s.implicits._
    def ts(off: Long) = new java.sql.Timestamp((1704067200L + off) * 1000L)
    val day = 86400L
    val batches = Seq(
      Seq((1L, "alpha beta gamma", ts(0L)), (2L, "delta epsilon zeta", ts(60L))),
      Seq((100L, "watermark pusher text", ts(10 * day)),
        (3L, "alpha beta gamma", ts(3600L))), // within TTL → dropped
      Seq((101L, "second pusher text", ts(10 * day + 60L))), // eviction spacer
      Seq((4L, "alpha beta gamma", ts(9 * day + 3600L)))) // post-expiry → lands
    val files = batches.flatMap { rows =>
      val p = Scratch.dir("ssp_ttl_batch")
      rows.toDF("doc_id", "text", "ts").coalesce(1)
        .write.mode("overwrite").parquet(p.toString)
      graft.streaming.StreamingOps.partFiles(p)
    }
    val dir = Scratch.dir("ssp_ttl")
    graft.streaming.StreamingOps.landInOrder(dir,
      files.zipWithIndex.map { case (f, i) => f -> s"batch$i.parquet" })
    val stream = s.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    graft.streaming.StreamingOps
      .drain(s, graft.streaming.StreamingOps.dedupStreamTtl(stream, "1 day"),
        s"ssp_ttl_${provider.getOrElse("default")}",
        outputMode = "append", stateStore = provider).df
      .select(col("doc_id"), col("fingerprint"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq
  }

  /** r13 verdict item 2: provider invariance must cover the OTHER two
    * state layouts, not just session windows and TTL dedup — the
    * stream-stream join (FOUR state stores per partition: keyToNumValues
    * / keyWithIndexToValue on each side, the layout whose state
    * outgrows heap first at 100× because BOTH sides buffer until the
    * watermark clears the interval) and flatMapGroupsWithState (custom
    * user-state encoder, one Boolean per fingerprint). Driven through
    * the registry's own plans (q87/q304 left join incl. the
    * eviction-emitted unmatched rows; q88's full-outer builder; q71's
    * FMGWS dedup stream) at sf0.001, so the exact production plans are
    * what both providers drain. */
  private val sf = "/root/testdata/sf0.001"

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("RocksDB provider drains the q87 stream-stream left-join shape row-identically") {
    val hdfs = sortedRows(graft.queries.AnalyticsQueries.q87StreamingLeftJoin(spark, sf))
    val rocks = sortedRows(graft.queries.AnalyticsQueries.q304RocksdbJoin(spark, sf))
    assert(hdfs.nonEmpty, "left join must emit rows (matched + evicted-unmatched)")
    // the eviction path is genuinely exercised: some purchases have no
    // view within the interval and emit null-extended (view_id = -1)
    assert(hdfs.exists(_.contains(",-1,")),
      "fixture must contain unmatched purchases (join-state eviction path)")
    assert(rocks === hdfs, "state-store provider must be invisible in the join result")
  }

  test("RocksDB provider drains the q88 full-outer join shape row-identically") {
    def fullJoin(stateStore: Option[String]) = sortedRows(graft.queries.AnalyticsQueries
      .streamingOuterJoin(spark, sf, "full_outer", stateStore, "ssp_full_join"))
    val hdfs = fullJoin(None)
    val rocks = fullJoin(Some("rocksdb"))
    assert(hdfs.nonEmpty)
    assert(rocks === hdfs, "state-store provider must be invisible in the full-outer result")
  }

  test("RocksDB provider drains the q71 flatMapGroupsWithState dedup row-identically") {
    import graft.streaming.StreamingOps
    def dedup(stateStore: Option[String]) = sortedRows(StreamingOps.drain(spark,
      StreamingOps.dedupStream(spark, StreamingOps.documentStream(spark, s"$sf/documents.parquet")),
      "ssp_fmgws_dedup", outputMode = "append", stateStore = stateStore).df)
    val hdfs = dedup(None)
    val rocks = dedup(Some("rocksdb"))
    assert(hdfs.nonEmpty, "FMGWS dedup must emit one survivor per fingerprint")
    assert(rocks === hdfs,
      "state-store provider must be invisible through the custom state encoder")
  }

  test("RocksDB provider drains the q85 session shape row-identically to the default") {
    val hdfs = sessionRows(None)
    val rocks = sessionRows(Some("rocksdb"))
    assert(hdfs.size === 4)
    assert(rocks === hdfs, "state-store provider must be invisible in the result")
  }

  test("RocksDB provider drains the q226 TTL-dedup shape row-identically to the default") {
    val hdfs = ttlDedupRows(None)
    val rocks = ttlDedupRows(Some("rocksdb"))
    // doc 3 (within-TTL re-delivery) dropped; doc 4 (post-expiry) lands
    assert(hdfs.map(_._1) === Seq(1L, 2L, 4L, 100L, 101L))
    assert(rocks === hdfs, "state-store provider must be invisible in the result")
  }
}
