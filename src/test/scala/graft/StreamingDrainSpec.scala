package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13: the drain sink is selected BY OUTPUT MODE. Append-mode
  * results are row-scale, so they drain to an executor-side parquet
  * file sink by default — the memory sink serializes every result row
  * to the driver, and at derived sf10 the q85 session drain exceeded
  * spark.driver.maxResultSize (the r12 verdict's scale finding).
  * Complete-mode results are aggregate-scale and stay on the memory
  * sink. SPARK_GRAFT_DRAIN_SINK=memory opts an append drain back into
  * the memory sink for debugging. The sink choice must be invisible in
  * the RESULT: this spec drains the q85 session-window shape both ways
  * and asserts row-identical output, and pins the mode→sink mapping. */
class StreamingDrainSpec extends AnyFunSuite with SparkFixture {

  private def withDrainSinkProp[A](v: Option[String])(body: => A): A = {
    val prev = sys.props.get("spark.graft.drainSink")
    v match {
      case Some(x) => sys.props("spark.graft.drainSink") = x
      case None    => sys.props.remove("spark.graft.drainSink")
    }
    try body
    finally prev match {
      case Some(x) => sys.props("spark.graft.drainSink") = x
      case None    => sys.props.remove("spark.graft.drainSink")
    }
  }

  private def sessionRows(drainSink: Option[String]): Seq[(Long, String, Long)] = {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_drain_spec").toString
    // two users, two sessions each (gap > 30 min splits), plus the
    // far-future watermark-pusher row the q85 staging would add
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ts(minutes: Long) = new java.sql.Timestamp(base + minutes * 60000L)
    val rows = Seq(
      (1L, ts(0), 7L, "click", 1.0, ""), (2L, ts(5), 7L, "click", 1.0, ""),
      (3L, ts(90), 7L, "click", 1.0, ""),
      (4L, ts(2), 8L, "view", 1.0, ""), (5L, ts(95), 8L, "view", 1.0, ""),
      (-1L, ts(60 * 48), -1L, "sentinel", 0.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)
    withDrainSinkProp(drainSink) {
      val stream = graft.streaming.StreamingOps.rawEventStream(s, dir)
        .withWatermark("ts", "1 minute")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
      graft.streaming.StreamingOps
        .runToMemory(s, stream, s"drain_spec_${drainSink.getOrElse("default")}",
          outputMode = "append", awaitRows = 1L)
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("start"),
          col("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    }
  }

  test("mode selects the sink: append → file sink by default, memory only on opt-in; complete → memory") {
    withDrainSinkProp(None) {
      assert(graft.streaming.StreamingOps.drainsToFileSink("append"),
        "append-mode results are row-scale — the default MUST be the executor-side file sink")
      assert(!graft.streaming.StreamingOps.drainsToFileSink("complete"),
        "complete-mode results are aggregate-scale and file sinks are append-only — memory sink")
      assert(!graft.streaming.StreamingOps.drainsToFileSink("update"))
    }
    withDrainSinkProp(Some("memory")) {
      assert(!graft.streaming.StreamingOps.drainsToFileSink("append"),
        "SPARK_GRAFT_DRAIN_SINK=memory opts an append drain back into the memory sink")
    }
  }

  test("default (file) drain sink emits exactly the memory sink's rows (q85 session shape)") {
    val mem = sessionRows(Some("memory"))
    val default = sessionRows(None)
    assert(mem.nonEmpty, "memory drain must emit the closed sessions")
    // 2 sessions for user 7 (gap 85 min splits), 2 for user 8
    assert(mem.map(_._1).distinct === Seq(7L, 8L))
    assert(mem.size === 4)
    assert(default === mem, "sink choice must be invisible in the result")
  }

  test("bounded trigger admission (maxFilesPerTrigger=1) emits exactly the single-burst rows") {
    // r13 verdict item 1: the q85 session drain under bounded admission
    // — time-ordered chunk files admitted one per micro-batch — must be
    // RESULT-INVARIANT vs admitting everything in one burst, including
    // sessions that SPAN a chunk boundary (they stay in state and merge
    // across batches) and per-batch eviction of closed sessions.
    val s = spark; import s.implicits._
    import graft.streaming.StreamingOps
    val raw = java.nio.file.Files.createTempDirectory("graft_bounded_raw").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ts(minutes: Long) = new java.sql.Timestamp(base + minutes * 60000L)
    // user 7: one session spanning minutes 0..40 at <=30-min gaps (events
    // land in DIFFERENT time chunks), then a separate session at 120;
    // user 8: two clean sessions; 10 filler users spread over 4 hours so
    // every chunk is non-empty
    val rows = Seq(
      (1L, ts(0), 7L), (2L, ts(20), 7L), (3L, ts(40), 7L), (4L, ts(120), 7L),
      (5L, ts(2), 8L), (6L, ts(95), 8L)) ++
      (0 until 10).map(i => (10L + i, ts(i * 24L), 100L + i))
    rows.map { case (id, t, u) => (id, t, u, "click", 1.0, "") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(raw)
    def drain(bounded: Boolean): (Seq[(Long, String, Long)], Int) = {
      val (dir, src) =
        if (bounded) {
          val (d, _) = StreamingOps.stageTimeOrderedWithSentinel(s, raw, chunks = 4)
          (d, StreamingOps.rawEventStreamBounded(s, d, maxFilesPerTrigger = 1))
        } else {
          val (d, _) = StreamingOps.stageWithSentinel(s, raw)
          (d, StreamingOps.rawEventStream(s, d))
        }
      val stream = src
        .withWatermark("ts", "1 minute")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
      val drained = StreamingOps
        .runToMemoryCounted(s, stream, s"drain_bounded_$bounded",
          outputMode = "append", awaitRows = 1L)
      val out = drained.df
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("start"),
          col("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      (out, drained.dataBatches)
    }
    val (bounded, boundedBatches) = drain(bounded = true)
    val (burst, burstBatches) = drain(bounded = false)
    assert(boundedBatches >= 4,
      s"bounded drain must run one data batch per chunk file (+sentinel), ran $boundedBatches")
    assert(burstBatches <= 2,
      s"single-burst drain admits everything at once (+sentinel batch), ran $burstBatches")
    // the boundary-spanning session merged across batches: ONE session
    // of 3 events for user 7's first visit
    assert(bounded.filter(_._1 == 7L).map(_._3).sorted == Seq(1L, 3L))
    assert(bounded === burst, "trigger admission must be invisible in the result")
  }
}
