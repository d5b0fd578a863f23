package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one streaming drain (`StreamingOps.drain`, `Trigger.AvailableNow`
  * + `awaitTermination`) must return exactly the batch answer with no
  * wait hint: the trailing no-data batch that closes append-mode
  * windows and evicts unmatched outer-join rows runs before the query
  * terminates. The sink is selected BY OUTPUT MODE: append-mode results
  * are row-scale, so they drain to an executor-side parquet file sink
  * (the memory sink serializes every result row to the driver, and at
  * derived sf10 the q85 session drain exceeded
  * spark.driver.maxResultSize); complete- and update-mode results are
  * aggregate-scale and stay on the memory sink. */
class StreamingDrainSpec extends AnyFunSuite with SparkFixture {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def sessionRows(df: DataFrame): Seq[String] = rows(df
    .filter(col("user_id") >= 0)
    .select(col("user_id"),
      date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("start"),
      col("n_events")))

  test("mode selects the sink: append → file sink, others → memory") {
    assert(graft.streaming.StreamingOps.drainsToFileSink("append"),
      "append-mode results are row-scale — they MUST drain to the executor-side file sink")
    assert(!graft.streaming.StreamingOps.drainsToFileSink("complete"),
      "complete-mode results are aggregate-scale and file sinks are append-only — memory sink")
    assert(!graft.streaming.StreamingOps.drainsToFileSink("update"))
  }

  test("file drain sink equals the batch session_window rows (q85 shape)") {
    val s = spark; import s.implicits._
    val dir = Scratch.dir("drain_spec").toString
    // two users, two sessions each (gap > 30 min splits), plus the
    // far-future watermark-pusher row the q85 staging would add
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ts(minutes: Long) = new java.sql.Timestamp(base + minutes * 60000L)
    Seq(
      (1L, ts(0), 7L, "click", 1.0, ""), (2L, ts(5), 7L, "click", 1.0, ""),
      (3L, ts(90), 7L, "click", 1.0, ""),
      (4L, ts(2), 8L, "view", 1.0, ""), (5L, ts(95), 8L, "view", 1.0, ""),
      (-1L, ts(60 * 48), -1L, "sentinel", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)
    def sessions(events: DataFrame): DataFrame = events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
    val stream = sessions(graft.streaming.StreamingOps.rawEventStream(s, dir)
      .withWatermark("ts", "1 minute"))
    val drained = sessionRows(graft.streaming.StreamingOps
      .drain(s, stream, "drain_spec_sessions", outputMode = "append").df)
    val batch = sessionRows(sessions(s.read.parquet(dir)))
    // 2 sessions for user 7 (gap 85 min splits), 2 for user 8
    assert(batch.size === 4)
    assert(drained === batch, "the drain must emit every session the batch aggregate finds")
  }

  test("left-outer join drain emits every unmatched purchase, equal to batch") {
    // the q87 builder itself over a staged events table: matched pairs
    // emit in the data batch, unmatched purchases only when the
    // sentinel-advanced watermark evicts them in the trailing no-data
    // batch — which the drain must run without being told to wait
    val s = spark; import s.implicits._
    val d = Scratch.dir("drain_join").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ts(minutes: Long) = new java.sql.Timestamp(base + minutes * 60000L)
    Seq(
      (1L, ts(0), 7L, "purchase"), (2L, ts(5), 7L, "view"), // matched
      (3L, ts(100), 7L, "purchase"), // no view at all: unmatched
      (4L, ts(10), 8L, "purchase"), (5L, ts(60), 8L, "view"), // view too late: unmatched
      (6L, ts(20), 9L, "view")) // a view alone emits nothing in a left join
      .map { case (id, t, u, ty) => (id, t, u, ty, 1.0, "") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val drained = rows(graft.queries.AnalyticsQueries
      .streamingOuterJoin(s, d, "left_outer", stateStore = None, viewName = "drain_spec_left"))
    val ev = s.read.parquet(s"$d/events.parquet")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
    val batch = rows(p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 900 SECONDS") &&
        col("v_ts") <= col("p_ts") + expr("INTERVAL 900 SECONDS"), "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_id"),
        coalesce(col("view_id"), lit(-1L)).as("view_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("p_ts_s"),
        date_format(col("v_ts"), "yyyy-MM-dd HH:mm:ss").as("v_ts_s")))
    assert(batch.size === 3)
    assert(batch.count(_.contains(",-1,")) === 2, "fixture holds two unmatched purchases")
    assert(drained === batch, "every evicted unmatched purchase must be in the drained result")
  }

  test("bounded trigger admission (maxFilesPerTrigger=1) emits exactly the single-burst rows") {
    // r13 verdict item 1: the q85 session drain under bounded admission
    // — time-ordered chunk files admitted one per micro-batch — must be
    // RESULT-INVARIANT vs admitting everything in one burst, including
    // sessions that SPAN a chunk boundary (they stay in state and merge
    // across batches) and per-batch eviction of closed sessions.
    val s = spark; import s.implicits._
    import graft.streaming.StreamingOps
    val raw = Scratch.dir("bounded_raw").toString
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
          val d = StreamingOps.stageTimeOrderedWithSentinel(s, raw, chunks = 4)
          (d, StreamingOps.rawEventStream(s, d, maxFilesPerTrigger = Some(1)))
        } else {
          val d = StreamingOps.stageWithSentinel(s, raw)
          (d, StreamingOps.rawEventStream(s, d))
        }
      val stream = src
        .withWatermark("ts", "1 minute")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
      val drained = StreamingOps
        .drain(s, stream, s"drain_bounded_$bounded", outputMode = "append")
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
