package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Hand-computed fixtures for the behavioral tranche: funnel strict
  * ordering + window cutoffs, batch sessionization (incl. the proof it
  * matches Spark's own `session_window` on a boundary-hitting
  * fixture), contiguous k-gram mining, and item-item CF with the
  * oversized-basket exclusion. */
class BehaviorOpsSpec extends AnyFunSuite with SparkFixture {

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("funnel: strict order, same-timestamp no-advance, window cutoff") {
    val s = spark; import s.implicits._
    val h = 3600L
    val df = Seq(
      // u1 completes: view 0h, click 1h, purchase 3h
      (1L, ts(0), "view"), (1L, ts(h), "click"), (1L, ts(3 * h), "purchase"),
      // u2: purchase without click — must stop at step 1
      (2L, ts(0), "view"), (2L, ts(h), "purchase"),
      // u3: click BEFORE entry doesn't count; click at the SAME ts as
      // the entry view doesn't count (strict >); later click does
      (3L, ts(0), "click"), (3L, ts(h), "view"), (3L, ts(h), "click"),
      (3L, ts(2 * h), "click"),
      // u4: click 8 days after entry — outside the 7-day window
      (4L, ts(0), "view"), (4L, ts(8 * 24 * h), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = Funnel.funnel(df, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), windowDays = 7)
      .collect().map(r => r.getInt(0) ->
        (r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1) == (("view", 4L, 1.0, 1.0)))
    assert(out(2) == (("click", 2L, 0.5, 0.5)))   // u1 and u3
    assert(out(3) == (("purchase", 1L, 0.25, 0.5))) // u1 only
    // avg hours: step 2 = mean(1h for u1, 1h for u3) = 1.0
    val hours = Funnel.funnel(df, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), windowDays = 7)
      .collect().map(r => r.getInt(0) -> r.getDouble(5)).toMap
    assert(hours(1) == 0.0 && hours(2) == 1.0 && hours(3) == 3.0)
  }

  test("sessionize: exact-gap merges, strictly-greater gap splits") {
    val s = spark; import s.implicits._
    val df = Seq(
      // 30→90 = exactly the 60s gap ⇒ MERGE (session_window semantics);
      // 90→151 = 61s > gap ⇒ split
      (1L, ts(0), 1L), (1L, ts(30), 2L), (1L, ts(90), 3L), (1L, ts(151), 4L),
      (2L, ts(1000), 5L)
    ).toDF("user_id", "ts", "event_id")
    val out = Sessionize.sessionize(df, "user_id", "ts", "event_id", gapSeconds = 60)
      .orderBy("user_id", "session_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq((1L, 1L, 3L, 90.0), (1L, 2L, 1L, 0.0), (2L, 1L, 1L, 0.0)))
  }

  test("sessionize matches Spark's own session_window aggregate") {
    val s = spark; import s.implicits._
    // irregular stream incl. an exact-boundary event and micro jitter
    val events = Seq(0L, 10, 59, 119, 125, 500, 560, 619, 5000).zipWithIndex
      .map { case (sec, i) => (7L, ts(sec), i.toLong) } ++
      Seq((8L, ts(3), 100L), (8L, ts(62), 101L), (8L, ts(64), 102L))
    val df = events.toDF("user_id", "ts", "event_id")
    val batch = Sessionize.sessionize(df, "user_id", "ts", "event_id", gapSeconds = 60)
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    val sw = df.groupBy(col("user_id"), session_window(col("ts"), "60 seconds").as("w"))
      .agg(min("ts").as("a"), max("ts").as("b"), count(lit(1)).as("n"))
      .select(col("user_id"), col("a"), col("b"), col("n"))
      .orderBy("user_id", "a")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(batch.toSeq == sw.toSeq)
  }

  test("frequentKGrams: contiguity, user support, minSupport filter") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "b"),
      (2L, 1L, "a"), (2L, 2L, "b"), (2L, 3L, "a")
    ).toDF("u", "t", "st")
    val out = Sequences.frequentKGrams(df, "u", "t", "st", "t", k = 3, minSupport = 0.6)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // a>b>a appears in both users (u1 once, u2 once): support 1.0
    assert(out("a > b > a") == ((2L, 2L, 1.0)))
    // b>a>b appears only in u1: support 0.5 < 0.6 — filtered out
    assert(!out.contains("b > a > b"))
    assert(out.size == 1)
  }

  test("twap: step-hold weighting, open last interval, degenerate keys excluded") {
    val s = spark; import s.implicits._
    val df = Seq(
      // u1: 10 held 1s, 20 held 3s, 30 open -> twap (10+60)/4 = 17.5, mean 20
      (1L, ts(0), 1L, 10.0), (1L, ts(1), 2L, 20.0), (1L, ts(4), 3L, 30.0),
      (2L, ts(0), 4L, 99.0),                     // single point: excluded
      (3L, ts(5), 5L, 1.0), (3L, ts(5), 6L, 2.0) // zero span: excluded
    ).toDF("user_id", "ts", "event_id", "value")
    val out = Interpolate.twap(df, Seq("user_id"), "ts", "value", Seq("event_id"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out == Map(1L -> ((3L, 4.0, 20.0, 17.5))))

    // a null value is NOT an observation: the previous value holds
    // across it (u1 with a null at t=1 ⇒ 10 holds the full 4s span)
    val withNull = Seq(
      (1L, ts(0), 1L, Some(10.0)), (1L, ts(1), 2L, Option.empty[Double]),
      (1L, ts(4), 3L, Some(30.0))
    ).toDF("user_id", "ts", "event_id", "value")
    val out2 = Interpolate.twap(withNull, Seq("user_id"), "ts", "value", Seq("event_id"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(4))).toMap
    assert(out2 == Map(1L -> ((2L, 10.0))))
  }

  test("itemItemTopK: cosine, minPairs pruning, oversized-basket exclusion") {
    val s = spark; import s.implicits._
    val base = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L))
    val df = base.toDF("bk", "item")
    val out = Cooccur.itemItemTopK(df, "bk", "item", k = 5, maxBasket = 3, minPairs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getInt(6))).toMap
    // items 1,2 co-occur in all 3 baskets; n_1 = n_2 = 3 ⇒ cosine 1.0
    assert(out((1L, 2L)) == ((3L, 3L, 3L, 1.0, 1)))
    assert(out((2L, 1L)) == ((3L, 3L, 3L, 1.0, 1)))
    // (1,3) co-occur once < minPairs ⇒ pruned
    assert(!out.contains((1L, 3L)) && out.size == 2)

    // an oversized basket contributes NOTHING — not pairs, not n_i
    val big = (1L to 4L).map(i => (99L, i)) // size 4 > maxBasket 3
    val out2 = Cooccur.itemItemTopK((base ++ big).toDF("bk", "item"),
      "bk", "item", k = 5, maxBasket = 3, minPairs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getInt(6))).toMap
    assert(out2 == out)
  }
}
