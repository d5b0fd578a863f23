package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** SCD2 run collapse ([[Scd.scd2]]) and corpus snapshot diff
  * ([[Curation.snapshotDiff]]): hand-computed fixtures for interval
  * bounds, null-safe change detection, tiebreak determinism, and the
  * fingerprint separator guarantees, plus the no-global-sort scale
  * invariant both operators promise. */
class ScdSpec extends AnyFunSuite with SparkFixture {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("scd2: run collapse, interval bounds, version numbering, is_current") {
    val s = spark; import s.implicits._
    val log = Seq(
      (1L, "a", ts("2024-01-01 00:00:00"), 1L),
      (1L, "a", ts("2024-01-02 00:00:00"), 2L), // same state: same run
      (1L, "b", ts("2024-01-03 00:00:00"), 3L),
      (1L, "a", ts("2024-01-04 00:00:00"), 4L), // back to a: NEW run
      (2L, "x", ts("2024-01-01 00:00:00"), 5L)
    ).toDF("user_id", "state", "ts", "event_id")
    val out = Scd.scd2(log, Seq("user_id"), Seq("state"), "ts", Seq("event_id"))
      .orderBy("user_id", "version")
      .select("user_id", "version", "state", "valid_from", "n_rows", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3),
        r.getLong(4), Option(r.getTimestamp(5)), r.getInt(6)))
    assert(out === Array(
      (1L, 1L, "a", ts("2024-01-01 00:00:00"), 2L, Some(ts("2024-01-03 00:00:00")), 0),
      (1L, 2L, "b", ts("2024-01-03 00:00:00"), 1L, Some(ts("2024-01-04 00:00:00")), 0),
      (1L, 3L, "a", ts("2024-01-04 00:00:00"), 1L, None, 1),
      (2L, 1L, "x", ts("2024-01-01 00:00:00"), 1L, None, 1)))
  }

  test("scd2: null attrs collapse null-safely; equal timestamps break by tie column") {
    val s = spark; import s.implicits._
    val log = Seq(
      // two leading nulls are ONE run (null <=> null), then a real state
      (3L, Option.empty[String], ts("2024-01-01 00:00:00"), 1L),
      (3L, Option.empty[String], ts("2024-01-02 00:00:00"), 2L),
      (3L, Some("x"), ts("2024-01-03 00:00:00"), 3L),
      // same-timestamp pair: event_id orders a before b, two runs
      (4L, Some("a"), ts("2024-01-05 00:00:00"), 10L),
      (4L, Some("b"), ts("2024-01-05 00:00:00"), 11L)
    ).toDF("user_id", "state", "ts", "event_id")
    val out = Scd.scd2(log, Seq("user_id"), Seq("state"), "ts", Seq("event_id"))
      .orderBy("user_id", "version")
      .select("user_id", "version", "state", "n_rows", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)), r.getLong(3), r.getInt(4)))
    assert(out === Array(
      (3L, 1L, None, 2L, 0),
      (3L, 2L, Some("x"), 1L, 1),
      (4L, 1L, Some("a"), 1L, 0),
      (4L, 2L, Some("b"), 1L, 1)))
  }

  test("scd2: multi-attr runs break when ANY tracked attribute changes") {
    val s = spark; import s.implicits._
    val log = Seq(
      (1L, "a", 10, ts("2024-01-01 00:00:00"), 1L),
      (1L, "a", 20, ts("2024-01-02 00:00:00"), 2L), // second attr changed
      (1L, "a", 20, ts("2024-01-03 00:00:00"), 3L)
    ).toDF("user_id", "state", "tier", "ts", "event_id")
    val out = Scd.scd2(log, Seq("user_id"), Seq("state", "tier"), "ts", Seq("event_id"))
      .orderBy("version").select("version", "tier", "n_rows")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out === Array((1L, 10, 1L), (2L, 20, 2L)))
  }

  test("scd2: every window is key-partitioned — no global range sort in the plan") {
    val s = spark; import s.implicits._
    val log = Seq((1L, "a", ts("2024-01-01 00:00:00"), 1L))
      .toDF("user_id", "state", "ts", "event_id")
    val plan = Scd.scd2(log, Seq("user_id"), Seq("state"), "ts", Seq("event_id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"),
      s"global sort leaked into the SCD2 plan:\n$plan")
  }

  test("scd2Merge: incremental merge equals the full-log rebuild") {
    val s = spark; import s.implicits._
    // deterministic pseudo-random log: 6 users, states cycle with
    // arithmetic jumps so runs straddle the cutoff in every shape
    val log = (0 until 240).map { i =>
      val user = (i % 6).toLong
      val state = "s" + ((i * 7 + user * 3) % 4 * ((i / 60) + 1) % 5)
      (user, state, ts(f"2024-01-${1 + i / 12}%02d ${i % 12}%02d:00:00"), i.toLong)
    }.toDF("user_id", "state", "ts", "event_id")
    val cutoff = ts("2024-01-11 00:00:00")
    val full = Scd.scd2(log, Seq("user_id"), Seq("state"), "ts", Seq("event_id"))
    val current = Scd.scd2(log.filter($"ts" < cutoff),
      Seq("user_id"), Seq("state"), "ts", Seq("event_id"))
    val merged = Scd.scd2Merge(current, log.filter($"ts" >= cutoff),
      Seq("user_id"), Seq("state"), "ts", Seq("event_id"))
    val cols = Seq("user_id", "version", "state", "valid_from", "n_rows", "valid_to", "is_current")
    val f = full.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    val m = merged.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    assert(m === f)
  }

  test("scd2Merge: cross-cutoff run continuation accumulates n_rows under one version") {
    val s = spark; import s.implicits._
    val batch1 = Seq(
      (1L, "a", ts("2024-01-01 00:00:00"), 1L),
      (1L, "a", ts("2024-01-02 00:00:00"), 2L)).toDF("user_id", "state", "ts", "event_id")
    val batch2 = Seq(
      (1L, "a", ts("2024-01-03 00:00:00"), 3L), // same state: same run
      (1L, "b", ts("2024-01-04 00:00:00"), 4L), // closes it
      (2L, "x", ts("2024-01-05 00:00:00"), 5L)  // brand-new key
    ).toDF("user_id", "state", "ts", "event_id")
    val current = Scd.scd2(batch1, Seq("user_id"), Seq("state"), "ts", Seq("event_id"))
    val merged = Scd.scd2Merge(current, batch2,
        Seq("user_id"), Seq("state"), "ts", Seq("event_id"))
      .orderBy("user_id", "version")
      .select("user_id", "version", "state", "n_rows", "is_current")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getInt(4)))
    assert(merged === Array(
      (1L, 1L, "a", 3L, 0), // 2 rows from batch1 + 1 from batch2
      (1L, 2L, "b", 1L, 1),
      (2L, 1L, "x", 1L, 1)))
  }

  test("scd2Merge: keys untouched by the new batch pass through byte-identical") {
    val s = spark; import s.implicits._
    val batch1 = Seq(
      (1L, "a", ts("2024-01-01 00:00:00"), 1L),
      (1L, "b", ts("2024-01-02 00:00:00"), 2L)).toDF("user_id", "state", "ts", "event_id")
    val batch2 = Seq((9L, "z", ts("2024-01-09 00:00:00"), 9L))
      .toDF("user_id", "state", "ts", "event_id")
    val current = Scd.scd2(batch1, Seq("user_id"), Seq("state"), "ts", Seq("event_id"))
    val merged = Scd.scd2Merge(current, batch2,
      Seq("user_id"), Seq("state"), "ts", Seq("event_id"))
    val cols = Seq("user_id", "version", "state", "valid_from", "n_rows", "valid_to", "is_current")
    val before = current.select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).toSet
    val after = merged.filter($"user_id" === 1L).select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).toSet
    assert(after === before)
  }

  test("scd2Merge: late-record contract violations are counted and strict mode fails fast") {
    val s = spark; import s.implicits._
    val batch1 = Seq(
      (1L, "a", ts("2024-01-01 00:00:00"), 1L),
      (1L, "b", ts("2024-01-05 00:00:00"), 2L), // open interval from Jan 5
      (2L, "x", ts("2024-01-02 00:00:00"), 3L)
    ).toDF("user_id", "state", "ts", "event_id")
    val current = Scd.scd2(batch1, Seq("user_id"), Seq("state"), "ts", Seq("event_id"))
    // one late row (Jan 3 < key 1's open valid_from Jan 5), one fine
    // row, one brand-new key (cannot violate)
    val lateBatch = Seq(
      (1L, "c", ts("2024-01-03 00:00:00"), 4L),
      (2L, "y", ts("2024-01-06 00:00:00"), 5L),
      (9L, "z", ts("2023-01-01 00:00:00"), 6L)
    ).toDF("user_id", "state", "ts", "event_id")
    val n = Scd.scd2LateViolations(current, lateBatch, Seq("user_id"), "ts")
      .head().getLong(0)
    assert(n === 1L)
    val e = intercept[IllegalArgumentException] {
      Scd.scd2Merge(current, lateBatch, Seq("user_id"), Seq("state"), "ts",
        Seq("event_id"), strict = true)
    }
    assert(e.getMessage.contains("1 late observation"))
    // a conforming batch: zero violations, strict merge == rebuild
    val okBatch = Seq((1L, "c", ts("2024-01-06 00:00:00"), 7L))
      .toDF("user_id", "state", "ts", "event_id")
    assert(Scd.scd2LateViolations(current, okBatch, Seq("user_id"), "ts")
      .head().getLong(0) === 0L)
    val merged = Scd.scd2Merge(current, okBatch, Seq("user_id"), Seq("state"),
      "ts", Seq("event_id"), strict = true)
    val full = Scd.scd2(batch1.unionByName(okBatch),
      Seq("user_id"), Seq("state"), "ts", Seq("event_id"))
    val cols = Seq("user_id", "version", "state", "valid_from", "n_rows", "valid_to", "is_current")
    assert(merged.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet ===
      full.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet)
  }

  test("snapshotDiff: added/removed/changed classified, unchanged suppressed") {
    val s = spark; import s.implicits._
    val old = Seq((1L, "alpha", "en"), (2L, "beta", "en"), (3L, "gamma", "de"))
      .toDF("doc_id", "text", "lang")
    val neu = Seq((1L, "alpha", "en"), (2L, "beta v2", "en"), (4L, "delta", "fr"))
      .toDF("doc_id", "text", "lang")
    val out = Curation.snapshotDiff(old, neu, "doc_id", Seq("text", "lang"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(3)))
    assert(out === Array((2L, "changed"), (3L, "removed"), (4L, "added")))
  }

  test("snapshotDiff: null vs empty content differ; adjacent fields cannot collide") {
    val s = spark; import s.implicits._
    // null lang → chr(2) placeholder ≠ empty string → changed, not unchanged
    val old = Seq((1L, "t", Option.empty[String]), (2L, "ab", Some("c")))
      .toDF("doc_id", "text", "lang")
    val neu = Seq((1L, "t", Some("")), (2L, "a", Some("bc")))
      .toDF("doc_id", "text", "lang")
    val out = Curation.snapshotDiff(old, neu, "doc_id", Seq("text", "lang"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(3)))
    // ("ab","c") vs ("a","bc") must differ too: chr(1) separator
    assert(out === Array((1L, "changed"), (2L, "changed")))
  }
}
