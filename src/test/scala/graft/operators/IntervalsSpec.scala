package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Hand-computed oracles for the interval-overlap join (q209): closed
  * interval semantics, touch-counts, canonical-bucket dedup across
  * many-bucket spans, and grid-invariance vs the naive join. */
class IntervalsSpec extends AnyFunSuite with SparkFixture {

  private def left(rows: (String, Long, Long, Long)*) = {
    val s = spark; import s.implicits._
    rows.toSeq.toDF("k", "l_id", "ls", "le")
  }
  private def right(rows: (String, Long, Long, Long)*) = {
    val s = spark; import s.implicits._
    rows.toSeq.toDF("k", "r_id", "rs", "re")
  }

  test("closed intervals: overlap and touch pair, disjoint and cross-key don't") {
    val l = left(("a", 1L, 0L, 10L), ("a", 2L, 50L, 60L), ("b", 3L, 0L, 10L))
    val r = right(("a", 1L, 5L, 15L),  // overlaps l1
      ("a", 2L, 10L, 20L),             // touches l1 at 10 → pair
      ("a", 3L, 30L, 40L),             // disjoint
      ("c", 4L, 0L, 10L))              // other key
    val out = Intervals.overlapJoin(l, r, Seq("k"), "ls", "le", "rs", "re",
        bucketWidth = 7L)
      .select("l_id", "r_id", "overlap_start", "overlap_end")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .toSet
    assert(out == Set((1L, 1L, 5L, 10L), (1L, 2L, 10L, 10L)))
  }

  test("a pair spanning many buckets emits exactly once") {
    val l = left(("a", 1L, 0L, 1000L))
    val r = right(("a", 9L, 1L, 999L))
    val out = Intervals.overlapJoin(l, r, Seq("k"), "ls", "le", "rs", "re",
      bucketWidth = 10L)
    assert(out.count() == 1L)
  }

  test("negative bounds: truncating div stays monotone, grid still exact") {
    val l = left(("a", 1L, -25L, -5L), ("a", 2L, -100L, -80L))
    val r = right(("a", 1L, -10L, 3L), ("a", 2L, -79L, -60L))
    for (w <- Seq(1L, 7L, 64L)) {
      val out = Intervals.overlapJoin(l, r, Seq("k"), "ls", "le", "rs", "re", w)
        .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(out == Set((1L, 1L)), s"bucketWidth=$w")
    }
  }

  test("grid-invariance: any bucket width reproduces the naive join") {
    val s = spark; import s.implicits._
    // deterministic pseudo-random intervals on 3 keys
    val ls = (0 until 40).map(i =>
      (s"k${i % 3}", i.toLong, (i * 37L) % 200, (i * 37L) % 200 + (i * 13L) % 50))
    val rs = (0 until 40).map(i =>
      (s"k${i % 3}", i.toLong, (i * 53L) % 200, (i * 53L) % 200 + (i * 7L) % 60))
    val l = ls.toDF("k", "l_id", "ls", "le")
    val r = rs.toDF("k", "r_id", "rs", "re")
    val naive = l.join(r, Seq("k"))
      .filter(col("le") >= col("rs") && col("re") >= col("ls"))
      .select("k", "l_id", "r_id")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    assert(naive.nonEmpty)
    for (w <- Seq(1L, 13L, 500L)) {
      val grid = Intervals.overlapJoin(l, r, Seq("k"), "ls", "le", "rs", "re", w)
        .select("k", "l_id", "r_id")
        .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
      assert(grid == naive, s"bucketWidth=$w")
    }
  }
}
