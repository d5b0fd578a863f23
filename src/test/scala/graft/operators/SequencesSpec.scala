package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Transition-matrix semantics on a hand-computed two-user fixture,
  * including the timestamp-tie determinism contract. */
class SequencesSpec extends AnyFunSuite with SparkFixture {

  test("counts per-user ordered transitions and row-normalizes") {
    val s = spark; import s.implicits._
    // user 1: a -> b -> a ; user 2: a -> b  (transitions: a->b x2, b->a x1)
    val df = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"),
      (2L, 1L, "a"), (2L, 2L, "b")
    ).toDF("u", "t", "st")
    val out = Sequences.transitionMatrix(df, "u", "t", "st", "t")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("state_total"), r.getAs[Double]("p"))).toMap
    assert(out(("a", "b")) == ((2L, 2L, 1.0)))
    // user 2's trailing b has no next event: end-of-sequence emits no
    // transition, so b's outgoing total is 1
    assert(out(("b", "a")) == ((1L, 1L, 1.0)))
    assert(out.size == 2)
    // probabilities sum to 1 per state with outgoing transitions
    val rowSums = out.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2._3).sum).toMap
    assert(rowSums("a") == 1.0)
  }

  test("precedingPaths: start padding, corpus-wide counting, share sums to 1") {
    val s = spark; import s.implicits._
    // user 1: a b BUY ; user 2: BUY (no history) ; user 3: c a b BUY
    val df = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "BUY"),
      (2L, 1L, "BUY"),
      (3L, 1L, "c"), (3L, 2L, "a"), (3L, 3L, "b"), (3L, 4L, "BUY")
    ).toDF("u", "t", "st")
    val out = Sequences.precedingPaths(df, "u", "t", "st", "t", target = "BUY", depth = 3)
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Double]("share"))).toMap
    assert(out("(start) > a > b") == ((1L, 0.333333)))
    assert(out("(start) > (start) > (start)") == ((1L, 0.333333)))
    assert(out("c > a > b") == ((1L, 0.333333)))
    assert(out.size == 3)

    // a genuinely NULL state is its own sentinel, not start padding
    val withNull = Seq(
      (9L, 1L, Option.empty[String]), (9L, 2L, Some("a")), (9L, 3L, Some("BUY"))
    ).toDF("u", "t", "st")
    val out2 = Sequences.precedingPaths(withNull, "u", "t", "st", "t",
        target = "BUY", depth = 3)
      .collect().map(_.getString(0)).toSet
    assert(out2 == Set("(start) > (null) > a"), s"got $out2")
  }

  test("equal timestamps are ordered by the tiebreak column") {
    val s = spark; import s.implicits._
    // same ts for all three events; tie column fixes a -> b -> c
    val df = Seq((1L, 5L, 10L, "a"), (1L, 5L, 11L, "b"), (1L, 5L, 12L, "c"))
      .toDF("u", "t", "tie", "st")
    val out = Sequences.transitionMatrix(df, "u", "t", "st", "tie")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("a", "b"), ("b", "c")))
  }
}
