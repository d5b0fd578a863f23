package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Kaplan–Meier life-table semantics on hand-computed fixtures,
  * including censoring's effect on at-risk counts and the absorbing
  * zero state. */
class SurvivalSpec extends AnyFunSuite with SparkFixture {

  test("textbook life table: censored units leave the risk set without an event") {
    val s = spark; import s.implicits._
    // (duration, event): deaths at 1,2,3; censored at 2 and 4
    val units = Seq((1L, 1), (2L, 1), (2L, 0), (3L, 1), (4L, 0)).toDF("t", "e")
    val out = Survival.kaplanMeier(units, "t", "e")
      .collect().map(r => r.getAs[Long]("t") ->
        (r.getAs[Long]("n_at_risk"), r.getAs[Long]("n_events"),
         r.getAs[Long]("n_censored"), r.getAs[Double]("survival"))).toMap
    assert(out(1L) == ((5L, 1L, 0L, 0.8)))          // 1 - 1/5
    assert(out(2L) == ((4L, 1L, 1L, 0.6)))          // 0.8 * (1 - 1/4)
    assert(out(3L) == ((2L, 1L, 0L, 0.3)))          // 0.6 * (1 - 1/2)
    assert(out(4L) == ((1L, 0L, 1L, 0.3)))          // censoring: S unchanged
  }

  test("absorbing zero: when everyone remaining fails, S is exactly 0 (no ln(0))") {
    val s = spark; import s.implicits._
    // by construction this can only happen at the LAST duration: any
    // unit with a later exit time would still be at risk, keeping d < n
    val all = Seq((1L, 1), (2L, 1), (2L, 1)).toDF("t", "e")
    val out = Survival.kaplanMeier(all, "t", "e")
      .collect().map(r => r.getAs[Long]("t") -> r.getAs[Double]("survival")).toMap
    assert(out(1L) > 0.0)
    assert(out(2L) == 0.0)
  }
}
