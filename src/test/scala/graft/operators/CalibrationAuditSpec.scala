package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Hand-computed oracles for the round-9 calibration/audit tranche:
  * isotonic regression's pooling and already-monotone paths (q239),
  * the exact KS statistic with its smallest-attaining-value tie-break
  * (q238), and the FD audit's g₃ violation counting (q240). */
class CalibrationAuditSpec extends AnyFunSuite with SparkFixture {

  test("isotonic: adjacent violator pools to the weighted mean") {
    val s = spark; import s.implicits._
    // buckets (n=10 each) with rates .5, .2, .6: PAV pools 1+2 →
    // (5+2)/20 = .35, leaves bucket 3 at .6
    val rows = Seq.tabulate(10)(i => (1L, if (i < 5) 1L else 0L)) ++
      Seq.tabulate(10)(i => (2L, if (i < 2) 1L else 0L)) ++
      Seq.tabulate(10)(i => (3L, if (i < 6) 1L else 0L))
    val out = Eval.isotonicCalibration(rows.toDF("bucket", "y"), "bucket", "y")
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Double]("raw_rate"), r.getAs[Double]("iso_rate"))).toMap
    assert(out(1L) == ((0.5, 0.35)))
    assert(out(2L) == ((0.2, 0.35)))
    assert(out(3L) == ((0.6, 0.6)))
  }

  test("isotonic: already-monotone rates pass through unchanged") {
    val s = spark; import s.implicits._
    val rows = Seq.tabulate(10)(i => (1L, if (i < 1) 1L else 0L)) ++
      Seq.tabulate(10)(i => (2L, if (i < 2) 1L else 0L)) ++
      Seq.tabulate(10)(i => (3L, if (i < 3) 1L else 0L))
    val out = Eval.isotonicCalibration(rows.toDF("bucket", "y"), "bucket", "y")
      .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Double]("iso_rate")).toMap
    assert(out == Map(1L -> 0.1, 2L -> 0.2, 3L -> 0.3))
  }

  test("ks: exact D with smallest attaining value and lambda") {
    val s = spark; import s.implicits._
    // A = {1,2}, B = {2,3}: |cumA·nB − cumB·nA| over v: 2 at v=1,
    // 2 at v=2, 0 at v=3 → D = 2/4 = 0.5, location = 1 (smallest);
    // n_e = 1 → lambda = (1 + 0.12 + 0.11)·0.5 = 0.615
    val df = Seq(("A", 1.0), ("A", 2.0), ("B", 2.0), ("B", 3.0)).toDF("g", "v")
    val r = StatTests.ksTwoSample(df, "v", "g", "A", "B").collect()(0)
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("at_value") == 1.0)
    assert(r.getAs[Double]("ks_d") == 0.5)
    assert(r.getAs[Double]("lambda") == 0.615)
  }

  test("ks: identical samples give D = 0") {
    val s = spark; import s.implicits._
    val df = Seq(("A", 1.0), ("A", 2.0), ("B", 1.0), ("B", 2.0)).toDF("g", "v")
    val r = StatTests.ksTwoSample(df, "v", "g", "A", "B").collect()(0)
    assert(r.getAs[Double]("ks_d") == 0.0)
  }

  test("fd audit: g3 counts violations as rows outside the plurality") {
    val s = spark; import s.implicits._
    // group 1 → {a, a, b}: plurality a, 1 violation; group 2 → {c}
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "c")).toDF("g", "y")
    val r = Profile.fdAudit(df, Seq(("g->y", Seq("g"), "y"))).collect()(0)
    assert(r.getAs[Long]("n_rows") == 4L)
    assert(r.getAs[Long]("n_groups") == 2L)
    assert(r.getAs[Long]("n_violating_groups") == 1L)
    assert(r.getAs[Long]("n_violation_rows") == 1L)
    assert(r.getAs[Double]("confidence") == 0.75)
  }

  test("fd audit: a holding FD reports confidence exactly 1") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("g", "y")
    val r = Profile.fdAudit(df, Seq(("g->y", Seq("g"), "y"))).collect()(0)
    assert(r.getAs[Long]("n_violation_rows") == 0L)
    assert(r.getAs[Double]("confidence") == 1.0)
  }
}
