package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Poisson-bootstrap CI guarantees: determinism (the md5-seeded draws
  * make the whole resampling a pure function), bracketing of the point
  * estimate, and width shrinking with sample size. */
class BootstrapSpec extends AnyFunSuite with SparkFixture {

  private def fixture = {
    val s = spark; import s.implicits._
    // deterministic pseudo-data: value = a stable function of the id
    val rows = (1 to 50).map(i => ("small", 100.0 + (i * 37 % 41), i.toLong)) ++
      (1 to 500).map(i => ("large", 100.0 + (i * 37 % 41), 1000L + i))
    rows.toDF("g", "v", "id")
  }

  test("resampling is a pure function: two runs agree exactly") {
    val a = Bootstrap.meanCi(fixture, "v", Seq("g"), "id", b = 50).collect().toSeq
    val b = Bootstrap.meanCi(fixture, "v", Seq("g"), "id", b = 50).collect().toSeq
    assert(a == b)
  }

  test("CI brackets the point estimate and narrows with sample size") {
    val out = Bootstrap.meanCi(fixture, "v", Seq("g"), "id", b = 100)
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Double]("mean"),
         r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))).toMap
    val (nS, mS, loS, hiS) = out("small")
    val (nL, mL, loL, hiL) = out("large")
    assert(nS == 50L && nL == 500L)
    for ((m, lo, hi) <- Seq((mS, loS, hiS), (mL, loL, hiL))) {
      assert(lo <= m && m <= hi, s"CI [$lo, $hi] must bracket mean $m")
      assert(hi > lo, "CI must have positive width")
    }
    // 10x the data -> roughly sqrt(10)x narrower; assert a loose 2x
    assert((hiL - loL) * 2 < (hiS - loS),
      s"large-n CI [$loL,$hiL] should be much narrower than small-n [$loS,$hiS]")
  }
}
