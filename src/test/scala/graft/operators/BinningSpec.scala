package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** WOE-binning guarantees: equi-depth bin population, edge-tie rule
  * (values equal to an edge fall LOW), monotone WOE for a monotone
  * feature→label relationship, and IV ≈ 0 for an uninformative one. */
class BinningSpec extends AnyFunSuite with SparkFixture {

  test("equi-depth deciles: 1000 distinct values -> 100 rows per bin; edge ties fall low") {
    val s = spark; import s.implicits._
    val df = (1 to 1000).map(i => (i.toDouble, i % 2)).toDF("v", "y")
    val out = Binning.woeBins(spark, df, "v", "y", nBins = 10).collect()
    assert(out.length == 10)
    assert(out.forall(_.getAs[Long]("n") == 100L))
    // bin 0 holds values 1..100: its max is the 0.1-quantile edge
    // itself (ties fall LOW via the strict > indicator)
    val b0 = out.find(_.getAs[Int]("bin") == 0).get
    assert(b0.getAs[Double]("v_max") == 100.0)
    val b1 = out.find(_.getAs[Int]("bin") == 1).get
    assert(b1.getAs[Double]("v_min") == 101.0)
  }

  test("monotone signal: WOE increases with the bins; flat signal: IV ~ 0") {
    val s = spark; import s.implicits._
    // P(y=1) grows with v -> WOE must be monotone increasing
    val signal = (1 to 2000).map(i => (i.toDouble, if (i % 10 < (i * 10 / 2000)) 1 else 0))
      .toDF("v", "y")
    val woes = Binning.woeBins(spark, signal, "v", "y", nBins = 5)
      .collect().sortBy(_.getAs[Int]("bin")).map(_.getAs[Double]("woe"))
    assert(woes.zip(woes.tail).forall { case (a, b) => a <= b },
      s"WOE not monotone: ${woes.toSeq}")
    // label independent of v -> every bin's IV contribution is tiny
    val flat = (1 to 2000).map(i => (i.toDouble, i % 2)).toDF("v", "y")
    val ivs = Binning.woeBins(spark, flat, "v", "y", nBins = 5)
      .collect().map(_.getAs[Double]("iv"))
    assert(ivs.sum < 0.01, s"uninformative feature should have ~0 IV: ${ivs.sum}")
  }
}
