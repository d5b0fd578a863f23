package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Hand-computed oracles for exact single-changepoint detection
  * (q212): a planted level shift is located exactly, a flat series
  * reports zero reduction, ties break to the earliest split. */
class ChangepointSpec extends AnyFunSuite with SparkFixture {

  test("planted level shift: located at the jump with exact means") {
    val s = spark; import s.implicits._
    // 10.0 for i < 6, 20.0 after → split at i = 6; SSE drops from
    // 10 · var([10×5, 20×5]) = 250 to 0
    val df = (1 to 10).map(i => ("a", i, if (i <= 5) 10.0 else 20.0))
      .toDF("k", "t", "v")
    val out = Changepoint.singleChangepoint(df, "k", "t", "v").collect()(0)
    assert(out.getAs[Int]("change_t") == 6)
    assert(out.getAs[Double]("before_mean") == 10.0)
    assert(out.getAs[Double]("after_mean") == 20.0)
    assert(out.getAs[Double]("sse_reduction") == 250.0)
  }

  test("flat series: zero reduction, tie broken to the earliest split") {
    val s = spark; import s.implicits._
    val df = (1 to 6).map(i => ("a", i, 7.0)).toDF("k", "t", "v")
    val out = Changepoint.singleChangepoint(df, "k", "t", "v").collect()(0)
    assert(out.getAs[Double]("sse_reduction") == 0.0)
    assert(out.getAs[Int]("change_t") == 2)
  }

  test("single-point and multi-key: short keys dropped, keys independent") {
    val s = spark; import s.implicits._
    val df = (Seq(("solo", 1, 5.0)) ++
      (1 to 4).map(i => ("b", i, if (i <= 2) 1.0 else 3.0)))
      .toDF("k", "t", "v")
    val out = Changepoint.singleChangepoint(df, "k", "t", "v").collect()
    assert(out.length == 1 && out(0).getAs[String]("k") == "b")
    assert(out(0).getAs[Int]("change_t") == 3)
  }
}
