package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Exact distributed quantiles: equivalence with the single-sort
  * answer on adversarial data (skew, ties, tiny groups), edge ranks,
  * and the no-global-sort plan invariant. */
class QuantilesSpec extends AnyFunSuite with SparkFixture {

  /** Reference: the naive one-window k = ceil(q·n) order statistic. */
  private def naive(df: org.apache.spark.sql.DataFrame, value: String,
      qs: Seq[Double], group: String): Map[(String, Double), Long] = {
    val w = Window.partitionBy(col(group)).orderBy(col(value))
    val n = df.groupBy(group).agg(count(lit(1)).as("n"))
    val ranked = df.withColumn("rk", row_number().over(w)).join(n, group)
    qs.flatMap { q =>
      ranked.filter(col("rk") === ceil(lit(q) * col("n")).cast("long"))
        .select(col(group), col(value)).collect()
        .map(r => (r.getString(0), q) -> r.getLong(1))
    }.toMap
  }

  test("matches the single-sort order statistic on skewed, tied, deterministic data") {
    val s = spark; import s.implicits._
    // heavy tie mass (v=7 half the time), a skewed group, a tiny group
    val rows = (0 until 997).map { i =>
      val g = if (i % 10 < 8) "big" else "small"
      val v = if (i % 2 == 0) 7L else (i * 37 % 1000).toLong
      (g, v)
    } :+ (("tiny", 42L))
    val df = rows.toDF("g", "v")
    val qs = Seq(0.01, 0.25, 0.5, 0.9, 0.99, 1.0)
    val got = Quantiles.exactQuantiles(df, "v", qs, Seq("g"), nBuckets = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(got === naive(df, "v", qs, "g"))
    // every (group, q) answered exactly once
    assert(got.size === 3 * qs.size)
  }

  test("degenerate all-equal group and q = 1.0 max edge") {
    val s = spark; import s.implicits._
    val df = Seq(("a", 5L), ("a", 5L), ("a", 5L), ("b", 1L), ("b", 9L))
      .toDF("g", "v")
    val got = Quantiles.exactQuantiles(df, "v", Seq(0.5, 1.0), Seq("g"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("a", 0.5) -> 5L, ("a", 1.0) -> 5L,
      ("b", 0.5) -> 1L, ("b", 1.0) -> 9L))
  }

  test("bucket-level value skew: 99% of a group in one value stays exact (short-circuit path)") {
    val s = spark; import s.implicits._
    // group "skew": 990 copies of 500 plus 10 spread values — the 500s
    // bucket is heavy but single-valued, so every quantile landing in
    // it resolves via the per-bucket min==max short-circuit, never
    // ranking the 990 rows through one window partition. Group "flat"
    // keeps the ranked path exercised in the same plan.
    val rows = Seq.fill(990)(("skew", 500L)) ++
      (1 to 10).map(i => ("skew", (i * 1000).toLong)) ++
      (0 until 100).map(i => ("flat", i.toLong * 13 % 97))
    val df = rows.toDF("g", "v")
    val qs = Seq(0.01, 0.5, 0.95, 0.999, 1.0)
    val got = Quantiles.exactQuantiles(df, "v", qs, Seq("g"), nBuckets = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(got === naive(df, "v", qs, "g"))
    assert(got(("skew", 0.5)) === 500L)
    assert(got(("skew", 1.0)) === 10000L)
  }

  test("ungrouped (whole-frame) quantiles") {
    val s = spark; import s.implicits._
    val df = (1L to 100L).toDF("v")
    val got = Quantiles.exactQuantiles(df, "v", Seq(0.5, 0.99))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(got === Map(0.5 -> 50L, 0.99 -> 99L))
  }

  test("no global range sort: every per-row window is bucket-partitioned") {
    val s = spark; import s.implicits._
    val df = (0 until 200).map(i => ("g" + (i % 3), i.toLong)).toDF("g", "v")
    val plan = Quantiles.exactQuantiles(df, "v", Seq(0.5), Seq("g"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"),
      s"global sort leaked into the quantile plan:\n$plan")
  }
  test("weightedQuantiles: lower weighted quantile, weights shift the median") {
    val sess = spark; import sess.implicits._
    // values 1 (w=1), 2 (w=1), 10 (w=8): W=10; the median DOLLAR is 10
    // even though the median ROW is 2
    val df = Seq(("g", 1.0, 1.0, 1L), ("g", 2.0, 1.0, 2L), ("g", 10.0, 8.0, 3L))
      .toDF("grp", "v", "w", "id")
    val out = Quantiles.weightedQuantiles(df, "v", "w", Seq(0.2, 0.5), Seq("grp"))
      .collect().map(r => r.getDouble(1) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(out(0.5) == ((10.0, 10.0)))  // cumw 2 < 5 <= 10 -> value 10
    assert(out(0.2) == ((2.0, 10.0)))   // cumw 1 < 2 <= 2  -> value 2
  }

  test("weightedQuantiles: uniform weights reduce to the plain order statistic") {
    val sess = spark; import sess.implicits._
    val df = (1 to 100).map(i => ("g", i.toDouble, 1.0, i.toLong))
      .toDF("grp", "v", "w", "id")
    val out = Quantiles.weightedQuantiles(df, "v", "w", Seq(0.5, 0.9), Seq("grp"))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(out == Map(0.5 -> 50.0, 0.9 -> 90.0))
  }
}
