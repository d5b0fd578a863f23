package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.Pin

/** Two-phase ordered prefix sums — the one home of the bucket
  * discipline behind every "cumulative/rank over an ordered frame"
  * site that must NOT funnel row-scale data through one unpartitioned
  * (or per-group) ordering window: [[rankBy]], the `StatTests` rank
  * histograms, `Quantiles.weightedQuantiles`, and the value-range
  * buckets of `Quantiles.exactQuantiles` and `Skyline`.
  *
  * The key fact both phases rely on: [[bucketOf]] is MONOTONE
  * NON-DECREASING in the order key (floor of an affine map; IEEE-754
  * subtraction/division by a positive constant are monotone), so
  * bucket order agrees with value order — every value in bucket b is
  * strictly smaller than every value in bucket b+1, and equal values
  * share a bucket. A prefix aggregate therefore composes EXACTLY:
  * cross-bucket carry (one window over ≤ [[Buckets]] aggregated rows
  * per group — constant-bounded) + within-bucket window PARTITIONED BY
  * (group, bucket). The widest sort a row-scale frame pays is one
  * bucket's slice of the value RANGE (~n/Buckets under uniform ranges;
  * range skew concentrates values in fewer buckets and is the
  * residual, documented bound). NaN keys stay out of the range: each
  * group's min/max are over its non-NaN keys, and NaN keys share one
  * bucket of their own, [[Buckets]], just above the range's top bucket
  * `Buckets - 1` (which the group's max key lands in). Bucket order
  * still equals key order because Spark sorts NaN above every other
  * double.
  *
  * Order keys are bucketed through `cast("double")`: the cast is
  * monotone (non-strict) for every numeric type, and within-bucket
  * windows order by the ORIGINAL column, so double rounding (e.g.
  * longs past 2⁵³ colliding into one bucket) never costs exactness —
  * only bucket balance. A non-numeric string key fails the cast
  * (`CAST_INVALID_INPUT` under ANSI mode) rather than being dropped;
  * callers with non-numeric keys must map them to a numeric proxy
  * first. Rows with a null key or a null group are dropped: callers
  * filter them out first.
  */
object Spine {

  /** Width of the value-range bucketing: the carry window runs over
    * ≤ this many aggregated rows per group, plus one for NaN keys. */
  val Buckets = 4096

  /** Monotone value-range bucket of `v` in [lo, hi] among `n` — clamps
    * the degenerate lo == hi frame into band 0 and the v == hi edge
    * into the top band. */
  def bucketOf(v: Column, lo: Column, hi: Column, n: Int = Buckets): Column =
    when(hi === lo, lit(0)).otherwise(
      least(floor((v - lo) / (hi - lo) * n).cast("int"), lit(n - 1)))

  /** `df` with an order-consistent `__qb` bucket over `orderKey`
    * (numeric): boundaries from each `groupCols` group's own min/max
    * over its non-NaN keys (one tiny aggregate, broadcast); NaN keys
    * take bucket [[Buckets]], above every key of the range. */
  def bucketed(df: DataFrame, orderKey: Column, groupCols: Seq[String] = Nil): DataFrame = {
    val kd = orderKey.cast("double")
    val finite = when(!isnan(kd), kd)
    val stats = df.groupBy(groupCols.map(col): _*)
      .agg(min(finite).as("__lo"), max(finite).as("__hi"))
    (if (groupCols.isEmpty) df.crossJoin(broadcast(stats))
      else df.join(broadcast(stats), groupCols))
      .withColumn("__qb",
        when(isnan(kd), lit(Buckets)).otherwise(bucketOf(kd, col("__lo"), col("__hi"))))
      .drop("__lo", "__hi")
  }

  /** `df` plus, for each column `c` of `sumCols`, `c_prefix`: the sum
    * of `c` over the rows of the same `groupCols` group ordered before
    * the row by `orderKey` (`inclusive`: up to and including it), and
    * `c_total`: the sum over the whole group. Each sum keeps its type
    * (a long sum stays long, a double sum double, and doubles add in
    * the order carry + within-bucket). Keys must be unique per group
    * for the result to be deterministic, as for the single window
    * `sum(c).over(Window.partitionBy(groupCols).orderBy(orderKey)
    * .rowsBetween(...))` it equals.
    *
    * `df` is pinned once, eagerly: the range stats, the bucket sums and
    * the within-bucket window all read it, and the stats are broadcast
    * (see [[Pin]] on pins under a broadcast). The bucket-sums frame is
    * broadcast when there are no groups (≤ [[Buckets]] rows); with
    * groups it joins on (groups, bucket), the key the within-bucket
    * window is partitioned by, so that exchange serves both. */
  def prefixSums(df: DataFrame, groupCols: Seq[String], orderKey: Column,
      sumCols: Seq[String], inclusive: Boolean): DataFrame = {
    require(sumCols.nonEmpty, "prefixSums needs a column to sum")
    val g = groupCols.map(col)
    val b = bucketed(Pin.eager(df), orderKey, groupCols)
    val before = Window.partitionBy(g: _*).orderBy("__qb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketAggs = sumCols.map(c => sum(c).as(s"__b_$c"))
    val bucketSums = b.groupBy((g :+ col("__qb")): _*)
      .agg(bucketAggs.head, bucketAggs.tail: _*)
    val offsets = bucketSums.select((g :+ col("__qb")) ++ sumCols.flatMap(c => Seq(
      coalesce(sum(s"__b_$c").over(before), lit(0)).as(s"__off_$c"),
      sum(s"__b_$c").over(Window.partitionBy(g: _*)).as(s"${c}_total"))): _*)
    val keys = groupCols :+ "__qb"
    val joined =
      if (groupCols.isEmpty) b.join(broadcast(offsets), keys) else b.join(offsets, keys)
    val within = Window.partitionBy(keys.map(col): _*).orderBy(orderKey)
      .rowsBetween(Window.unboundedPreceding, if (inclusive) Window.currentRow else -1)
    sumCols.foldLeft(joined) { (d, c) =>
      d.withColumn(s"${c}_prefix",
        col(s"__off_$c") + coalesce(sum(c).over(within), lit(0)))
    }.drop("__qb" +: sumCols.map(c => s"__off_$c"): _*)
  }

  /** Global contiguous 1-based rank (as `rankName`, LongType) over
    * `df` ordered by `orderKey`: the inclusive prefix count.
    * Value-identical to `row_number().over(Window.orderBy(orderKey))`
    * when the key is unique and non-null (ties would be
    * nondeterministic in BOTH forms; null keys are dropped here vs
    * ranked first there — callers ensure non-null). */
  def rankBy(df: DataFrame, orderKey: Column, rankName: String): DataFrame =
    prefixSums(df.withColumn("__one", lit(1L)), Nil, orderKey, Seq("__one"),
        inclusive = true)
      .withColumnRenamed("__one_prefix", rankName)
      .drop("__one", "__one_total")
}
