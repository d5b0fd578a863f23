package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.Pin

/** Exact distributed quantiles WITHOUT a global sort.
  *
  * The reference computes medians/quantiles by sorting in-memory
  * (pandas `quantile` over the whole frame); the naive Spark
  * restatement is a single global ordered window — one range-
  * partitioned sort of the entire dataset through one executor's
  * ordering spine, which is exactly what dies at 100 TB. Spark's own
  * `percentile_approx` scales but is APPROXIMATE; audits and SLA
  * reports need the exact order statistic.
  *
  * This operator delivers exact quantiles with the same two-phase
  * bucket discipline as the token-budget cut (q113):
  *
  *   1. one aggregate computes per-group (min, max, n);
  *   2. each row maps to a fixed-width value-range bucket
  *      ([[Spine.bucketOf]], monotone in the value — see [[Spine]]);
  *      a second aggregate builds the per-(group, bucket)
  *      histogram (≤ |groups|·nBuckets rows — driver-scale);
  *   3. cumulative counts over that tiny frame locate, for each target
  *      rank k = ceil(q·n), the ONE bucket containing the k-th
  *      smallest value, plus the count of all rows in lower buckets;
  *   4. only rows of candidate buckets get a `row_number` window
  *      PARTITIONED BY (group, bucket) — parallel across buckets,
  *      never global — and the row whose bucket-local rank plus the
  *      bucket offset equals k carries the answer.
  *
  * The result is exact and identical to the single-sort answer; only
  * the parallelism changed. Skew note: the dominant value-skew case —
  * most of a group concentrated in ONE repeated value — never ranks at
  * all: the histogram aggregate also carries per-bucket (min, max) at
  * no extra pass, and a candidate bucket with min == max IS its answer
  * (any row of it is the k-th value), emitted directly. Only candidate
  * buckets holding ≥ 2 distinct values enter the ranking window, so
  * the residual bound is: one window partition sorts at most the rows
  * of one multi-valued bucket — width/nBuckets of the group's value
  * RANGE, not of its row count. A heavy multi-valued bucket (many
  * distinct values crowded into one range slice) is narrowed by
  * raising `nBuckets` (cost: the histogram frame grows linearly);
  * the operator does not recurse.
  */
object Quantiles {

  /** Exact per-group quantiles of `valueCol` at probabilities `qs`
    * (each in (0, 1]; rank k = ceil(q·n), the smallest value with at
    * least a q fraction of the group ≤ it).
    *
    * @param groupCols grouping key (empty = whole-frame quantiles)
    * @param nBuckets  histogram width; more buckets = smaller phase-4
    *                  candidate sets (cost is one ≤ |groups|·nBuckets
    *                  aggregate either way) */
  def exactQuantiles(df: DataFrame, valueCol: String, qs: Seq[Double],
      groupCols: Seq[String] = Nil, nBuckets: Int = 64,
      checkpointInput: Boolean = true): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), "each q must be in (0, 1]")
    require(nBuckets >= 1, "nBuckets must be positive")
    val spark = df.sparkSession
    val g = groupCols.map(col)
    val v = col(valueCol).cast("double")
    // quantiles are over the NON-NULL values (the SQL percentile /
    // pandas convention). Unfiltered nulls would corrupt both sides of
    // the selection: count(1) would inflate n (shifting every rank k)
    // while null-skipping least() would clamp null rows into the TOP
    // bucket's histogram count.
    //
    // The filtered frame is consumed THREE times below (the stats
    // aggregate, the histogram aggregate, and the phase-4 ranking
    // join), so its lineage replays 3× — harmless over a raw parquet
    // scan, but a caller feeding a join/aggregate output (q164's
    // as-of-join latencies) pays the whole upstream plan per pass.
    // Column-prune to exactly (groupCols, valueCol) and lazily
    // localCheckpoint so the upstream runs once; the checkpointed
    // frame is n narrow rows. Callers handing a cheap raw scan can
    // opt out with checkpointInput = false.
    val pruned = df.select((groupCols :+ valueCol).distinct.map(col): _*)
      .filter(v.isNotNull)
    val data = if (checkpointInput) pruned.transform(Pin.lazily) else pruned

    val stats = data.groupBy(g: _*).agg(
      min(v).as("__lo"), max(v).as("__hi"), count(lit(1)).as("__n"))

    def withStats(base: DataFrame, extra: DataFrame): DataFrame =
      if (groupCols.isEmpty) base.crossJoin(broadcast(extra))
      else base.join(broadcast(extra), groupCols)

    val bucketed = withStats(data, stats).withColumn("__bucket",
      Spine.bucketOf(v, col("__lo"), col("__hi"), nBuckets))

    // phase-2/3 frames are ≤ |groups|·nBuckets rows: the windows below
    // are the legitimate driver-scale kind (q113 discipline). Per-bucket
    // (min, max) ride along in the same aggregate — they cost nothing
    // and power the single-valued-bucket short-circuit below. __bval is
    // the original-typed value emitted when the bucket is single-valued
    // (min over equal-under-ordering rows — the same deterministic
    // choice the ranking window's tie handling would make arbitrary).
    val hist = bucketed.groupBy((g :+ col("__bucket")): _*)
      .agg(count(lit(1)).as("__bcount"), min(v).as("__blo"), max(v).as("__bhi"),
        min(col(valueCol)).as("__bval"))
    val wc = Window.partitionBy(g: _*).orderBy(col("__bucket"))
    val cum = hist
      .withColumn("__cum", sum("__bcount").over(
        wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__offset", col("__cum") - col("__bcount"))

    import spark.implicits._
    val qDf = qs.toDF("q")
    val targets = qDf.crossJoin(broadcast(stats.select((g :+ col("__n")): _*)))
      .withColumn("__k", ceil(col("q") * col("__n")).cast("long"))
    // candidate bucket per (group, q): the one whose cumulative count
    // first reaches k — an inequality join, but over two frames that
    // are both ≤ |groups|·nBuckets rows
    val cand = (if (groupCols.isEmpty) targets.crossJoin(cum)
      else targets.join(cum, groupCols))
      .filter(col("__offset") < col("__k") && col("__k") <= col("__cum"))
      .select((g ++ Seq(col("q"), col("__k"), col("__bucket"), col("__offset"),
        col("__blo"), col("__bhi"), col("__bval"))): _*)

    // skew short-circuit: a single-valued candidate bucket IS its
    // answer — the skewed 99%-one-value group resolves here without
    // ranking a single data row
    val single = cand.filter(col("__blo") === col("__bhi"))
      .select((g ++ Seq(col("q"), col("__bval").as("value"))): _*)
    val multi = cand.filter(col("__blo") =!= col("__bhi"))

    // phase 4: rank ONLY multi-valued candidate-bucket rows,
    // partitioned by bucket
    val wr = Window.partitionBy((g :+ col("__bucket")): _*).orderBy(v)
    val joinKeys = groupCols :+ "__bucket"
    val ranked = bucketed
      .join(broadcast(multi.select(joinKeys.map(col): _*).distinct()), joinKeys)
      .withColumn("__rank", row_number().over(wr))
      .join(broadcast(multi), joinKeys)
      .filter(col("__offset") + col("__rank") === col("__k"))
      .select((g ++ Seq(col("q"), col(valueCol).as("value"))): _*)
    single.unionByName(ranked)
  }

  /** Winsorized robust statistics per group — the outlier-resistant
    * mean/std every data audit reports (a handful of 10 MB documents
    * otherwise dominate a corpus length mean): clip `valueCol` at the
    * EXACT per-group [loQ, hiQ] quantiles from [[exactQuantiles]]
    * (composition, not reimplementation — the same no-global-sort
    * selection), then one aggregate over the clipped values. The
    * quantile frame is |groups|·2 rows and broadcasts onto the data;
    * total cost = the quantile passes + one aggregate. */
  def winsorizedStats(df: DataFrame, valueCol: String,
      groupCols: Seq[String], loQ: Double = 0.05, hiQ: Double = 0.95,
      nBuckets: Int = 64): DataFrame = {
    require(loQ < hiQ, "loQ must be below hiQ")
    val v = col(valueCol).cast("double")
    // same non-null convention as exactQuantiles — an unfiltered null
    // would survive least/greatest's null-skip as the hi bound and
    // inflate n/mean. Checkpoint ONCE here (pruned to the needed
    // columns) and tell the inner exactQuantiles not to re-checkpoint:
    // the clipped aggregate below is a 4th consumer of the same frame,
    // so the checkpoint must sit above BOTH uses.
    val data = df.select((groupCols :+ valueCol).distinct.map(col): _*)
      .filter(v.isNotNull).transform(Pin.lazily)
    val qs = exactQuantiles(data, valueCol, Seq(loQ, hiQ), groupCols, nBuckets,
      checkpointInput = false)
    val bounds = qs.groupBy(groupCols.map(col): _*)
      .agg(max(when(col("q") === loQ, col("value"))).as("__lo"),
        max(when(col("q") === hiQ, col("value"))).as("__hi"))
    val clipped = (if (groupCols.isEmpty) data.crossJoin(broadcast(bounds))
      else data.join(broadcast(bounds), groupCols))
      .withColumn("__cv", greatest(col("__lo").cast("double"),
        least(col("__hi").cast("double"), v)))
    clipped.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum((v < col("__lo")).cast("long")).as("n_clipped_low"),
        sum((v > col("__hi")).cast("long")).as("n_clipped_high"),
        first(col("__lo").cast("double")).as("p_lo"),
        first(col("__hi").cast("double")).as("p_hi"),
        round(avg(col("__cv")), 4).as("winsorized_mean"),
        round(stddev(col("__cv")), 4).as("winsorized_std"))
  }

  /** Whole-frame band cut values as ONE broadcastable row: the exact
    * quantiles of `valueCol` at q = 1/nBands … (nBands−1)/nBands,
    * pivoted to columns `{prefix}_c1 … {prefix}_c{nBands−1}`. This is
    * the scale-safe substitute for an unpartitioned `ntile(n)` window
    * (which funnels every row through ONE ordering spine): the cuts
    * come from [[exactQuantiles]]'s two-phase histogram, and band
    * assignment is then a row-local comparison against the broadcast
    * 1-row frame — see [[bandExpr]]. Under ties the semantics differ
    * from ntile deliberately: equal values always land in the same
    * band (indistinguishable inputs get indistinguishable scores),
    * so band populations wobble around n/nBands instead of being
    * forced equal by arbitrary tie splits. */
  def bandCuts(df: DataFrame, valueCol: String, nBands: Int,
      prefix: String, nBuckets: Int = 64): DataFrame = {
    require(nBands >= 2, "nBands must be at least 2")
    val qs = (1 until nBands).map(_.toDouble / nBands)
    val aggs = qs.zipWithIndex.map { case (q, i) =>
      // q roundtrips exactly: the same double literal built the q-spine
      max(when(col("q") === q, col("value"))).as(s"${prefix}_c${i + 1}")
    }
    exactQuantiles(df, valueCol, qs, Nil, nBuckets)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** [[bandCuts]] for SEVERAL metrics of the same frame in ONE
    * quantile pass: the metrics melt to (metric, value) rows and
    * [[exactQuantiles]] runs once with `metric` as the group key —
    * one histogram machinery pass over 3n narrow rows instead of
    * three passes over n (a third of the stages; measured 2.98 s →
    * 1.30 s on q196's three RFM axes at sf0.1). `metrics` maps column
    * name → output prefix; cut columns come back double (the melt
    * casts), which compares exactly against integer metrics. */
  def bandCutsMulti(df: DataFrame, metrics: Seq[(String, String)],
      nBands: Int, nBuckets: Int = 64): DataFrame = {
    require(nBands >= 2, "nBands must be at least 2")
    val pairs = metrics.flatMap { case (c, p) => Seq(lit(p), col(c).cast("double")) }
    val melted = df.select(explode(map(pairs: _*)).as(Seq("__metric", "__v")))
    val qs = (1 until nBands).map(_.toDouble / nBands)
    val cuts = exactQuantiles(melted, "__v", qs, Seq("__metric"), nBuckets)
    val aggs = metrics.flatMap { case (_, p) =>
      qs.zipWithIndex.map { case (q, i) =>
        max(when(col("__metric") === p && col("q") === q, col("value")))
          .as(s"${p}_c${i + 1}")
      }
    }
    cuts.agg(aggs.head, aggs.tail: _*)
  }

  /** Ascending band 1..(cuts.size+1) of `v` against [[bandCuts]]
    * columns: 1 + Σ (v > cutᵢ). Row-local, integer-valued, and
    * deterministic across engines (pure comparisons against actual
    * data values — no arithmetic on v). */
  def bandExpr(v: Column, cuts: Seq[Column]): Column =
    cuts.foldLeft(lit(1))((acc, c) => acc + (v > c).cast("int"))

  /** Exact WEIGHTED quantiles per group (lower weighted-quantile
    * convention): the smallest value whose cumulative weight reaches
    * q·W — the statistic behind "the median dollar" vs "the median
    * order" (each row votes with `weightCol`, not once).
    *
    * Scale shape: the original formulation ran a per-group ordered
    * window over ROWS, so a low-cardinality group column (q175: 3
    * return flags over lineitem) funneled the whole table through 3
    * sort partitions — measured 68 s at derived sf10. Instead: ONE
    * map-side-combinable aggregate to the per-(group, value) weight
    * histogram, then its inclusive cumulative weight per group from
    * [[Spine.prefixSums]] (see [[Spine]] for the two-phase bound).
    *
    * The selected VALUE is provably identical to the row-window
    * formulation: a row-level prefix inside value v's tie block
    * reaches q·W iff the whole block does (the block end is itself a
    * prefix), so the smallest qualifying value is tie-order
    * independent.
    *
    * Type preservation: the histogram groups by the NATIVE value
    * column, and Spine orders within a bucket by it (the double cast
    * only places buckets) — so `value` keeps the input column's type
    * and bigint/decimal values beyond 2^53 stay exact.
    *
    * Determinism across engines: when weights are integer-valued (the
    * common case — counts, quantities), per-value, per-bucket, and
    * total sums are EXACT in double, so the q·W threshold comparison
    * cannot flip on accumulation order. Fractional weights are
    * supported but the boundary is then subject to float accumulation
    * — document or round weights first. */
  def weightedQuantiles(df: DataFrame, valueCol: String, weightCol: String,
      qs: Seq[Double], groupCols: Seq[String]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), "each q must be in (0, 1]")
    val spark = df.sparkSession
    val g = groupCols.map(col)
    val v = col(valueCol)
    val wt = col(weightCol).cast("double")
    // per-(group, value) weight histogram — collapses tie rows; the
    // prefix INCLUDES the current value's whole tie block
    val hist = df.filter(v.isNotNull && wt.isNotNull && wt > 0)
      .groupBy((g :+ v.as("__v")): _*)
      .agg(sum(wt).as("__w"))
    val cum = Spine.prefixSums(hist, groupCols, col("__v"), Seq("__w"), inclusive = true)
    import spark.implicits._
    val qDf = qs.toDF("q")
    cum.crossJoin(broadcast(qDf))
      .filter(col("__w_prefix") >= col("q") * col("__w_total"))
      .groupBy((g :+ col("q")): _*)
      .agg(min(col("__v")).as("value"), first(col("__w_total")).as("total_weight"))
      .orderBy((g :+ col("q")): _*)
  }

  /** MERGEABLE fixed-width histogram sketch over an integer (cents)
    * column — the quantile analog of [[graft.operators.Hll]]'s
    * register table: per (groupCols, bin) counts are the ONLY state,
    * and because counts are additive, any union of groups is answered
    * by summing bins — build daily/monthly state once, answer
    * arbitrary ranges from state alone, never re-reading the data.
    * That additivity is what t-digest/KLL give up determinism for;
    * a fixed-width histogram keeps integer-exact mergeability at the
    * price of a fixed value-resolution (bounds ÷ bins), which for
    * bounded business domains (prices, latencies) is the right trade.
    *
    * Bin rule: `(v − lo) · bins DIV (hi − lo + 1)` — all BIGINT, so
    * the state is engine-exact and hash-oracle-able. Bounds come from
    * one 1-row scalar aggregate (broadcast); the state build is one
    * map-side-combined aggregate over ≤ |groups|·bins rows. State
    * columns: groupCols..., `bin`, `cnt`, plus the constant `lo`/`hi`
    * carried in-row so downstream estimation is self-contained. */
  def histogramState(df: DataFrame, centsCol: String,
      groupCols: Seq[String], bins: Int = 256): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val bounds = df.agg(min(col(centsCol)).cast("long").as("__lo"),
      max(col(centsCol)).cast("long").as("__hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn("bin", expr(
        s"CAST((($centsCol - __lo) * $bins) DIV (__hi - __lo + 1) AS BIGINT)"))
      .groupBy((groupCols.map(col) :+ col("bin")): _*)
      .agg(count(lit(1)).as("cnt"),
        first("__lo").as("lo"), first("__hi").as("hi"))
  }

  /** Quantiles from (possibly merged) [[histogramState]] rows: for
    * each group and integer percent p, the first bin whose cumulative
    * count reaches rank ceil(p·n/100), reported with the bin's upper
    * value edge `lo + (bin+1)·(hi−lo+1) DIV bins − 1`. The cumulative
    * window runs over ≤ bins rows per group — never row-scale. All
    * arithmetic BIGINT. */
  def quantilesFromHistogram(state: DataFrame, groupCols: Seq[String],
      percents: Seq[Int], bins: Int = 256): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100))
    val g = groupCols.map(col)
    val cum = state
      .withColumn("__cum", sum("cnt").over(
        Window.partitionBy(g: _*).orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum("cnt").over(Window.partitionBy(g: _*)))
    val pCols = percents.flatMap { p =>
      val rank = expr(s"CAST(($p * __n + 99) DIV 100 AS BIGINT)")
      val b = min(when(col("__cum") >= rank, col("bin"))).as(s"p${p}_bin")
      val edge = min(when(col("__cum") >= rank, expr(
        s"lo + ((bin + 1) * (hi - lo + 1)) DIV $bins - 1"))).as(s"p${p}_hi_cents")
      Seq(b, edge)
    }
    cum.groupBy(g: _*)
      .agg(first("__n").as("n"), pCols: _*)
  }
}
