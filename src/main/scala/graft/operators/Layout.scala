package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data-layout quality: Z-order (Morton) clustering
  * versus single-column linear sort versus hash distribution, measured
  * by min/max-stats file skipping — the decision every 100 TB table
  * owner makes before anything else, because NO query-side optimization
  * recovers a layout that forces full scans.
  *
  * The model: rows are assigned to 2^cellsLog2 "files" (cells) by each
  * layout policy; each file keeps per-column min/max footer stats
  * (exactly what parquet row groups / Delta-style file stats provide);
  * a probe predicate scans a file only when its [min,max] ranges
  * overlap the predicate. We score each layout on two canonical probe
  * shapes: a 2-D box (both dims constrained — the reference's
  * city+date slice shape, src/pipeline.py dashboards filter city AND
  * date) and a 1-D band on the SECOND dim only (the dim the linear
  * layout did not sort by).
  *
  * Why these three policies:
  *  - zorder: cell = high bits of the interleaved 16-bit ranks — a
  *    quadtree address. Min/max stays tight on BOTH dims, so both
  *    probes skip ~(1 - coverage) of files. This is the layout that
  *    scales to probes on either dimension.
  *  - linear: cell = high bits of the x rank alone (sort-by-x layout).
  *    Perfect skipping for x probes, ZERO skipping for the y band —
  *    the failure mode that motivates Z-order.
  *  - hash: cell = md5 bucket of the row key (write-parallelism
  *    layout). Every file spans the full domain of both dims: no
  *    skipping ever — the default layout's hidden cost, made visible.
  *
  * Scale shape: ONE scan of the fact table (the 1-row bounds aggregate
  * is broadcast back, not collected), a row-local 3-way `stack`, one
  * shuffle of pre-aggregated (layout, cell) groups — 3·2^cellsLog2
  * rows — and a final reduce of those. No sort, no window, no
  * repartition of the data itself: the operator MEASURES layouts
  * without paying for a rewrite, so it can run as a planning audit
  * before an actual OPTIMIZE/rewrite job.
  *
  * Dimension ranks here are min/max-scaled low-16-bit quantizations;
  * a production rewrite would use the equi-depth ranks from
  * [[Quantiles.exactQuantiles]] against skewed domains — the scaling,
  * not the interleave, is the pluggable part.
  */
object Layout {

  /** Scaled-domain probe literals (out of 65535): the middle ~10% band
    * of each dimension. Integer literals so both engines compare exact
    * longs — no float boundary drift. Shared with the DuckDB oracle. */
  val ProbeLo = 29491L
  val ProbeHi = 36044L

  /** Per-layout skipping scorecard over `df`, laying out by (xCol, yCol).
    *
    * Output (one row per layout policy): n_cells, then for the 2-D box
    * probe and the y-band probe: cells scanned, rows scanned, rows
    * actually matching (identical across layouts — the built-in sanity
    * check that skipping never changes answers, only work).
    */
  def layoutPruningStats(spark: SparkSession, df: DataFrame,
      xCol: String, yCol: String, keyCols: Seq[String],
      cellsLog2: Int = 6): DataFrame = {
    require(cellsLog2 >= 1 && cellsLog2 <= 16, s"cellsLog2 out of range: $cellsLog2")
    val nCells = 1L << cellsLog2

    val rows = df.select(
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"),
        concat_ws(":", keyCols.map(c => col(c).cast("string")): _*).as("rk"))
      .where(col("x").isNotNull && col("y").isNotNull)

    // 1-row global bounds, broadcast back onto the scan — the scalable
    // substitute for a driver-side collect of min/max.
    val bounds = rows.agg(
      min("x").as("xmin"), max("x").as("xmax"),
      min("y").as("ymin"), max("y").as("ymax"))

    def rank16(v: String, lo: String, hi: String) =
      when(col(hi) === col(lo), lit(0L)).otherwise(
        floor((col(v) - col(lo)).cast("double") * 65535.0 /
          (col(hi) - col(lo)).cast("double")).cast("long"))

    val scaled = rows.crossJoin(broadcast(bounds))
      .withColumn("xs", rank16("x", "xmin", "xmax"))
      .withColumn("ys", rank16("y", "ymin", "ymax"))
      .withColumn("cell_z", shiftright(expr("morton2(xs, ys)"), 32 - cellsLog2))
      .withColumn("cell_linear", shiftright(col("xs"), 16 - cellsLog2))
      .withColumn("cell_hash",
        conv(substring(md5(col("rk")), 1, 6), 16, 10).cast("long") % nCells)
      .withColumn("m_box",
        (col("xs").between(ProbeLo, ProbeHi) &&
         col("ys").between(ProbeLo, ProbeHi)).cast("long"))
      .withColumn("m_band", col("ys").between(ProbeLo, ProbeHi).cast("long"))

    val perCell = scaled
      .select(expr(
        "stack(3, 'zorder', cell_z, 'linear', cell_linear, 'hash', cell_hash)"
          + " as (layout, cell)"),
        col("xs"), col("ys"), col("m_box"), col("m_band"))
      .groupBy("layout", "cell")
      .agg(count(lit(1)).as("n_rows"),
        min("xs").as("xs_min"), max("xs").as("xs_max"),
        min("ys").as("ys_min"), max("ys").as("ys_max"),
        sum("m_box").as("n_box"), sum("m_band").as("n_band"))

    val lo = lit(ProbeLo); val hi = lit(ProbeHi)
    val scanBox = !(col("xs_max") < lo || col("xs_min") > hi ||
                    col("ys_max") < lo || col("ys_min") > hi)
    val scanBand = !(col("ys_max") < lo || col("ys_min") > hi)

    perCell
      .withColumn("s_box", scanBox.cast("long"))
      .withColumn("s_band", scanBand.cast("long"))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_cells"),
        sum("s_box").as("box_cells_scanned"),
        sum(col("s_box") * col("n_rows")).as("box_rows_scanned"),
        sum("n_box").as("box_rows_matched"),
        sum("s_band").as("band_cells_scanned"),
        sum(col("s_band") * col("n_rows")).as("band_rows_scanned"),
        sum("n_band").as("band_rows_matched"))
      .orderBy("layout")
  }

  /** Partition-key advisor — the planning audit before `partitionBy`
    * commits a table layout for years: for each CANDIDATE key
    * expression, the partition-count / balance / small-file profile
    * that decides between them. Per candidate (one row each):
    * n_partitions, min/avg/max rows per partition, skew = max/avg
    * (the straggler predictor), and how many partitions fall under
    * `smallRows` (the small-file problem at the other end — a
    * thousand 100-row partitions is as bad as one hot one).
    *
    * Scale shape: per candidate one map-combinable value-count
    * aggregate over the pruned single column, then a candidate-count
    * aggregate of the value-count frame; candidates union — cost is
    * one narrow scan per candidate, no shuffle wider than the value
    * counts. All outputs are exact integers plus one rounded division.
    *
    * @param candidates (name, expression) pairs; expressions must be
    *                   row-local (a date_trunc, a column, a bucket) */
  def partitionAdvisor(df: DataFrame, candidates: Seq[(String, Column)],
      smallRows: Long = 1000L): DataFrame = {
    require(candidates.nonEmpty, "need at least one candidate")
    candidates.map { case (name, e) =>
      df.select(e.cast("string").as("__k"))
        .groupBy("__k").agg(count(lit(1)).as("__n"))
        .agg(count(lit(1)).as("n_partitions"),
          min("__n").as("min_rows"),
          max("__n").as("max_rows"),
          sum("__n").as("__total"),
          sum((col("__n") < smallRows).cast("long")).as("n_small"))
        .select(lit(name).as("candidate"), col("n_partitions"),
          col("min_rows"), col("max_rows"),
          round(col("__total") / col("n_partitions"), 2).as("avg_rows"),
          round(col("max_rows") * col("n_partitions") / col("__total"), 4)
            .as("skew"),
          col("n_small"))
    }.reduce(_ unionByName _).orderBy("candidate")
  }
}
