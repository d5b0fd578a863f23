package graft.operators

import java.time.LocalDate
import java.time.temporal.ChronoUnit
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.config.PipelineConfig
import graft.domain.QualityReport

/** Data-quality operators (SURVEY §2.9 X6/X7; reference
  * run_quality_checks, src/data_processor.py:87-112).
  *
  * The whole report is ONE single-pass aggregate — per-column null
  * counts, threshold outliers, negatives and freshness computed in the
  * same job (A8+A9+A10), not one job per metric. The clock is injected
  * (`asOfDate`) so freshness is deterministic (SURVEY §7.4 trap 8).
  * Outlier thresholds come from the config (reference
  * config['data_quality'], src/data_processor.py:93-98); their only
  * default is `PipelineConfig.default`. */
object QualityOps {

  /** ZERO-pass quality counters via the Observation API: row count and
    * per-column null counts are accumulated as the frame's NEXT action
    * runs (a write, a count — whatever materializes it), so the quality
    * gate costs no separate scan. At 100 TB this is the difference
    * between instrumented and un-instrumented pipelines: [[report]]
    * re-scans the fact table; this piggybacks on the scan that was
    * happening anyway. Read `obs.get` AFTER the action completes. */
  def observeQuality(fact: DataFrame, nullCols: Seq[String]
      ): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val aggs = count(lit(1)).as("n_rows") +:
      nullCols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    (fact.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** Above `tempMaxF` or below `tempMinF`, over the `present` columns. */
  private def outlier(cfg: PipelineConfig, present: String => Boolean = _ => true): Option[Column] = Seq(
    if (present("temp_max_f")) Some(col("temp_max_f") > cfg.quality.tempMaxF) else None,
    if (present("temp_min_f")) Some(col("temp_min_f") < cfg.quality.tempMinF) else None
  ).flatten.reduceOption(_ || _)

  /** A fact row missing any measured value. */
  private val anyNull: Column = Seq("temp_max_f", "temp_min_f", "temp_avg_f", "energy_demand_gwh")
    .map(col(_).isNull).reduce(_ || _)

  /** Single-pass quality report over the canonical fact table.
    * Freshness is taken on the driver from the collected latest date:
    * an `asOfDate` literal in the aggregate would be compiled into its
    * generated code, so every new day would compile a new class. */
  def report(fact: DataFrame, asOfDate: String,
      cfg: PipelineConfig = PipelineConfig.default): QualityReport = {
    val present = fact.columns.toSet
    val cols = Seq("date", "city", "temp_max_f", "temp_min_f", "temp_avg_f", "energy_demand_gwh")
      .filter(present.contains)
    // every aggregate is guarded on column presence — a weather-only,
    // energy-only, or undated frame still gets a report instead of an
    // UNRESOLVED_COLUMN failure; one-sided temp frames count outliers
    // from whichever bound is available
    val tempOutlier: Option[Column] =
      outlier(cfg, present).map(p => sum(p.cast("long")).as("temp_outliers"))
    val negEnergy: Option[Column] =
      if (present("energy_demand_gwh"))
        Some(sum((col("energy_demand_gwh") < 0).cast("long")).as("negative_energy"))
      else None
    val freshness: Seq[Column] =
      if (present("date")) Seq(date_format(max("date"), "yyyy-MM-dd").as("latest_date"))
      else Seq.empty
    val aggs =
      Seq(count(lit(1)).as("row_count")) ++
        cols.map(c => sum(col(c).isNull.cast("long")).as(s"null_$c")) ++
        tempOutlier ++ negEnergy ++ freshness
    val r: Row = fact.agg(aggs.head, aggs.tail: _*).collect().head
    def long(name: String): Long =
      if (!r.schema.fieldNames.contains(name) || r.isNullAt(r.fieldIndex(name))) 0L
      else r.getAs[Number](name).longValue()
    val latest =
      if (!r.schema.fieldNames.contains("latest_date")) None
      else Option(r.getAs[String]("latest_date"))
    QualityReport(
      row_count = long("row_count"),
      null_counts = cols.map(c => c -> long(s"null_$c")).toMap,
      temp_outliers_count = long("temp_outliers"),
      negative_energy_count = long("negative_energy"),
      latest_data_date = latest.getOrElse(""),
      days_since_latest_data = latest.fold(0)(d =>
        ChronoUnit.DAYS.between(LocalDate.parse(d), LocalDate.parse(asOfDate)).toInt))
  }

  /** X7/A4 — per-day quality time series: sums of indicator columns
    * (reference dashboards/app.py:453-468), in date order. One row per
    * day, collected when this is called: a local frame
    * (`Analytics.byDate`). */
  def qualityTimeSeries(fact: DataFrame, cfg: PipelineConfig = PipelineConfig.default): DataFrame =
    Analytics.byDate(fact
      .withColumn("missing", anyNull.cast("int"))
      .withColumn("temp_outlier", outlier(cfg).get.cast("int"))
      .withColumn("neg_energy", (col("energy_demand_gwh") < 0).cast("int"))
      .groupBy("date")
      .agg(
        sum("missing").as("missing_total"),
        sum("temp_outlier").as("temp_outliers"),
        sum("neg_energy").as("negative_energy")))(identity)

  /** P8 — the combined problem-rows filter (any-null ∨ outlier ∨
    * negative energy; reference dashboards/app.py:553-557). */
  def problemRows(fact: DataFrame, cfg: PipelineConfig = PipelineConfig.default): DataFrame =
    fact.filter(anyNull || outlier(cfg).get || (col("energy_demand_gwh") < 0))
}
