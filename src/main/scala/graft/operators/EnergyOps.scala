package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Energy-side operator chain (SURVEY §2, EP1 stage 2): flatten raw EIA
  * JSON per city → cast-with-null-on-error → union → hourly→daily
  * resample → densify onto the date × city spine.
  *
  * The hourly→daily pre-aggregation runs BEFORE the weather join
  * (reference src/data_processor.py:79) — it shrinks the join input
  * ~24×, the one manual optimization worth keeping explicit in the DAG
  * (SURVEY §4). */
object EnergyOps {

  /** Flatten the raw EIA payload: explode `response.data`, parse the
    * hourly period, cast `value` null-on-error (P10 — reference
    * pd.to_numeric(errors='coerce'), src/data_processor.py:75-76;
    * Spark's non-ANSI try-cast semantics via try_cast). */
  def flatten(eiaRaw: DataFrame, city: String): DataFrame =
    eiaRaw
      .select(explode(col("response.data")).as("r"))
      .select(
        to_timestamp(col("r.period"), "yyyy-MM-dd'T'HH").as("ts"),
        expr("try_cast(r.value AS double)").as("value"),
        PipelineOps.cityTag(city))

  /** A2 — time-bucket resample hourly→daily SUM. Pandas semantics: a
    * day present in the index but all-NaN sums to 0.0, and densified
    * missing days become 0.0 after resample+reindex in the reference
    * path — so the daily sum coalesces to 0 (SURVEY §7.4 trap 1). */
  def resampleDaily(hourly: DataFrame): DataFrame =
    hourly
      .groupBy(to_date(col("ts")).as("date"), col("city"))
      .agg(coalesce(sum("value"), lit(0.0)).as("energy_demand_gwh"))

  /** City-keyed energy chain: the union of every city's flattened
    * hourly readings → dense daily table (P2 — final projection to the
    * 3-column contract). Absent days stay NULL, distinct from all-NaN
    * days which are 0.0 (the pandas trap, covered in tests). */
  def process(flat: DataFrame, spine: DataFrame): DataFrame =
    PipelineOps.densify(resampleDaily(flat), spine)
      .select("date", "city", "energy_demand_gwh")

  /** OHLC bar resampling — pandas `resample(freq).ohlc()`: per
    * (key, time bucket), the first/highest/lowest/last observation by
    * event order. Open/close are ORDER-dependent (not min/max), which
    * plain aggregation can't express: they come from `first`/`last`
    * over the full ordered frame of the SAME key-partitioned window
    * the bucket groupBy then collapses — one shuffle on
    * (key, bucket), no self-join, deterministic under a total order
    * (`tsCol` + `tieCols`). High/low/volume ride the same aggregate.
    * Open/close are selected RAW values (no arithmetic), so they
    * hash-check unrounded; the volume sum is rounded once. */
  def ohlcBars(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, bucketExpr: org.apache.spark.sql.Column,
      tieCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = df.withColumn("__bucket", bucketExpr)
    val part = (keyCols.map(col) :+ col("__bucket"))
    val w = Window.partitionBy(part: _*)
      .orderBy((tsCol +: tieCols).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bucketed
      .withColumn("__open", first(col(valueCol)).over(w))
      .withColumn("__close", last(col(valueCol)).over(w))
      .groupBy(part: _*)
      .agg(first("__open").as("open"), max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"), first("__close").as("close"),
        count(lit(1)).as("n_obs"),
        round(sum(col(valueCol)), 2).as("volume"))
      .withColumnRenamed("__bucket", "bucket")
  }
}
