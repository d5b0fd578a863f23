package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Weather-side operator chain (SURVEY §2, EP1 stage 1): flatten raw
  * NOAA JSON per city → union → °C→°F → pivot long-to-wide → densify
  * onto the date × city spine → per-city mean imputation → row-wise
  * average.
  *
  * Only the flatten is per city; after the union it is one city-keyed
  * chain: one pivot (a shuffle on date×city), one spine join, one
  * city-partitioned window. */
object WeatherOps {

  /** F1 — °C→°F as a column expression (reference scalar fn
    * `celsius_to_fahrenheit`, src/data_processor.py:6-8; values are
    * already °C — do NOT divide by 10, per the comment at
    * src/data_processor.py:34). */
  def celsiusToFahrenheit(c: Column): Column = c * 9.0 / 5.0 + 32.0

  /** Flatten the raw NOAA payload: explode `results`, ISO-timestamp
    * string → date (F2), tag the city (P4). Duplicate (date, datatype)
    * readings are legal and averaged by the pivot (A1 dedups them). */
  def flatten(noaaRaw: DataFrame, city: String): DataFrame =
    noaaRaw
      .select(explode(col("results")).as("r"))
      .select(
        to_date(substring(col("r.date"), 1, 10)).as("date"),
        col("r.datatype").as("datatype"),
        col("r.value").as("value_c"),
        PipelineOps.cityTag(city))

  /** A1 — group-by mean + pivot long→wide: TMAX/TMIN become columns,
    * duplicate readings average (reference groupby().unstack(),
    * src/data_processor.py:48-49), then F1 converts to °F. */
  def pivotToWide(flat: DataFrame): DataFrame =
    flat.groupBy("date", "city")
      .pivot("datatype", Seq("TMAX", "TMIN"))
      .agg(avg("value_c"))
      .select(
        col("date"), col("city"),
        celsiusToFahrenheit(col("TMAX")).as("temp_max_f"),
        celsiusToFahrenheit(col("TMIN")).as("temp_min_f"))

  /** A12 — per-city mean imputation via a city-partitioned window
    * (SURVEY §7.4 trap 2: the reference imputes per city BEFORE union —
    * a global mean is wrong). The window is partitioned by city, so
    * imputing the union of all cities is the same as imputing each. */
  def imputePerCity(df: DataFrame, cols: Seq[String] = Seq("temp_max_f", "temp_min_f")): DataFrame = {
    val w = Window.partitionBy("city")
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c, coalesce(col(c), avg(col(c)).over(w)))
    }
  }

  /** A11/P3 — row-wise NaN-skipping mean for temp_avg_f (reference
    * mean(axis=1), src/data_processor.py:61). Note the final pipeline
    * overwrites this with strict (a+b)/2 (src/pipeline.py:89) — both
    * semantics exist in the engine; see SURVEY §7.4 trap 1. */
  def rowwiseAvg(a: Column, b: Column): Column =
    when(a.isNull && b.isNull, lit(null))
      .when(a.isNull, b)
      .when(b.isNull, a)
      .otherwise((a + b) / 2)

  /** City-keyed weather chain: the union of every city's flattened
    * readings → daily wide table on the date × city spine. */
  def process(flat: DataFrame, spine: DataFrame): DataFrame =
    weatherColumns(imputePerCity(PipelineOps.densify(pivotToWide(flat), spine)))

  /** The weather table's columns from the imputed weather chain or the
    * fact built on it; temp_avg_f is the NaN-skipping [[rowwiseAvg]]. */
  def weatherColumns(df: DataFrame): DataFrame =
    df.select(col("date"), col("temp_max_f"), col("temp_min_f"),
      rowwiseAvg(col("temp_max_f"), col("temp_min_f")).as("temp_avg_f"), col("city"))
}
