package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S8 — synthetic weather+energy fixture generator (reference
  * generate_sample_data, dashboards/debug_helper.py:249-345): seasonal
  * sine temperatures, U-shaped demand 0.1·(t−65)², weekday factor,
  * injected nulls — but generated distributively with Spark column
  * expressions over `spark.range` instead of a Python loop, and with a
  * seeded `rand` so every run (and every test) sees identical data. */
object SyntheticData {

  val cities: Seq[(String, Double)] = Seq(
    ("New York", 55.0), ("Los Angeles", 65.0), ("Chicago", 50.0),
    ("Houston", 70.0), ("Phoenix", 75.0))

  /** Dense daily fact table: nCities × nDays rows, deterministic. */
  def weatherEnergy(spark: SparkSession, startDate: String = "2024-01-01",
      nDays: Int = 180, nullRate: Double = 0.02, seed: Long = 42L): DataFrame = {
    val cityExpr = cities.zipWithIndex.foldLeft(lit(null): org.apache.spark.sql.Column) {
      case (acc, ((name, _), i)) => when(col("city_idx") === i, name).otherwise(acc)
    }
    val baseTempExpr = cities.zipWithIndex.foldLeft(lit(60.0)) {
      case (acc, ((_, base), i)) => when(col("city_idx") === i, base).otherwise(acc)
    }
    spark.range(cities.size.toLong * nDays)
      .select(
        (col("id") % nDays).cast("int").as("day_idx"),
        (col("id") / nDays).cast("int").as("city_idx"))
      .withColumn("date", date_add(to_date(lit(startDate)), col("day_idx")))
      .withColumn("city", cityExpr)
      .withColumn("base_temp", baseTempExpr)
      // seasonal sine + deterministic jitter
      .withColumn("temp_avg_f",
        col("base_temp") + lit(20.0) * sin(col("day_idx") * math.Pi * 2 / 365) +
          (rand(seed) - 0.5) * 10)
      .withColumn("temp_max_f", col("temp_avg_f") + 5 + rand(seed + 1) * 5)
      .withColumn("temp_min_f", col("temp_avg_f") - 5 - rand(seed + 2) * 5)
      // U-shaped demand around 65°F, weekday factor 0.8/1.0
      .withColumn("weekday_factor",
        when(dayofweek(col("date")).isin(1, 7), 0.8).otherwise(1.0))
      .withColumn("energy_demand_gwh",
        (lit(50.0) + lit(0.1) * pow(col("temp_avg_f") - 65, 2)) * col("weekday_factor") *
          (lit(1.0) + (rand(seed + 3) - 0.5) * 0.1))
      // 1-2% injected nulls
      .withColumn("temp_max_f", when(rand(seed + 4) < nullRate, lit(null)).otherwise(col("temp_max_f")))
      .withColumn("temp_min_f", when(rand(seed + 5) < nullRate, lit(null)).otherwise(col("temp_min_f")))
      .withColumn("energy_demand_gwh",
        when(rand(seed + 6) < nullRate, lit(null)).otherwise(col("energy_demand_gwh")))
      .withColumn("temp_avg_f", (col("temp_max_f") + col("temp_min_f")) / 2)
      .select("date", "city", "temp_max_f", "temp_min_f", "temp_avg_f", "energy_demand_gwh")
  }

  /** Raw NOAA-shaped payload for one city (long format, °C) — feeds
    * WeatherOps.flatten, and through it the city-keyed weather chain,
    * in tests exactly like a landed API response. */
  def noaaRawJson(spark: SparkSession, startDate: String = "2024-01-01",
      nDays: Int = 30, seed: Long = 42L): DataFrame = {
    val long = spark.range(nDays)
      .withColumn("date_str",
        concat(date_format(date_add(to_date(lit(startDate)), col("id").cast("int")), "yyyy-MM-dd"),
          lit("T00:00:00")))
      .withColumn("tmax_c", lit(20.0) + (rand(seed) - 0.5) * 10)
      .withColumn("tmin_c", col("tmax_c") - 8 - rand(seed + 1) * 4)
    long.select(collect_list(struct(
      col("date_str").as("date"), lit("TMAX").as("datatype"), col("tmax_c").as("value"),
      lit("GHCND:TEST").as("station"), lit("").as("attributes"))).as("maxs"),
      collect_list(struct(
        col("date_str").as("date"), lit("TMIN").as("datatype"), col("tmin_c").as("value"),
        lit("GHCND:TEST").as("station"), lit("").as("attributes"))).as("mins"))
      .select(concat(col("maxs"), col("mins")).as("results"))
  }

  /** Raw EIA-shaped payload for one city (hourly, stringly-typed
    * values — includes a malformed one to exercise null-on-error). */
  def eiaRawJson(spark: SparkSession, startDate: String = "2024-01-01",
      nDays: Int = 30, seed: Long = 42L): DataFrame = {
    val hourly = spark.range(nDays.toLong * 24)
      .withColumn("period",
        concat(
          date_format(date_add(to_date(lit(startDate)), (col("id") / 24).cast("int")), "yyyy-MM-dd"),
          lit("T"), lpad((col("id") % 24).cast("string"), 2, "0")))
      .withColumn("value",
        when(col("id") === 5, lit("not-a-number")) // exercises try_cast null-on-error
          .otherwise((lit(1.0) + rand(seed) * 0.5).cast("string")))
    hourly.select(collect_list(struct(
      col("period"), lit("TEST").as("respondent"), col("value"))).as("data"))
      .select(struct(lit("720").as("total"), col("data")).as("response"))
  }
}
