package graft.operators

import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Core pipeline composition (EP1 heart): union per-city frames,
  * densify onto the date × city spine, inner join weather⋈energy on
  * (date, city), derive temp_avg_f, sink. */
object PipelineOps {

  /** U1 — schema-aligned union of per-city frames (reference pd.concat,
    * src/pipeline.py:82-83), taken right after the per-city flatten. */
  def unionCities(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_ unionByName _)

  /** The `city` tag of a per-city flatten. A generator, not a literal:
    * with one city (no union) the optimizer folds a literal into the
    * (date, city) join keys, shrinking them to `date` at the cost of
    * three exchanges a many-city plan does not have. */
  def cityTag(city: String): Column = explode(array(lit(city))).as("city")

  /** Every day of [start, end] for every SUPPLIED city (a city whose
    * feed is empty still gets its padded NULL rows), generated from the
    * city list and the day sequence: no join, no SQL text. One input
    * partition: every spine row comes from one seed row, so more would
    * only add empty tasks. Fails fast on an empty city list, a
    * duplicated city (its rows would multiply silently) and an
    * inverted window. */
  def dateCitySpine(spark: SparkSession, cities: Seq[String],
      start: String, end: String): DataFrame = {
    require(cities.nonEmpty, "no cities to build")
    val dups = cities.diff(cities.distinct).distinct
    require(dups.isEmpty, s"duplicate city names: ${dups.mkString(", ")}")
    val (from, to) = (LocalDate.parse(start), LocalDate.parse(end))
    require(!from.isAfter(to), s"start $start is after end $end")
    spark.range(0, 1, 1, numPartitions = 1)
      .select(explode(typedLit(cities)).as("city"))
      .select(explode(sequence(lit(from), lit(to))).as("date"), col("city"))
  }

  /** J5 — densify a daily frame onto the spine; absent (date, city)
    * pairs get NULL values (reference reindex, src/data_processor.py:10-22).
    * A shuffle join at worst: the input is already per-day aggregated,
    * the same order of magnitude as the spine at any corpus scale. */
  def densify(daily: DataFrame, spine: DataFrame): DataFrame =
    spine.join(daily, Seq("date", "city"), "left")

  /** J1 — THE core query: inner equi-join on the composite key
    * (reference src/pipeline.py:86). At scale both sides shuffle on
    * (date, city); with both sides written bucketed by city the
    * exchange disappears. */
  def joinWeatherEnergy(weather: DataFrame, energy: DataFrame): DataFrame =
    weather.join(energy, Seq("date", "city"), "inner")

  /** P3 — final strict (a+b)/2 overwrite of temp_avg_f (reference
    * src/pipeline.py:89; NULL-propagating — deliberately NOT the
    * NaN-skipping rowwise mean, SURVEY §7.4 trap 1). */
  def deriveTempAvg(joined: DataFrame): DataFrame =
    joined.withColumn("temp_avg_f", (col("temp_max_f") + col("temp_min_f")) / 2)

  /** S5 — CSV sink for dashboard parity (reference to_csv,
    * src/pipeline.py:96-98). The reference writes ONE csv file; a
    * `coalesce(1)` funnels every row through a single task, which is a
    * scale-killer on a big frame — so the single-file convenience is
    * gated on a row bound (probed with a limit-count, which stops
    * scanning once the bound is exceeded) and larger frames write
    * multi-part. */
  def writeCsv(df: DataFrame, path: String,
      maxRowsSingleFile: Int = 1000000): Unit = {
    val small = df.limit(maxRowsSingleFile + 1).count() <= maxRowsSingleFile
    val out = if (small) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /** Preferred engine sink: parquet partitioned by (city, date) —
    * partition pruning for the dashboard's per-city and per-range
    * queries; at 100 TB the date level would be month with compaction.
    * Partitioning MUST include the date grain: the `realtime` daily run
    * overwrites only the (city, yesterday) partitions it touched via
    * dynamic partition overwrite — partitioning by city alone would
    * replace every city's full history with yesterday's single row,
    * which is exactly the reference's overwrite-everything bug
    * (SURVEY §7.4 trap 7). `writeCsv` intentionally keeps the
    * reference's whole-file CSV for dashboard parity; the parquet path
    * is the history-preserving sink. */
  def writePartitioned(df: DataFrame, path: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("city", "date")
      .parquet(path)
}
