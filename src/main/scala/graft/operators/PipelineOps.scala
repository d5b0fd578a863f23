package graft.operators

import java.time.LocalDate
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Core pipeline composition (EP1 heart): union per-city frames,
  * aggregate weather and energy readings onto the date × city spine
  * (or densify each side and inner join weather⋈energy on (date,
  * city)), derive temp_avg_f, sink. */
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

  /** The fact's daily values on the date × city `spine` in ONE
    * aggregate, fusing the weather pivot (A1), the hourly→daily
    * resample (A2), both densifies (J5) and their join (J1). The spine,
    * the flattened NOAA readings (`WeatherOps.flatten`) and the
    * flattened EIA hours (`EnergyOps.flatten`) are unioned and grouped
    * by (date, city); only groups holding a spine row are kept, so
    * readings outside the window drop out and an absent day is padded
    * with NULLs. A day's TMAX and TMIN are the °F of its mean readings;
    * its energy is the sum of its hours, 0.0 when every hour is NaN or
    * NULL and NULL when it has none. The union is partitioned by city
    * once, so neither the aggregate nor a per-city window after it
    * needs another exchange. It takes one partition per city, up to
    * the session's shuffle partitions: adaptive execution does not
    * coalesce the partitions of a plan that is cached, as the fact is,
    * and every empty partition would be a task in each job reading it.
    * Columns: date, city, temp_max_f, temp_min_f, energy_demand_gwh. */
  def dailyFact(weather: DataFrame, hourly: DataFrame, spine: DataFrame, cities: Int): DataFrame = {
    val partitions = math.min(cities, spine.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    val none = lit(null).cast("double")
    def reading(t: String) = when(col("datatype") === t, col("value_c"))
    Seq(
      spine.select(col("date"), col("city"), lit(1).as("in_window"),
        none.as("tmax_c"), none.as("tmin_c"), none.as("gwh"), lit(0).as("hour")),
      weather.select(col("date"), col("city"), lit(0).as("in_window"),
        reading("TMAX").as("tmax_c"), reading("TMIN").as("tmin_c"), none.as("gwh"), lit(0).as("hour")),
      hourly.select(to_date(col("ts")).as("date"), col("city"), lit(0).as("in_window"),
        none.as("tmax_c"), none.as("tmin_c"), col("value").as("gwh"), lit(1).as("hour"))
    ).reduce(_ union _)
      .repartition(partitions, col("city"))
      .groupBy("date", "city")
      .agg(max("in_window").as("in_window"), avg("tmax_c").as("tmax_c"), avg("tmin_c").as("tmin_c"),
        sum("gwh").as("gwh"), max("hour").as("hour"))
      .filter(col("in_window") === 1)
      .select(col("date"), col("city"),
        WeatherOps.celsiusToFahrenheit(col("tmax_c")).as("temp_max_f"),
        WeatherOps.celsiusToFahrenheit(col("tmin_c")).as("temp_min_f"),
        when(col("hour") === 1, coalesce(col("gwh"), lit(0.0))).as("energy_demand_gwh"))
  }

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
    * gated on a row bound and larger frames write multi-part. A caller
    * that already holds the row count passes it as `rows`; without it
    * the bound is probed with a limit-count, which stops scanning once
    * the bound is exceeded. */
  def writeCsv(df: DataFrame, path: String,
      maxRowsSingleFile: Int = 1000000, rows: Option[Long] = None): Unit = {
    val small = rows.getOrElse(df.limit(maxRowsSingleFile + 1).count()) <= maxRowsSingleFile
    val out = if (small) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /** Preferred engine sink: parquet holding ONE file per city
    * (`<path>/city=<name>/part-*.parquet`), written as an upsert of a
    * window of (date, city) rows.
    *
    * A new sink takes `df` as it is. Onto an existing sink, `df` is the
    * new content of `window` = (cities, start, end): the sink's rows of
    * those cities outside [start, end] are read back and written
    * together with `df`, and a dynamic partition overwrite replaces
    * only those cities' files. Every row of `df` must lie in the
    * window; a window row `df` lacks is removed from the sink, the way
    * a replaced day loses its old row. `Pipeline.run` passes its fact,
    * which holds exactly one row per (date, city) of its window. The
    * rows kept are a filter on the sink, whose scan reads only the
    * window cities' directories; nothing is joined against `df`. An
    * existing sink with no `window` is refused with an
    * `IllegalArgumentException`: the rows to replace are not known.
    * So a re-run of a day replaces that day in place, every other day
    * of a touched city is kept, and the files of cities `df` does not
    * touch are left as they are. This keeps the `realtime` daily run
    * from replacing the history with yesterday's rows, which is the
    * reference's overwrite-everything bug (SURVEY §7.4 trap 7). Reading
    * the partitions being overwritten is safe: dynamic overwrite stages
    * the new files and swaps them in only when the job commits.
    *
    * One file per city is bounded: the fact is daily, so a city's file
    * grows by 365 rows a year, and the dashboard's per-city reads open
    * one file instead of one per day. `date` is a data column, so a
    * date-range filter reaches the scan as a pushed parquet filter.
    *
    * A DataFrame read from `path` before this call must be read again
    * after it: the touched cities' files are replaced by new ones.
    *
    * A sink in the earlier `city=…/date=…` layout is refused with an
    * `IllegalStateException`: upserting onto it would mix the two
    * layouts and break partition discovery. A backfill must rewrite
    * it. `writeCsv` intentionally keeps the reference's whole-file CSV
    * for dashboard parity; the parquet path is the history-preserving
    * sink. */
  def writePartitioned(df: DataFrame, path: String,
      window: Option[(Seq[String], String, String)] = None): Unit = {
    val spark = df.sparkSession
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def present(pattern: String): Boolean =
      Option(fs.globStatus(new Path(root, pattern))).exists(_.nonEmpty)
    if (present("city=*/date=*"))
      throw new IllegalStateException(s"$path holds a sink partitioned by (city, date); " +
        "a backfill must rewrite it (delete it, then backfill) before it can take upserts")
    val rows =
      if (!present("city=*")) df
      else {
        val (cities, start, end) = window.getOrElse(throw new IllegalArgumentException(
          s"$path already holds a sink: an upsert onto it needs the (cities, start, end) window it replaces"))
        // read with df's schema: no footer-inference job, and the
        // rewritten files take df's columns
        spark.read.schema(df.schema).parquet(path)
          .filter(col("city").isin(cities: _*) && !col("date").between(start, end))
          .unionByName(df)
      }
    rows.repartition(col("city")).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("city")
      .parquet(path)
  }
}
