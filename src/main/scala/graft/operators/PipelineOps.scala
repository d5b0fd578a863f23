package graft.operators

import java.time.LocalDate
import org.apache.hadoop.fs.Path
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

  /** Preferred engine sink: parquet holding ONE file per city
    * (`<path>/city=<name>/part-*.parquet`), written as an upsert keyed
    * on (date, city).
    *
    * When `path` already holds a sink, its rows of the cities `df`
    * touches are read back, the ones whose (date, city) `df` carries are
    * dropped, and the rest are written together with `df`; a dynamic
    * partition overwrite then replaces only the touched cities' files.
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
  def writePartitioned(df: DataFrame, path: String): Unit = {
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
        val keys = df.select("date", "city")
        // read with df's schema: no footer-inference job, and the
        // rewritten files take df's columns
        spark.read.schema(df.schema).parquet(path)
          .join(keys.select("city"), Seq("city"), "left_semi")
          .join(keys, Seq("date", "city"), "left_anti")
          .unionByName(df)
      }
    rows.repartition(col("city")).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("city")
      .parquet(path)
  }
}
