package graft.pipeline

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.domain.QualityReport
import graft.operators.{EnergyOps, PipelineOps, QualityOps, WeatherOps}

/** EP1 orchestration (reference run_pipeline, src/pipeline.py:16-111):
  * derive the date window from the mode, flatten each city's weather
  * and energy payloads, aggregate them onto the date × city spine,
  * impute, derive temp_avg_f, quality-check, sink.
  *
  * Deviations from the reference, both documented in SURVEY §7.4:
  *   - the duplicated tail of run_pipeline (src/pipeline.py:100-111) is
  *     a verbatim copy-paste no-op and is not replicated (trap 9);
  *   - `realtime` upserts yesterday's (date, city) rows into the
  *     parquet sink's one file per city instead of replacing the whole
  *     output with them (trap 7); see `PipelineOps.writePartitioned`.
  *
  * The clock is injected so both modes are deterministic under test
  * (trap 8). Only the flatten is per city; the fact is then ONE
  * city-keyed plan with one exchange, whatever the number of cities.
  * Nothing executes until the sink action.
  */
object Pipeline {

  sealed trait Mode
  case object Historical extends Mode // 180-day window ending yesterday (T1)
  case object Realtime extends Mode   // yesterday only (T2)

  /** Date window derivation (reference src/pipeline.py:19-28). */
  def dateWindow(mode: Mode, today: LocalDate): (String, String) = {
    val end = today.minusDays(1)
    val start = mode match {
      case Historical => end.minusDays(179)
      case Realtime   => end
    }
    (start.toString, end.toString)
  }

  /** City-keyed weather table (the left side of the fact join). */
  def buildWeather(rawByCity: Seq[(String, DataFrame, DataFrame)],
      start: String, end: String): DataFrame = {
    val days = PipelineOps.dateCitySpine(SparkSession.active, rawByCity.map(_._1), start, end)
    WeatherOps.process(PipelineOps.unionCities(
      rawByCity.map { case (city, noaa, _) => WeatherOps.flatten(noaa, city) }), days)
  }

  /** City-keyed energy table (the right side of the fact join). */
  def buildEnergy(rawByCity: Seq[(String, DataFrame, DataFrame)],
      start: String, end: String): DataFrame = {
    val days = PipelineOps.dateCitySpine(SparkSession.active, rawByCity.map(_._1), start, end)
    EnergyOps.process(PipelineOps.unionCities(
      rawByCity.map { case (city, _, eia) => EnergyOps.flatten(eia, city) }), days)
  }

  /** Run over pre-landed raw payloads: one (noaaRaw, eiaRaw) pair per
    * city. Returns the fact DataFrame (lazy) — callers choose the sink.
    * Its rows are those of the join of [[buildWeather]] and
    * [[buildEnergy]] with temp_avg_f derived, made by one aggregate
    * (`PipelineOps.dailyFact`) and one per-city imputation window
    * instead of two densified sides and a join. */
  def build(spark: SparkSession, rawByCity: Seq[(String, DataFrame, DataFrame)],
      start: String, end: String): DataFrame = {
    val spine = PipelineOps.dateCitySpine(spark, rawByCity.map(_._1), start, end)
    val daily = PipelineOps.dailyFact(
      PipelineOps.unionCities(rawByCity.map { case (city, noaa, _) => WeatherOps.flatten(noaa, city) }),
      PipelineOps.unionCities(rawByCity.map { case (city, _, eia) => EnergyOps.flatten(eia, city) }),
      spine, rawByCity.size)
    // over one day a city's mean is its one value: imputing changes
    // nothing, and the daily refresh skips the window
    PipelineOps.deriveTempAvg(if (start == end) daily else WeatherOps.imputePerCity(daily))
      .select("date", "city", "temp_max_f", "temp_min_f", "temp_avg_f", "energy_demand_gwh")
  }

  /** Full run: build → quality report → sinks (partitioned parquet +
    * CSV for dashboard parity). Quality thresholds come from `cfg`
    * (reference config['data_quality'], src/data_processor.py:93-98).
    * The run replaces the parquet files of the cities it touches, so a
    * DataFrame read from that sink before the run must be read again.
    *
    * Degraded mode (reference src/pipeline.py:74-78): when the energy
    * side carries no values at all — every fetch failed or returned
    * empty — the run still lands a weather-only output instead of an
    * empty inner join, and the report flags `weather_only`. The fact's
    * report shows it (every energy value is NULL); both sides are dense
    * on the same spine, so the output is the fact's weather columns. */
  def run(spark: SparkSession, rawByCity: Seq[(String, DataFrame, DataFrame)],
      mode: Mode, today: LocalDate, outDir: String,
      cfg: graft.config.PipelineConfig = graft.config.PipelineConfig.default): QualityReport = {
    val (start, end) = dateWindow(mode, today)
    // persist: the report and the sinks all read the one fact
    val fact = build(spark, rawByCity, start, end).persist()
    try {
      val report = QualityOps.report(fact, asOfDate = today.toString, cfg)
      // the spine makes row_count > 0
      if (report.null_counts("energy_demand_gwh") == report.row_count) {
        val weather = WeatherOps.weatherColumns(fact)
        val weatherReport = QualityOps.report(weather, asOfDate = today.toString, cfg)
        PipelineOps.writeCsv(weather, s"$outDir/weather_csv", rows = Some(weatherReport.row_count))
        weatherReport.copy(weather_only = true)
      } else {
        // the fact is the spine: every (date, city) of the window
        PipelineOps.writePartitioned(fact, s"$outDir/weather_energy_parquet",
          Some((rawByCity.map(_._1), start, end)))
        PipelineOps.writeCsv(fact, s"$outDir/weather_energy_csv", rows = Some(report.row_count))
        report
      }
    } finally fact.unpersist()
  }
}
