package graft.pipeline

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.domain.QualityReport
import graft.operators.{EnergyOps, PipelineOps, QualityOps, WeatherOps}

/** EP1 orchestration (reference run_pipeline, src/pipeline.py:16-111):
  * derive the date window from the mode, flatten each city's weather
  * and energy payloads, union, densify and impute, join, derive
  * temp_avg_f, quality-check, sink.
  *
  * Deviations from the reference, both documented in SURVEY §7.4:
  *   - the duplicated tail of run_pipeline (src/pipeline.py:100-111) is
  *     a verbatim copy-paste no-op and is not replicated (trap 9);
  *   - `realtime` writes a dynamic partition overwrite instead of
  *     replacing the whole output with yesterday's rows (trap 7).
  *
  * The clock is injected so both modes are deterministic under test
  * (trap 8). Only the flatten is per city; each side is then ONE
  * city-keyed plan, so its exchanges do not grow with the number of
  * cities. Nothing executes until the sink action.
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
    * city. Returns the fact DataFrame (lazy) — callers choose the sink. */
  def build(spark: SparkSession, rawByCity: Seq[(String, DataFrame, DataFrame)],
      start: String, end: String): DataFrame =
    PipelineOps.deriveTempAvg(PipelineOps.joinWeatherEnergy(
      buildWeather(rawByCity, start, end), buildEnergy(rawByCity, start, end)))

  /** Full run: build → quality report → sinks (partitioned parquet +
    * CSV for dashboard parity). Quality thresholds come from `cfg`
    * (reference config['data_quality'], src/data_processor.py:93-98).
    *
    * Degraded mode (reference src/pipeline.py:74-78): when the energy
    * side carries no values at all — every fetch failed or returned
    * empty — the run still lands a weather-only output instead of an
    * empty inner join, and the report flags `weather_only`. The
    * emptiness probe reads at most one non-null value (a `limit 1`
    * job over the already-built energy plan). */
  def run(spark: SparkSession, rawByCity: Seq[(String, DataFrame, DataFrame)],
      mode: Mode, today: LocalDate, outDir: String,
      cfg: graft.config.PipelineConfig = graft.config.PipelineConfig.default): QualityReport = {
    val (start, end) = dateWindow(mode, today)
    val energy = buildEnergy(rawByCity, start, end)
    // densify pads absent days with NULL energy, so "no energy data"
    // means no non-null value anywhere — same condition as the
    // reference's all-fetches-returned-None
    val energyEmpty = energy
      .filter(org.apache.spark.sql.functions.col("energy_demand_gwh").isNotNull).isEmpty
    val fact =
      if (energyEmpty) buildWeather(rawByCity, start, end).persist()
      else PipelineOps.deriveTempAvg(
        PipelineOps.joinWeatherEnergy(buildWeather(rawByCity, start, end), energy)).persist()
    // persist: the fact feeds three actions (report, parquet, CSV) —
    // without it the whole raw→fact DAG recomputes each time
    try {
      val report = QualityOps.report(fact, asOfDate = today.toString, cfg)
        .copy(weather_only = energyEmpty)
      if (energyEmpty) {
        PipelineOps.writeCsv(fact, s"$outDir/weather_csv")
      } else {
        PipelineOps.writePartitioned(fact, s"$outDir/weather_energy_parquet")
        PipelineOps.writeCsv(fact, s"$outDir/weather_energy_csv")
      }
      report
    } finally fact.unpersist()
  }
}
