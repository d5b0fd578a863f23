package graft

import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.config.PipelineConfig
import graft.operators.{PipelineOps, QualityOps}
import graft.pipeline.Pipeline
import graft.sources.{Connectors, SyntheticData}

/** Config-driven EP1 (reference config/config.example.yaml loaded at
  * src/pipeline.py:16-17), the S4 raw-zone landing writer + replay
  * guarantee (src/data_fetcher.py:48-53), the weather-only degraded
  * mode (src/pipeline.py:74-78), and the gated single-file CSV sink. */
class ConfigPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val yamlText =
    """# local secrets — shape mirrors the reference example
      |noaa:
      |  token: "tok-123456"
      |  base_url: "https://example.invalid/cdo/v2"
      |eia:
      |  api_key: "key-abcdef"
      |  base_url: "https://example.invalid/eia/v2"
      |
      |paths:
      |  raw_data: "data/raw/"
      |  processed_data: "data/processed/"
      |  log_file: "logs/pipeline.log"
      |
      |cities:
      |  - name: "New York"
      |    state: "New York"
      |    noaa_station_id: "GHCND:USW00094728"
      |    eia_region_code: "NYIS"
      |    lat: 40.7128
      |    lon: -74.0060
      |  - name: "Chicago"
      |    state: "Illinois"
      |    noaa_station_id: "GHCND:USW00094846"
      |    eia_region_code: "PJM"
      |    lat: 41.8781
      |    lon: -87.6298
      |
      |data_quality:
      |  temp_outlier_fahrenheit:
      |    max: 90   # deliberately non-default
      |    min: -10
      |""".stripMargin

  test("YAML config parses: endpoints, paths, cities, thresholds") {
    val cfg = PipelineConfig.fromYaml(yamlText)
    assert(cfg.noaa.credential == "tok-123456")
    assert(cfg.noaa.baseUrl == "https://example.invalid/cdo/v2")
    assert(cfg.eia.credential == "key-abcdef")
    assert(cfg.paths.rawData == "data/raw/")
    assert(cfg.cities.map(_.name) == Seq("New York", "Chicago"))
    assert(cfg.cities.head.noaaStationId == "GHCND:USW00094728")
    assert(cfg.cities.head.eiaRegionCode == "NYIS")
    assert(cfg.cities.head.lat == 40.7128 && cfg.cities.head.lon == -74.0060)
    assert(cfg.quality == graft.config.QualityThresholds(90.0, -10.0))
    // partial override file: only thresholds → everything else defaults
    val partial = PipelineConfig.fromYaml(
      "data_quality:\n  temp_outlier_fahrenheit:\n    max: 110\n    min: -20\n")
    assert(partial.quality.tempMaxF == 110.0)
    assert(partial.cities == PipelineConfig.default.cities)
    assert(PipelineConfig.masked("key-abcdef") == "ke******ef")
  }

  test("unquoted '#' with no preceding whitespace is value text, not a comment (YAML rule)") {
    val cfg = PipelineConfig.fromYaml(
      yamlText.replace("\"tok-123456\"", "tok#123456   # trailing comment"))
    assert(cfg.noaa.credential == "tok#123456")
  }

  test("config cityDim yields the broadcast-able dimension frame") {
    val dim = PipelineConfig.fromYaml(yamlText).cityDim(spark)
    assert(dim.schema == graft.domain.Schemas.cityDim)
    assert(dim.count() == 2)
  }

  test("non-default quality threshold changes the report") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("2024-01-01", "X", Some(100.0), Some(10.0), Some(55.0), Some(5.0)),
      ("2024-01-02", "X", Some(80.0), Some(-15.0), Some(32.5), Some(1.0)))
      .toDF("date", "city", "temp_max_f", "temp_min_f", "temp_avg_f", "energy_demand_gwh")
      .withColumn("date", to_date(col("date")))
    val default = QualityOps.report(df, "2024-01-05", PipelineConfig.default)
    assert(default.temp_outliers_count == 0) // 100 < 130, -15 > -50
    val strict = QualityOps.report(df, "2024-01-05", PipelineConfig.fromYaml(yamlText))
    assert(strict.temp_outliers_count == 2)  // 100 > 90, -15 < -10
  }

  test("S4 landRaw + replay: landed payload reproduces the same fact rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_raw").toString
    val payload =
      """{"results":[{"date":"2025-07-29T00:00:00","datatype":"TMAX","value":36.1,"station":"ST","attributes":""},{"date":"2025-07-29T00:00:00","datatype":"TMIN","value":25.6,"station":"ST","attributes":""}]}"""
    val path = Connectors.rawLandingPath(dir, "weather", "TestCity", "2025-07-29", "2025-07-29")
    assert(path.endsWith("weather_TestCity_2025-07-29_2025-07-29.json"))
    Connectors.landRaw(payload, path)
    val landed = spark.read.schema(graft.domain.Schemas.noaaRaw).json(path)
    val replayed = graft.operators.WeatherOps.process(
      graft.operators.WeatherOps.flatten(landed, "TestCity"),
      PipelineOps.dateCitySpine(spark, Seq("TestCity"), "2025-07-29", "2025-07-29")).collect()
    assert(replayed.length == 1)
    val r = replayed.head
    assert(math.abs(r.getAs[Double]("temp_max_f") - (36.1 * 9 / 5 + 32)) < 1e-9)
    assert(math.abs(r.getAs[Double]("temp_min_f") - (25.6 * 9 / 5 + 32)) < 1e-9)
  }

  test("weather-only fallback: empty energy side still lands output, report flags it") {
    val s = spark; import s.implicits._
    val noaa = SyntheticData.noaaRawJson(spark, "2024-01-01", 30)
    val emptyEia = spark.read.schema(graft.domain.Schemas.eiaRaw)
      .json(Seq("""{"response":{"total":"0","data":[]}}""").toDS)
    val out = java.nio.file.Files.createTempDirectory("graft_fallback").toString
    val today = LocalDate.parse("2024-01-31")
    val rep = Pipeline.run(spark, Seq(("CityA", noaa, emptyEia)), Pipeline.Realtime, today, out)
    assert(rep.weather_only)
    assert(rep.row_count == 1) // yesterday × 1 city, weather rows preserved
    val csv = spark.read.option("header", "true").csv(s"$out/weather_csv")
    assert(csv.count() == 1)
    assert(!csv.columns.contains("energy_demand_gwh"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/weather_energy_parquet")))
    // and a healthy run is NOT flagged
    val eia = SyntheticData.eiaRawJson(spark, "2024-01-30", 1)
    val rep2 = Pipeline.run(spark, Seq(("CityA", noaa, eia)), Pipeline.Realtime, today, out)
    assert(!rep2.weather_only && rep2.row_count == 1)
  }

  test("writeCsv gates coalesce(1) on the row bound") {
    val s = spark; import s.implicits._
    val df = (1 to 40).map(i => (i, s"v$i")).toDF("id", "v").repartition(4)
    def parts(p: String): Int =
      new java.io.File(p).listFiles().count(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    val small = java.nio.file.Files.createTempDirectory("graft_csv_s").toString + "/out"
    PipelineOps.writeCsv(df, small) // under default bound → single file
    assert(parts(small) == 1)
    val big = java.nio.file.Files.createTempDirectory("graft_csv_b").toString + "/out"
    PipelineOps.writeCsv(df, big, maxRowsSingleFile = 10) // over bound → multi-part
    assert(parts(big) > 1)
    assert(spark.read.option("header", "true").csv(big).count() == 40)
  }

  test("observeQuality accumulates metrics during the action itself") {
    val s = spark; import s.implicits._
    val df = Seq(
      (Some(70.0), Some(1.0)), (None, Some(2.0)),
      (Some(80.0), None), (None, None), (Some(90.0), Some(3.0))
    ).toDF("temp_avg_f", "energy_demand_gwh")
    val (observed, obs) = QualityOps.observeQuality(df,
      Seq("temp_avg_f", "energy_demand_gwh"))
    observed.write.mode("overwrite")
      .parquet(java.nio.file.Files.createTempDirectory("graft_obs").toString)
    val m = obs.get
    assert(m("n_rows") == 5L)
    assert(m("nulls_temp_avg_f") == 2L)
    assert(m("nulls_energy_demand_gwh") == 2L)
  }
}
