package graft.config

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.yaml.snakeyaml.{DumperOptions, LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import org.yaml.snakeyaml.representer.Representer
import org.yaml.snakeyaml.resolver.Resolver

/** Parsed pipeline configuration (reference
  * config/config.example.yaml:1-49, loaded at src/pipeline.py:16-17):
  * API endpoints + credentials, landing/output paths, the city
  * dimension, and data-quality thresholds. Everything the reference
  * drives from YAML is parameterized here instead of hardcoded —
  * `QualityOps` and `Pipeline` accept a config, and [[cityDim]] turns
  * the city list into the broadcast-able dimension frame
  * (Schemas.cityDim shape, joined at dashboards/app.py:182). */
final case class PipelineConfig(
    noaa: ApiConfig,
    eia: ApiConfig,
    paths: PathsConfig,
    cities: Seq[CityConfig],
    quality: QualityThresholds) {

  /** The config's city list as the broadcast dimension table. */
  def cityDim(spark: SparkSession): DataFrame = {
    val rows = cities.map(c => Row(c.name, c.state, c.noaaStationId, c.eiaRegionCode, c.lat, c.lon))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), graft.domain.Schemas.cityDim)
  }
}

/** One API endpoint + credential (reference `noaa:`/`eia:` blocks). The
  * credential is whatever the YAML carries — never logged; see
  * [[PipelineConfig.masked]]. */
final case class ApiConfig(baseUrl: String, credential: String)

/** Landing/output paths (reference `paths:` block). */
final case class PathsConfig(rawData: String, processedData: String, logFile: String)

/** One configured city (reference `cities:` list entries). */
final case class CityConfig(
    name: String, state: String, noaaStationId: String, eiaRegionCode: String,
    lat: Double, lon: Double)

/** Quality thresholds (reference `data_quality.temp_outlier_fahrenheit`,
  * consumed at src/data_processor.py:93-98). */
final case class QualityThresholds(tempMaxF: Double, tempMinF: Double)

object PipelineConfig {

  /** The reference example config minus secrets — the default the
    * engine runs with when no YAML is supplied. */
  val default: PipelineConfig = PipelineConfig(
    noaa = ApiConfig("https://www.ncdc.noaa.gov/cdo-web/api/v2", ""),
    eia = ApiConfig("https://api.eia.gov/v2", ""),
    paths = PathsConfig("data/raw/", "data/processed/", "logs/pipeline.log"),
    cities = Seq(
      CityConfig("New York", "New York", "GHCND:USW00094728", "NYIS", 40.7128, -74.0060),
      CityConfig("Chicago", "Illinois", "GHCND:USW00094846", "PJM", 41.8781, -87.6298),
      CityConfig("Houston", "Texas", "GHCND:USW00012960", "ERCO", 29.7604, -95.3698),
      CityConfig("Phoenix", "Arizona", "GHCND:USW00023183", "AZPS", 33.4484, -112.0740),
      CityConfig("Seattle", "Washington", "GHCND:USW00024233", "SCL", 47.6062, -122.3321)),
    quality = QualityThresholds(tempMaxF = 130.0, tempMinF = -50.0))

  /** Mask a credential for logs (reference masks keys in its debug
    * tooling — F12): keep first/last 2 chars, star the middle. */
  def masked(credential: String): String =
    if (credential.length <= 4) "*" * credential.length
    else credential.take(2) + "*" * (credential.length - 4) + credential.takeRight(2)

  /** Load from a YAML file (the reference's config/config.yaml shape). */
  def fromFile(path: String): PipelineConfig =
    fromYaml(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** Parse the reference's config shape from YAML text. Unknown keys are
    * ignored; missing blocks fall back to [[default]] values, so a
    * partial override file (e.g. only `data_quality:`) is valid.
    * SnakeYAML loads it with no implicit types, so every scalar stays the
    * string it was written as (`0123`, `yes`, `~` verbatim; `key:` is
    * `""`; quotes stripped; ` #` starts a comment, `abc#def` does not).
    * An empty document, a non-mapping root or a non-mapping city entry
    * throws `IllegalArgumentException`. */
  def fromYaml(text: String): PipelineConfig = {
    val root = load(text)
    def str(path: String*): Option[String] = at(root, path)
    def dbl(path: String*): Option[Double] = str(path: _*).map(_.toDouble)
    val cities = root.get("cities") match {
      case items: java.util.List[_] => items.asScala.toSeq.map {
        case m: java.util.Map[_, _] =>
          def field(k: String): Option[String] = at(m, Seq(k))
          CityConfig(
            name = field("name").getOrElse(""),
            state = field("state").getOrElse(""),
            noaaStationId = field("noaa_station_id").getOrElse(""),
            eiaRegionCode = field("eia_region_code").getOrElse(""),
            lat = field("lat").map(_.toDouble).getOrElse(0.0),
            lon = field("lon").map(_.toDouble).getOrElse(0.0))
        case other => throw new IllegalArgumentException(s"a city entry must be a mapping, got '$other'")
      }
      case _ => Seq.empty
    }
    PipelineConfig(
      noaa = ApiConfig(
        str("noaa", "base_url").getOrElse(default.noaa.baseUrl),
        str("noaa", "token").getOrElse("")),
      eia = ApiConfig(
        str("eia", "base_url").getOrElse(default.eia.baseUrl),
        str("eia", "api_key").getOrElse("")),
      paths = PathsConfig(
        str("paths", "raw_data").getOrElse(default.paths.rawData),
        str("paths", "processed_data").getOrElse(default.paths.processedData),
        str("paths", "log_file").getOrElse(default.paths.logFile)),
      cities = if (cities.nonEmpty) cities else default.cities,
      quality = QualityThresholds(
        tempMaxF = dbl("data_quality", "temp_outlier_fahrenheit", "max")
          .getOrElse(default.quality.tempMaxF),
        tempMinF = dbl("data_quality", "temp_outlier_fahrenheit", "min")
          .getOrElse(default.quality.tempMinF)))
  }

  /** The string scalar at `path` below `node`, if every step is a mapping. */
  private def at(node: Any, path: Seq[String]): Option[String] =
    path.foldLeft(Option(node)) {
      case (Some(m: java.util.Map[_, _]), k) => Option(m.get(k))
      case _ => None
    }.collect { case s: String => s }

  /** The YAML document's root mapping, every scalar a string. */
  private def load(text: String): java.util.Map[_, _] = {
    val noImplicitTypes = new Resolver { override def addImplicitResolvers(): Unit = () }
    val yaml = new Yaml(new SafeConstructor(new LoaderOptions), new Representer(new DumperOptions),
      new DumperOptions, new LoaderOptions, noImplicitTypes)
    yaml.load[AnyRef](text) match {
      case m: java.util.Map[_, _] => m
      case null => throw new IllegalArgumentException("empty config")
      case other => throw new IllegalArgumentException(
        s"config root must be a mapping, got ${other.getClass.getSimpleName}")
    }
  }
}
