package graft

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite
import graft.domain.{QualityReport, Schemas}
import graft.pipeline.Pipeline
import graft.sources.SyntheticData

/** The pipeline runs every city through one city-keyed plan. These
  * tests pin its rows and report on a multi-city fixture, its input
  * checks, and the plan shape's independence from the city count. */
class CityKeyedPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def noaa(readings: (String, String, Double)*): DataFrame = {
    val s = spark; import s.implicits._
    val rs = readings.map { case (d, t, v) =>
      s"""{"date":"${d}T00:00:00","datatype":"$t","value":$v,"station":"ST","attributes":""}""" }
    spark.read.schema(Schemas.noaaRaw).json(Seq(rs.mkString("""{"results":[""", ",", "]}")).toDS)
  }

  private def eia(hours: (String, String)*): DataFrame = {
    val s = spark; import s.implicits._
    val ds = hours.map { case (p, v) => s"""{"period":"$p","respondent":"R","value":"$v"}""" }
    spark.read.schema(Schemas.eiaRaw)
      .json(Seq(ds.mkString(s"""{"response":{"total":"${hours.size}","data":[""", ",", "]}}")).toDS)
  }

  /** CityA: a duplicate TMAX reading (03-01), an absent day (03-03), a
    * TMIN-only gap (03-04) and an absent day (03-06) — its imputation
    * means differ from CityB's. Its EIA feed has an all-NaN day (03-02),
    * a negative day (03-04) and an absent day (03-05). CityB: complete
    * weather with one outlier (03-04), and an empty EIA feed. */
  private def fixture: Seq[(String, DataFrame, DataFrame)] = Seq(
    ("CityA",
      noaa(("2024-03-01", "TMAX", 10.5), ("2024-03-01", "TMAX", 11.5), ("2024-03-01", "TMIN", 2.0),
        ("2024-03-02", "TMAX", 12.0), ("2024-03-02", "TMIN", 3.5),
        ("2024-03-04", "TMAX", 14.0),
        ("2024-03-05", "TMAX", 9.0), ("2024-03-05", "TMIN", -1.5)),
      eia(("2024-03-01T00", "1.25"), ("2024-03-01T13", "2.5"),
        ("2024-03-02T00", "not-a-number"), ("2024-03-02T07", ""),
        ("2024-03-03T05", "4.0"),
        ("2024-03-04T01", "-5.0"), ("2024-03-04T02", "2.0"),
        ("2024-03-06T23", "3.75"))),
    ("CityB",
      noaa(("2024-03-01", "TMAX", 30.0), ("2024-03-01", "TMIN", 22.0),
        ("2024-03-02", "TMAX", 31.5), ("2024-03-02", "TMIN", 23.0),
        ("2024-03-03", "TMAX", 29.0), ("2024-03-03", "TMIN", 21.5),
        ("2024-03-04", "TMAX", 56.0), ("2024-03-04", "TMIN", 24.0),
        ("2024-03-05", "TMAX", 28.5), ("2024-03-05", "TMIN", 20.0),
        ("2024-03-06", "TMAX", 35.0), ("2024-03-06", "TMIN", 25.5)),
      eia()))

  // rows produced by the earlier per-city chains (one chain per city,
  // then a union) on the same fixture
  test("build: per-city imputation means and an empty feed's NULL padding, row for row") {
    val fact = Pipeline.build(spark, fixture, "2024-03-01", "2024-03-06")
    assert(fact.columns.toSeq ==
      Seq("date", "city", "temp_max_f", "temp_min_f", "temp_avg_f", "energy_demand_gwh"))
    assert(fact.orderBy("city", "date").collect().map(_.toString).toSeq == Seq(
      "[2024-03-01,CityA,51.8,35.6,43.7,3.75]",
      "[2024-03-02,CityA,53.6,38.3,45.95,0.0]",
      "[2024-03-03,CityA,52.7,34.4,43.55,4.0]",
      "[2024-03-04,CityA,57.2,34.4,45.8,-3.0]",
      "[2024-03-05,CityA,48.2,29.3,38.75,null]",
      "[2024-03-06,CityA,52.7,34.4,43.55,3.75]",
      "[2024-03-01,CityB,86.0,71.6,78.8,null]",
      "[2024-03-02,CityB,88.7,73.4,81.05000000000001,null]",
      "[2024-03-03,CityB,84.2,70.7,77.45,null]",
      "[2024-03-04,CityB,132.8,75.2,104.0,null]",
      "[2024-03-05,CityB,83.3,68.0,75.65,null]",
      "[2024-03-06,CityB,95.0,77.9,86.45,null]"))
  }

  test("run: the quality report matches the per-city chains' report") {
    val out = java.nio.file.Files.createTempDirectory("graft_city_keyed").toString
    val rep = Pipeline.run(spark, fixture, Pipeline.Realtime, LocalDate.parse("2024-03-05"), out)
    assert(rep == QualityReport(
      row_count = 2,
      null_counts = Map("date" -> 0L, "city" -> 0L, "temp_max_f" -> 0L, "temp_min_f" -> 1L,
        "temp_avg_f" -> 1L, "energy_demand_gwh" -> 1L),
      temp_outliers_count = 1,
      negative_energy_count = 1,
      latest_data_date = "2024-03-04",
      days_since_latest_data = 1,
      weather_only = false))
  }

  test("duplicate city names fail at build time, naming the duplicate") {
    val noaa = SyntheticData.noaaRawJson(spark, "2024-01-01", 30)
    val eia = SyntheticData.eiaRawJson(spark, "2024-01-01", 30)
    val e = intercept[IllegalArgumentException](
      Pipeline.build(spark, Seq(("A", noaa, eia), ("B", noaa, eia), ("A", noaa, eia)),
        "2024-01-01", "2024-01-30"))
    assert(e.getMessage.contains("duplicate city names: A"))
  }

  test("an empty city list or an inverted window fails at build time") {
    val empty = intercept[IllegalArgumentException](
      Pipeline.build(spark, Seq.empty, "2024-01-01", "2024-01-30"))
    assert(empty.getMessage.contains("no cities"))
    val raw = Seq(("A", SyntheticData.noaaRawJson(spark, "2024-01-01", 30),
      SyntheticData.eiaRawJson(spark, "2024-01-01", 30)))
    val inverted = intercept[IllegalArgumentException](
      Pipeline.build(spark, raw, "2024-01-30", "2024-01-01"))
    assert(inverted.getMessage.contains("start 2024-01-30 is after end 2024-01-01"))
  }

  /** Exchanges in a physical plan, adaptive plans opened up and
    * subqueries included. */
  private def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case p => (if (p.isInstanceOf[Exchange]) 1 else 0) +
      (p.children ++ p.subqueries).map(exchanges).sum
  }

  // the payloads are plain scans, like landed files: SyntheticData's
  // would bring exchanges of their own into the count
  test("the plan's exchange count does not grow with the number of cities") {
    val (_, noaa, eia) = fixture.head
    val counts = Seq(1, 2, 8).map { n =>
      val raw = (1 to n).map(i => (s"City$i", noaa, eia))
      n -> exchanges(Pipeline.build(spark, raw, "2024-03-01", "2024-03-06").queryExecution.executedPlan)
    }
    assert(counts.map(_._2).distinct.size == 1, counts)
    assert(counts.head._2 > 0)
  }
}
