package graft

import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.pipeline.Pipeline
import graft.sources.{Connectors, SyntheticData}

/** Domain-library tests mirroring the reference's own unit tests
  * (tests/test_pipeline.py) plus the SURVEY §7.4 semantics traps. */
class WeatherEnergySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import org.apache.spark.sql.Row

  // — reference test 1: exact C→F scalar cases (tests/test_pipeline.py:9-12)
  test("celsius_to_fahrenheit: 0C=32F, 100C=212F") {
    val s = spark; import s.implicits._
    val r = Seq(0.0, 100.0).toDF("c")
      .select(WeatherOps.celsiusToFahrenheit(col("c")).as("f")).collect().map(_.getDouble(0))
    assert(r.toSeq == Seq(32.0, 212.0))
  }

  // — reference test 2: weather chain on the inline NOAA fixture
  //   (tests/test_pipeline.py:14-26, FIXTURES.md §1: 36.1C→~97F, 25.6C→~78F)
  test("process_weather_data: pivot + conversion + derived col, ±1°F") {
    val s = spark; import s.implicits._
    val raw = Seq(
      (Seq(("2025-07-29T00:00:00", "TMAX", 36.1, "ST", ""),
        ("2025-07-29T00:00:00", "TMIN", 25.6, "ST", "")))).toDF("results")
      .select(col("results").cast(
        "array<struct<date:string,datatype:string,value:double,station:string,attributes:string>>")
        .as("results"))
    val out = WeatherOps.process(WeatherOps.flatten(raw, "TestCity"),
      PipelineOps.dateCitySpine(spark, Seq("TestCity"), "2025-07-29", "2025-07-29")).collect()
    assert(out.length == 1)
    val row = out.head
    assert(math.abs(row.getAs[Double]("temp_max_f") - 97.0) <= 1.0)
    assert(math.abs(row.getAs[Double]("temp_min_f") - 78.0) <= 1.0)
    val avg = row.getAs[Double]("temp_avg_f")
    assert(math.abs(avg - (row.getAs[Double]("temp_max_f") + row.getAs[Double]("temp_min_f")) / 2) < 1e-9)
  }

  // — reference test 3: quality checks on a frame with outliers
  //   (tests/test_pipeline.py:28-46)
  test("quality report counts outliers and nulls; freshness uses injected clock") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("2024-01-01", "X", Some(200.0), Some(10.0), Some(105.0), Some(5.0)),
      ("2024-01-02", "X", None, Some(-60.0), None, Some(-1.0)))
      .toDF("date", "city", "temp_max_f", "temp_min_f", "temp_avg_f", "energy_demand_gwh")
      .withColumn("date", to_date(col("date")))
    val rep = QualityOps.report(df, asOfDate = "2024-01-05")
    assert(rep.row_count == 2)
    assert(rep.temp_outliers_count == 2)   // 200 > 130 and -60 < -50
    assert(rep.negative_energy_count == 1)
    assert(rep.null_counts("temp_max_f") == 1 && rep.null_counts("temp_avg_f") == 1)
    assert(rep.latest_data_date == "2024-01-02" && rep.days_since_latest_data == 3)
  }

  test("quality report tolerates partial frames (weather-only, no date)") {
    val s = spark; import s.implicits._
    val weatherOnly = Seq(("X", Some(200.0)), ("X", None))
      .toDF("city", "temp_max_f") // no date, no temp_min_f, no energy
    val rep = QualityOps.report(weatherOnly, asOfDate = "2024-01-05")
    assert(rep.row_count == 2)
    assert(rep.temp_outliers_count == 1) // counted from the one available bound
    assert(rep.negative_energy_count == 0 && rep.latest_data_date == "")
  }

  // — §7.4 trap 1: NaN/NULL semantics
  test("energy daily sum: all-null day → 0.0, absent day after densify → NULL") {
    val s = spark; import s.implicits._
    val hourly = Seq(
      ("2024-01-01 01:00:00", Some(1.5)), ("2024-01-01 02:00:00", Some(2.5)),
      ("2024-01-02 01:00:00", None), ("2024-01-02 03:00:00", None) // present but all-null
      ).toDF("ts", "value")
      .select(to_timestamp(col("ts")).as("ts"), col("value"), lit("X").as("city"))
    val daily = PipelineOps.densify(EnergyOps.resampleDaily(hourly),
      PipelineOps.dateCitySpine(spark, Seq("X"), "2024-01-01", "2024-01-03"))
      .orderBy("date").collect()
    assert(daily(0).getAs[Double]("energy_demand_gwh") == 4.0)
    assert(daily(1).getAs[Double]("energy_demand_gwh") == 0.0) // all-null day: pandas sum semantics
    assert(daily(2).isNullAt(daily(2).fieldIndex("energy_demand_gwh"))) // absent day: NULL
  }

  test("rowwise mean skips nulls; strict (a+b)/2 propagates them") {
    val s = spark; import s.implicits._
    val df = Seq((Some(10.0), Some(20.0)), (Some(10.0), None), (None, None))
      .toDF("a", "b")
      .select(WeatherOps.rowwiseAvg(col("a"), col("b")).as("skipna"),
        ((col("a") + col("b")) / 2).as("strict"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) == 15.0 && rows(0).getDouble(1) == 15.0)
    assert(rows(1).getDouble(0) == 10.0 && rows(1).isNullAt(1)) // skipna keeps, strict nulls
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
  }

  // — §7.4 trap 2: imputation must be per-city
  test("imputation uses per-city means, not the global mean") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("A", Some(10.0)), ("A", None), ("B", Some(50.0)), ("B", Some(70.0)), ("B", None))
      .toDF("city", "temp_max_f")
    val out = WeatherOps.imputePerCity(df, Seq("temp_max_f"))
      .groupBy("city").agg(sum("temp_max_f").as("s")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("A") == 20.0) // null imputed with A's mean 10, NOT global
    assert(out("B") == 180.0) // null imputed with B's mean 60
  }

  test("EIA flatten casts null-on-error; densify+resample end-to-end") {
    val raw = SyntheticData.eiaRawJson(spark, "2024-01-01", nDays = 3)
    val flat = EnergyOps.flatten(raw, "X")
    assert(flat.filter(col("value").isNull).count() == 1) // the planted "not-a-number"
    val out = EnergyOps.process(flat, PipelineOps.dateCitySpine(spark, Seq("X"), "2024-01-01", "2024-01-03"))
    assert(out.count() == 3)
    assert(out.filter(col("energy_demand_gwh").isNull).count() == 0)
  }

  // — E2E minimum slice (SURVEY §7.2): raw payloads → fact table → quality
  test("pipeline E2E: 2 cities × 30 days → 60 rows, correct schema, sinks written") {
    val noaa = SyntheticData.noaaRawJson(spark, "2024-01-01", 30)
    val eia = SyntheticData.eiaRawJson(spark, "2024-01-01", 30)
    val raw = Seq(("CityA", noaa, eia), ("CityB", noaa, eia))
    val out = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val today = LocalDate.parse("2024-01-31")
    val (start, end) = Pipeline.dateWindow(Pipeline.Historical, today)
    assert(end == "2024-01-30" && start == "2023-08-04")
    val rep = Pipeline.run(spark, raw, Pipeline.Realtime, today, out)
    assert(rep.row_count == 2) // realtime = yesterday only × 2 cities
    val fact = Pipeline.build(spark, raw, "2024-01-01", "2024-01-30")
    assert(fact.count() == 60)
    assert(fact.columns.toSet ==
      Set("date", "city", "temp_max_f", "temp_min_f", "temp_avg_f", "energy_demand_gwh"))
    val parquet = spark.read.parquet(s"$out/weather_energy_parquet")
    assert(parquet.count() == 2)
    assert(parquet.select("city").distinct().count() == 2) // partitioned by city
  }

  // — analytics: lag rewrite of the reference's self-join
  test("latestWithPrevDay: lag + pct change with zero-guard") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("2024-01-01", "A", 100.0), ("2024-01-02", "A", 150.0),
      ("2024-01-01", "B", 50.0))
      .toDF("date", "city", "energy_demand_gwh")
      .withColumn("date", to_date(col("date")))
    val out = Analytics.latestWithPrevDay(df).collect()
      .map(r => r.getAs[String]("city") -> r).toMap
    assert(out("A").getAs[Double]("pct_change") == 50.0)
    assert(out("B").getAs[Double]("pct_change") == 0.0) // no prev day → fillna(0) → guard → 0
  }

  test("timeSeries diff: year-partitioned lag matches the global diff across boundaries") {
    val s = spark; import s.implicits._
    // daily series spanning a year boundary; values chosen so every
    // first-difference is distinct and sign-mixed
    val days = Seq(
      ("2023-12-29", 40.0, 100.0), ("2023-12-30", 42.0, 90.0),
      ("2023-12-31", 39.0, 95.0), ("2024-01-01", 45.0, 120.0),
      ("2024-01-02", 44.0, 80.0))
    val fact = days.map { case (d, t, e) => (d, "X", t, e) }
      .toDF("date", "city", "temp_avg_f", "energy_demand_gwh")
      .withColumn("date", to_date(col("date")))
    val out = Analytics.timeSeries(fact, diff = true).collect()
    // first row drops (no predecessor); 2024-01-01 must diff against
    // 2023-12-31 — the carry row across the year partition boundary
    assert(out.length == days.length - 1)
    val expected = days.sliding(2).map { case Seq((_, t0, e0), (d1, t1, e1)) =>
      (d1, t1 - t0, e1 - e0) }.toSeq
    val got = out.map(r => (r.getAs[java.sql.Date]("date").toString,
      r.getAs[Double]("temp_avg_f"), r.getAs[Double]("energy_demand_gwh"))).toSeq
    assert(got == expected, s"got $got expected $expected")
    // and the window is partitioned — no single-partition WindowExec
    val plan = Analytics.timeSeries(fact, diff = true).queryExecution
      .optimizedPlan.toString()
    assert(!plan.contains("windowspecdefinition(date"),
      "diff window must not be globally ordered without a partition key")
    // a calendar-year GAP must still diff across it (the carry targets
    // the next year present in the data, not yr + 1)
    val gapDays = Seq(("2022-12-30", 10.0, 1.0), ("2022-12-31", 12.0, 3.0),
      ("2024-01-01", 20.0, 7.0), ("2024-01-02", 25.0, 6.0))
    val gapFact = gapDays.map { case (d, t, e) => (d, "X", t, e) }
      .toDF("date", "city", "temp_avg_f", "energy_demand_gwh")
      .withColumn("date", to_date(col("date")))
    val gapOut = Analytics.timeSeries(gapFact, diff = true).collect()
      .map(r => (r.getAs[java.sql.Date]("date").toString,
        r.getAs[Double]("temp_avg_f"), r.getAs[Double]("energy_demand_gwh"))).toSeq
    assert(gapOut == Seq(("2022-12-31", 2.0, 2.0), ("2024-01-01", 8.0, 4.0),
      ("2024-01-02", 5.0, -1.0)), s"gap diff wrong: $gapOut")
  }

  test("temperature bins are left-closed with <50°F included; NULL stays NULL") {
    val s = spark; import s.implicits._
    val out = Seq(Some(49.9), Some(50.0), Some(59.999), Some(60.0), Some(95.0), None).toDF("t")
      .select(Analytics.temperatureBin(col("t")).as("bin")).collect()
    assert(out.take(5).map(_.getString(0)).toSeq ==
      Seq("<50°F", "50-60°F", "50-60°F", "60-70°F", ">90°F"))
    assert(out(5).isNullAt(0)) // missing reading is NOT the hottest bin
  }

  test("OLS summary + CI bands match closed-form on a known dataset") {
    val s = spark; import s.implicits._
    // y = 2x + 1 + noise-free on x=1..5 with one outlier at x=3
    val data = Seq((1.0, 3.0), (2.0, 5.0), (3.0, 8.0), (4.0, 9.0), (5.0, 11.0))
    val df = data.toDF("x", "y")
    val sm = Analytics.olsSummary(df, "x", "y").get
    // closed form: n=5, x̄=3, Sxx=10, Sxy=20, slope=2, intercept=1.2
    assert(sm.n == 5 && math.abs(sm.slope - 2.0) < 1e-12)
    assert(math.abs(sm.intercept - 1.2) < 1e-12)
    assert(math.abs(sm.sxx - 10.0) < 1e-12 && math.abs(sm.xMean - 3.0) < 1e-12)
    // SSE = Syy - slope*Sxy = 40.8 - 40 = 0.8; s = sqrt(0.8/3)
    assert(math.abs(sm.residStdErr - math.sqrt(0.8 / 3)) < 1e-12)
    val bands = Analytics.olsCiBands(df, "x", "y").get.collect()
      .map(r => r.getAs[Double]("x") -> r).toMap
    val t = graft.functions.Stats.tQuantile(0.975, 3) // 3.1824463...
    val se3 = math.sqrt(0.8 / 3) * math.sqrt(1.0 / 5 + 0.0 / 10)
    assert(math.abs(bands(3.0).getAs[Double]("y_hat") - 7.2) < 1e-9)
    assert(math.abs(bands(3.0).getAs[Double]("ci_upper") - (7.2 + t * se3)) < 1e-9)
    assert(math.abs(bands(3.0).getAs[Double]("ci_lower") - (7.2 - t * se3)) < 1e-9)
    // CI is narrowest at x̄
    val widths = bands.map { case (x, r) =>
      x -> (r.getAs[Double]("ci_upper") - r.getAs[Double]("ci_lower")) }
    assert(widths.minBy(_._2)._1 == 3.0)
  }

  test("degenerate OLS input (<2 rows) returns None") {
    val s = spark; import s.implicits._
    assert(Analytics.olsSummary(Seq((1.0, 1.0)).toDF("x", "y"), "x", "y").isEmpty)
  }

  test("connector: retry/backoff plan and EIA pagination plan") {
    var calls = 0
    var sleeps = List.empty[Long]
    val failing: java.net.http.HttpRequest => java.net.http.HttpResponse[String] =
      _ => { calls += 1; throw new RuntimeException("boom") }
    val r = Connectors.fetchWithRetries("http://localhost/x", maxRetries = 3,
      sleep = s => sleeps = sleeps :+ s, transport = Some(failing))
    assert(r.isEmpty && calls == 3)
    assert(sleeps == List(4000L, 8000L)) // 2·2^1, 2·2^2 seconds
    assert(Connectors.pagePlan(12000, 5000) == Seq(0L, 5000L, 10000L))
    assert(Connectors.pagePlan(0) == Seq.empty)
    assert(Connectors.noaaUrl("http://api", "GHCND:X", "2024-01-01", "2024-01-31")
      .contains("datatypeid=TMAX&datatypeid=TMIN"))
  }

  test("heatmap: bins × weekday pivot with zero-fill and descending bin order") {
    val fact = SyntheticData.weatherEnergy(spark, "2024-01-01", nDays = 60, nullRate = 0.0)
    val hm = Analytics.heatmap(fact)
    val cols = hm.columns
    assert(cols.head == "temp_range")
    assert(cols.contains("Monday") && cols.contains("Sunday"))
    val bins = hm.select("temp_range").collect().map(_.getString(0))
    // descending order per the reference
    val ranks = bins.map(Analytics.defaultBinLabels.indexOf)
    assert(ranks.sameElements(ranks.sorted.reverse))
  }
}
