package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Date
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.domain.Schemas
import graft.operators.{Analytics, PipelineOps, QualityOps}
import graft.pipeline.Pipeline
import graft.sources.Sinks

/** The serving cycle: the daily refresh (`Pipeline.run` in realtime
  * mode) followed by the six dashboard panels, called the way the
  * dashboard calls them. It must stay within a job budget, a steady
  * cycle must find its generated code in Spark's codegen cache, and the
  * quality report's generated code must not depend on the day. The
  * rewritten panels are checked against their earlier formulations on
  * random inputs. */
class ServeCycleSpec extends AnyFunSuite with SparkFixture {

  private val city = "Springfield"
  private val firstDay = LocalDate.parse("2025-03-01")
  private val backfillDays = 30 // payload days; the historical run pads its 180-day window
  private val panelDays = 90

  /** Writes one day's NOAA and EIA payloads as JSON files, the way the
    * connectors land them. */
  private def land(raw: Path, day: LocalDate): Unit = {
    val i = day.toEpochDay
    val tmax = 15.0 + (i * 7 % 23)
    val noaa = Seq(("TMAX", tmax), ("TMIN", tmax - 9.0)).map { case (t, v) =>
      s"""{"date":"${day}T00:00:00","datatype":"$t","value":$v,"station":"ST","attributes":""}"""
    }.mkString("""{"results":[""", ",", "]}")
    val eia = (0 until 24).map { h =>
      val v = if ((i + h) % 31 == 0) "n/a" else f"${1.0 + ((i * 13 + h) % 17) / 10.0}%.2f"
      f"""{"period":"${day}T$h%02d","respondent":"R","value":"$v"}"""
    }.mkString("""{"response":{"total":"24","data":[""", ",", "]}}")
    Seq("noaa" -> noaa, "eia" -> eia).foreach { case (kind, json) =>
      val dir = Files.createDirectories(raw.resolve(kind))
      Files.write(dir.resolve(s"$day.json"), json.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** The landed payloads under `raw` for the one city. */
  private def rawFrames(raw: Path, glob: String): Seq[(String, DataFrame, DataFrame)] = Seq((city,
    Sinks.readFormatted(spark, raw.resolve(s"noaa/$glob").toString, "json", Some(Schemas.noaaRaw)),
    Sinks.readFormatted(spark, raw.resolve(s"eia/$glob").toString, "json", Some(Schemas.eiaRaw))))

  /** Counts the jobs of the serving cycle's job group, stage jobs of
    * adaptive execution included, so that a job another spec left
    * running in the shared session is not counted. `jobs` drains the
    * listener bus first. */
  private object Jobs extends SparkListener {
    val group = "serve_cycle"
    private val n = new AtomicInteger()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    def jobs: Int = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      n.get
    }
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Serving cycle `k`: land day `k` after the payload days, refresh
    * it, load the sink and run the six panels. Returns the jobs of the
    * refresh and of the panels. */
  private def cycle(raw: Path, out: Path, k: Int): (Int, Int) = {
    val day = firstDay.plusDays(backfillDays - 1L + k)
    land(raw, day)
    val j0 = Jobs.jobs
    Pipeline.run(spark, rawFrames(raw, s"$day.json"), Pipeline.Realtime, day.plusDays(1), out.toString)
    val df = Sinks.readFormatted(spark, out.resolve("weather_energy_parquet").toString)
    val j1 = Jobs.jobs
    val recent = df.filter(col("date") >= lit(day.minusDays(panelDays - 1L).toString))
    Analytics.latestWithPrevDay(df).collect()
    assert(Analytics.timeSeries(recent, diff = true).collect().length == backfillDays + k - 1)
    Analytics.heatmap(recent).collect()
    assert(Analytics.olsCiBands(df.filter(col("city") === city), "temp_avg_f", "energy_demand_gwh")
      .exists(_.collect().nonEmpty))
    assert(QualityOps.qualityTimeSeries(df).collect().length == 180 + k) // the historical window
    QualityOps.problemRows(df).collect()
    (j1 - j0, Jobs.jobs - j1)
  }

  test("a serving cycle stays within its job budget, and a steady cycle compiles little") {
    val root = Scratch.dir("serve_cycle")
    val (raw, out) = (root.resolve("raw"), root.resolve("out"))
    (0 until backfillDays).foreach(d => land(raw, firstDay.plusDays(d.toLong)))
    val end = firstDay.plusDays(backfillDays - 1L)
    Pipeline.run(spark, rawFrames(raw, "*.json"), Pipeline.Historical, end.plusDays(1), out.toString)
    val sc = spark.sparkContext
    sc.addSparkListener(Jobs)
    sc.setJobGroup(Jobs.group, "serving cycle")
    try {
      (1 to 3).foreach { k =>
        val c0 = compiles
        val (refreshJobs, panelJobs) = cycle(raw, out, k)
        assert(refreshJobs <= 10, s"the refresh of cycle $k ran $refreshJobs jobs")
        assert(panelJobs <= 12, s"the six panels of cycle $k ran $panelJobs jobs")
        // the third cycle runs the code of the second, held in Spark's
        // codegen cache (100 entries in 4 segments of 25, keyed by class
        // and class loader). When the cycle's keys fit, only the classes
        // holding the new day's date literals compile again (6); a
        // segment the keys overflow, which depends on the loaders' hash
        // codes, recompiles its keys every cycle (about 25 more). A
        // cycle that does not fit the cache recompiles nearly all its
        // classes, well over 100.
        if (k == 3) assert(compiles - c0 <= 75, s"cycle $k compiled ${compiles - c0} classes")
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(Jobs)
    }
  }

  test("the quality report's code does not depend on the as-of date") {
    val s = spark; import s.implicits._
    val fact = Seq(("2024-03-04", "A", 10.0), ("2024-03-05", "A", 11.0)).toDF("date", "city", "temp_max_f")
      .withColumn("date", to_date(col("date")))
    assert(QualityOps.report(fact, "2024-03-07").days_since_latest_data == 2)
    val c0 = compiles
    val later = QualityOps.report(fact, "2024-04-01")
    assert(compiles == c0, "a new as-of date compiled new code")
    assert(later.days_since_latest_data == 27 && later.latest_data_date == "2024-03-05")
    val empty = QualityOps.report(fact.limit(0), "2024-04-01")
    assert(empty.latest_data_date == "" && empty.days_since_latest_data == 0)
    val undated = QualityOps.report(fact.drop("date"), "2024-04-01")
    assert(undated.latest_data_date == "" && undated.days_since_latest_data == 0)
  }

  test("an upsert replaces its window of the sink, and one without a window is refused") {
    val s = spark; import s.implicits._
    def fact(rows: (String, String, Double)*): DataFrame =
      rows.toDF("date", "city", "energy_demand_gwh").withColumn("date", to_date(col("date")))
    val sink = Scratch.dir("window_merge").resolve("weather_energy_parquet").toString
    PipelineOps.writePartitioned(fact(("2024-03-01", "A", 1.0), ("2024-03-02", "A", 2.0),
      ("2024-03-03", "A", 3.0), ("2024-03-01", "B", 4.0)), sink)
    // A's days 03-02 .. 03-03 become the one row given for them; the
    // rest of A and all of B are kept
    PipelineOps.writePartitioned(fact(("2024-03-02", "A", 20.0)), sink,
      Some((Seq("A"), "2024-03-02", "2024-03-03")))
    assert(spark.read.parquet(sink).select("date", "city", "energy_demand_gwh").collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getDouble(2))).toSeq.sorted ==
      Seq(("2024-03-01", "A", 1.0), ("2024-03-01", "B", 4.0), ("2024-03-02", "A", 20.0)))
    val e = intercept[IllegalArgumentException](
      PipelineOps.writePartitioned(fact(("2024-03-04", "A", 5.0)), sink))
    assert(e.getMessage.contains(sink) && e.getMessage.contains("window"), e.getMessage)
  }

  // ---- the rewritten panels against their earlier formulations ----------

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  /** Fact rows over `cities`, one per (date, city) on the given day
    * offsets from 2021-12-20, with NULL temperatures and energy. */
  private def factGen(cities: Seq[String], maxDay: Int, maxRows: Int): Gen[DataFrame] = for {
    n <- Gen.chooseNum(1, maxRows)
    keys <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, maxDay), Gen.oneOf(cities)))
    vals <- Gen.listOfN(n, Gen.zip(Gen.option(Gen.chooseNum(20.0, 100.0)), Gen.option(Gen.chooseNum(-5.0, 50.0))))
  } yield {
    val s = spark; import s.implicits._
    val start = LocalDate.parse("2021-12-20")
    keys.distinct.zip(vals).map { case ((d, c), (t, e)) =>
      (Date.valueOf(start.plusDays(d.toLong)), c, t, e)
    }.toDF("date", "city", "temp_avg_f", "energy_demand_gwh")
  }

  /** Rows as sorted cell lists; doubles compared to 1e-9 relative. */
  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    def cells(df: DataFrame) = df.collect().toSeq.map(_.toSeq.map {
      case d: Date => d.toString
      case v => v
    }).sortBy(_.mkString("|"))
    val (g, w) = (cells(got), cells(want.select(got.columns.map(col).toSeq: _*)))
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(g.size == w.size, s"${g.size} rows, expected ${w.size}: $g vs $w")
    g.zip(w).foreach { case (a, b) =>
      assert(a.zip(b).forall {
        case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
        case (x, y) => x == y
      }, s"row $a expected $b")
    }
  }

  test("heatmap equals the pivot formulation (property)") {
    samples(factGen(Seq("A", "B"), 40, 60), 12).foreach { fact =>
      val dayOrder = Seq("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")
      val pivoted = fact.na.drop(Seq("temp_avg_f", "energy_demand_gwh"))
        .withColumn("temp_range", Analytics.temperatureBin(col("temp_avg_f")))
        .withColumn("day_of_week", date_format(col("date"), "EEEE"))
        .groupBy("temp_range").pivot("day_of_week", dayOrder).agg(avg("energy_demand_gwh"))
        .na.fill(0.0, dayOrder)
      val got = Analytics.heatmap(fact)
      assertSameRows(got, pivoted)
      val ranks = got.collect().map(r => Analytics.defaultBinLabels.indexOf(r.getString(0))).toSeq
      assert(ranks == ranks.sorted.reverse)
    }
  }

  test("timeSeries diff equals a global-window diff on gappy multi-year series (property)") {
    // day offsets over ~4 years; sparse draws leave whole years out
    samples(Gen.oneOf(factGen(Seq("A", "B"), 1500, 40), factGen(Seq("A"), 1500, 1)), 14).foreach { fact =>
      val daily = fact.groupBy("date")
        .agg(avg("temp_avg_f").as("temp_avg_f"), sum("energy_demand_gwh").as("energy_demand_gwh"))
      val w = Window.orderBy("date")
      val global = daily
        .select(col("date"),
          (col("temp_avg_f") - lag("temp_avg_f", 1).over(w)).as("temp_avg_f"),
          (col("energy_demand_gwh") - lag("energy_demand_gwh", 1).over(w)).as("energy_demand_gwh"))
        .na.drop(Seq("temp_avg_f", "energy_demand_gwh"))
      val got = Analytics.timeSeries(fact, diff = true)
      assertSameRows(got, global)
      val dates = got.collect().map(_.getDate(0).toString).toSeq
      assert(dates == dates.sorted)
    }
  }

  test("build equals the join of the densified weather and energy sides (property)") {
    val s = spark; import s.implicits._
    val first = LocalDate.parse("2024-03-01")
    def day(d: Int) = first.plusDays(d.toLong)
    // readings over days -1 .. 12 around a window of days 1 .. 10: gaps,
    // repeated and foreign datatypes, unparseable and missing hours
    val noaaGen = Gen.listOf(Gen.zip(Gen.chooseNum(-1, 12), Gen.oneOf("TMAX", "TMIN", "PRCP"),
      Gen.chooseNum(-20.0, 40.0)))
    val eiaGen = Gen.listOf(Gen.zip(Gen.chooseNum(-1, 12), Gen.chooseNum(0, 23),
      Gen.oneOf(Gen.chooseNum(-2.0, 9.0).map(_.toString), Gen.const("n/a"), Gen.const(""))))
    val cityGen = Gen.zip(noaaGen, eiaGen)
    samples(Gen.zip(cityGen, cityGen, Gen.oneOf(1, 10)), 10).foreach { case (a, b, lastDay) =>
      val raw = Seq("A" -> a, "B" -> b).map { case (city, (readings, hours)) =>
        val noaa = readings.map { case (d, t, v) =>
          s"""{"date":"${day(d)}T00:00:00","datatype":"$t","value":$v,"station":"ST","attributes":""}"""
        }.mkString("""{"results":[""", ",", "]}")
        val eia = hours.map { case (d, h, v) => f"""{"period":"${day(d)}T$h%02d","respondent":"R","value":"$v"}""" }
          .mkString(s"""{"response":{"total":"${hours.size}","data":[""", ",", "]}}")
        (city, spark.read.schema(Schemas.noaaRaw).json(Seq(noaa).toDS),
          spark.read.schema(Schemas.eiaRaw).json(Seq(eia).toDS))
      }
      val (start, end) = (day(1).toString, day(lastDay).toString)
      val joined = PipelineOps.deriveTempAvg(PipelineOps.joinWeatherEnergy(
        Pipeline.buildWeather(raw, start, end), Pipeline.buildEnergy(raw, start, end)))
      assertSameRows(Pipeline.build(spark, raw, start, end), joined)
    }
  }

  test("latestWithPrevDay equals the two-window formulation (property)") {
    samples(Gen.oneOf(factGen(Seq("A", "B", "C"), 30, 40), factGen(Seq("A"), 30, 1)), 12).foreach { fact =>
      val asc = Window.partitionBy("city").orderBy(col("date"))
      val desc = Window.partitionBy("city").orderBy(col("date").desc)
      val twoWindows = fact
        .withColumn("prev_energy", lag("energy_demand_gwh", 1).over(asc))
        .withColumn("rn", row_number().over(desc))
        .filter(col("rn") === 1).drop("rn")
        .withColumn("prev_energy", coalesce(col("prev_energy"), lit(0.0)))
        .withColumn("pct_change",
          when(col("prev_energy") > 0,
            (col("energy_demand_gwh") - col("prev_energy")) / col("prev_energy") * 100).otherwise(0.0))
      assertSameRows(Analytics.latestWithPrevDay(fact), twoWindows)
    }
  }
}
