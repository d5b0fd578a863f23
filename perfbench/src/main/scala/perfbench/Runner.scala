package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.config.PipelineConfig
import graft.domain.{QualityReport, Schemas}
import graft.operators.{Analytics, PipelineOps, QualityOps}
import graft.pipeline.Pipeline
import graft.sources.Sinks

/** One dashboard panel: how the program computes it, the columns the
  * check reads, and the oracle's answer over the sink's rows. */
final case class Panel(name: String, run: (DataFrame, Runner.PanelCtx) => Option[Array[Row]],
    cols: Seq[String], want: (Seq[FactRow], Runner.PanelCtx) => Option[Vector[Vector[Any]]])

/** Runs one workload in a live session: backfill phase, then serving
  * cycles, timing each operation and checking each output against the
  * oracle. Timing samples land in `samples`; every checked operation
  * counts toward `attempted`, and a wrong or failed one toward `failed`. */
final class Runner(spark: SparkSession, val w: Workload, seed: Long, rec: Recorder, work: Path,
    log: String => Unit) {
  import Runner._

  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private val cfg = PipelineConfig.default

  def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  /** Time `body` in seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** CPU seconds the whole JVM (every thread) has used so far. */
  def cpuS: Double = Runner.os.getProcessCpuTime / 1e9

  /** Count one checked operation; a thrown error or a mismatch fails it. */
  def check(label: String)(body: => Option[String]): Boolean = {
    attempted += 1
    val err = try body catch { case e: Throwable => Some(s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    err.foreach { m =>
      failed += 1
      if (failures.size < 20) failures += m
      log(s"CHECK FAILED $m")
    }
    err.isEmpty
  }

  // ---- raw zone ----------------------------------------------------------

  val rawDir: Path = work.resolve("raw")

  def land(dir: Path, start: LocalDate, end: LocalDate): Vector[Gen.Landed] =
    Gen.land(seed, w.cityIdxs, start, end, dir)

  def rawFrames(dir: Path, start: LocalDate, end: LocalDate): Seq[(String, DataFrame, DataFrame)] =
    w.cityNames.map { c =>
      (c,
        Sinks.readFormatted(spark, Gen.pageGlob(dir, "weather", c, start, end), "json", Some(Schemas.noaaRaw)),
        Sinks.readFormatted(spark, Gen.pageGlob(dir, "energy", c, start, end), "json", Some(Schemas.eiaRaw)))
    }

  // ---- backfill ------------------------------------------------------------

  /** EIA hourly records landed for the backfill window. */
  def eiaRecords: Long =
    w.cityIdxs.map(ci => Gen.days(w.start, w.end).map(d => Gen.day(seed, ci, d).eia.size.toLong).sum).sum

  lazy val expectedFact: Vector[FactRow] = Oracle.fact(seed, w.cityIdxs, w.start, w.end)

  /** Raw files to fact, quality report and both sinks. */
  def backfill(out: Path): QualityReport = rec.span("backfill") {
    val raw = rec.span("sources.raw_read")(rawFrames(rawDir, w.start, w.end))
    val fact = rec.span("pipeline.build")(Pipeline.build(spark, raw, w.start.toString, w.end.toString).persist())
    try {
      val report = rec.span("quality.report")(QualityOps.report(fact, Workload.Today.toString, cfg))
      rec.span("sink.parquet")(PipelineOps.writePartitioned(fact, out.resolve(ParquetDir).toString))
      rec.span("sink.csv")(PipelineOps.writeCsv(fact, out.resolve(CsvDir).toString))
      report
    } finally fact.unpersist()
  }

  def runBackfill(out: Path): Unit = {
    deleteTree(out)
    val c0 = cpuS
    val (report, s) = try timed(backfill(out)) catch {
      case e: Throwable => check("backfill")(Some(s"backfill: $e")); return
    }
    sample("backfill_cpu_s", cpuS - c0)
    sample("backfill_s", s)
    checkBackfill(out, report)
  }

  /** Check a backfill's report and CSV sink; its parquet sink is checked
    * through the dashboard loads that follow. */
  def checkBackfill(out: Path, report: QualityReport): Boolean = {
    sinkModel.clear()
    sinkModel ++= expectedFact
    check("backfill") {
      diffReport(report, Oracle.report(expectedFact, Workload.Today), weatherOnly = false)
        .orElse(Oracle.diff("backfill csv", readCsv(out.resolve(CsvDir)), expectedFact.map(Oracle.factCells)))
    }
  }

  // ---- serving ---------------------------------------------------------------

  /** Rows the parquet sink should hold: the backfill plus every refreshed day. */
  val sinkModel: mutable.ArrayBuffer[FactRow] = mutable.ArrayBuffer.empty
  private var loaded: Option[DataFrame] = None

  /** One serving cycle: land day `k` (untimed), refresh, load, then
    * `viewers` viewers each run the six panels. */
  def cycle(out: Path, k: Int, viewers: Int = Workload.Viewers): Unit = {
    val today = Workload.Today.plusDays(k.toLong)
    val day = today.minusDays(1)
    land(rawDir, day, day)
    var busy = 0.0 // refresh, load and panels: the cycle's user-visible time
    var busyCpu = 0.0
    var c0 = cpuS
    val rt = try timed(rec.span("refresh") {
      val raw = rec.span("sources.raw_read")(rawFrames(rawDir, day, day))
      rec.span("pipeline.run")(Pipeline.run(spark, raw, Pipeline.Realtime, today, out.toString, cfg))
    }) catch { case e: Throwable => check("refresh")(Some(s"refresh: $e")); return }
    sample("refresh_s", rt._2)
    busy += rt._2
    busyCpu += cpuS - c0
    val fresh = Oracle.fact(seed, w.cityIdxs, day, day)
    val weatherOnly = fresh.forall(_.energy.isEmpty)
    check("refresh") {
      if (weatherOnly) {
        val wo = fresh.map(Oracle.weatherOnly)
        diffReport(rt._1, Oracle.report(wo, today, withEnergy = false), weatherOnly = true)
          .orElse(Oracle.diff("refresh csv", readCsv(out.resolve(WeatherCsvDir)), wo.map(Oracle.factCells)))
      } else {
        diffReport(rt._1, Oracle.report(fresh, today), weatherOnly = false)
          .orElse(Oracle.diff("refresh csv", readCsv(out.resolve(CsvDir)), fresh.map(Oracle.factCells)))
      }
    }
    if (!weatherOnly) {
      val keys = fresh.map(r => (r.date, r.city)).toSet
      sinkModel.filterInPlace(r => !keys((r.date, r.city)))
      sinkModel ++= fresh
    }
    val model = sinkModel.toVector
    for (v <- 0 until viewers) {
      c0 = cpuS
      val (df, ls) = try timed(rec.span("load")(Sinks.readFormatted(spark, out.resolve(ParquetDir).toString)))
        catch { case e: Throwable => check("load")(Some(s"load: $e")); return }
      sample("load_s", ls)
      busy += ls
      busyCpu += cpuS - c0
      if (rec.enabled) sample("load.files_listed", df.inputFiles.length.toDouble)
      loaded = Some(df)
      val ctx = PanelCtx(day.minusDays(Workload.PanelDays - 1L),
        w.cityNames((k * viewers + v) % w.cityNames.size))
      Panels.foreach { p =>
        try {
          c0 = cpuS
          val (rows, ms) = timed(rec.span(s"query.${p.name}")(p.run(df, ctx)))
          busyCpu += cpuS - c0
          sample("query_ms", ms * 1000)
          busy += ms
          sample(s"query.${p.name}_ms", ms * 1000)
          check(s"panel ${p.name}") {
            (rows, p.want(model, ctx)) match {
              case (None, None) => None
              case (Some(got), Some(want)) => Oracle.diff(s"panel ${p.name}", got.toSeq.map(cells(_, p.cols)), want)
              case (g, x) => Some(s"panel ${p.name}: got ${g.map(_.length)} rows, expected ${x.map(_.size)}")
            }
          }
        } catch { case e: Throwable => check(s"panel ${p.name}")(Some(s"panel ${p.name}: $e")) }
      }
    }
    sample("serve_s", busy)
    sample("serve_cpu_s", busyCpu)
  }

  /** The whole parquet sink, read back once, against the model. */
  def checkSinkContent(): Unit = loaded.foreach { df =>
    check("sink content") {
      Oracle.diff("parquet sink", df.collect().toSeq.map(cells(_, Oracle.FactCols)),
        sinkModel.toVector.map(Oracle.factCells))
    }
  }

  // ---- traced-only detail -------------------------------------------------------

  /** Per-layer detail the backfill cannot show from outside one call:
    * build and planning on their own, each side of the join
    * materialised alone, and a scan of the raw zone. Runs after the
    * timed phases, in its own spans. */
  def explain(): Map[String, Double] = rec.span("explain") {
    val raw = rawFrames(rawDir, w.start, w.end)
    val (fact, buildS) = timed(rec.span("pipeline.build")(Pipeline.build(spark, raw, w.start.toString, w.end.toString)))
    val (plan, planS) = timed(rec.span("pipeline.plan")(fact.queryExecution.executedPlan))
    val (nodes, exchanges) = PlanShape.count(plan)
    val s = w.start.toString
    val e = w.end.toString
    val (weatherRows, weatherS) = timed(rec.span("weather.exec")(Pipeline.buildWeather(raw, s, e).count()))
    val (energyRows, energyS) = timed(rec.span("energy.exec")(Pipeline.buildEnergy(raw, s, e).count()))
    val (joinRows, joinS) = timed(rec.span("join.exec")(fact.count()))
    val (_, scanS) = timed(rec.span("sources.raw_scan")(raw.foreach { case (_, n, en) => n.count(); en.count() }))
    Map(
      "pipeline.build_s" -> buildS, "pipeline.plan_s" -> planS,
      "pipeline.plan_nodes" -> nodes.toDouble, "pipeline.plan_exchanges" -> exchanges.toDouble,
      "weather.exec_s" -> weatherS, "weather.rows_out" -> weatherRows.toDouble,
      "energy.exec_s" -> energyS, "energy.rows_out" -> energyRows.toDouble,
      "join.exec_s" -> joinS, "join.rows_out" -> joinRows.toDouble,
      "join.rows_lost" -> (math.max(weatherRows, energyRows) - joinRows).toDouble,
      "sources.raw_scan_s" -> scanS)
  }

  // ---- checks --------------------------------------------------------------------

  private def diffReport(got: QualityReport, want: ExpectedReport, weatherOnly: Boolean): Option[String] = {
    val g = (got.row_count, got.null_counts, got.temp_outliers_count, got.negative_energy_count,
      got.latest_data_date, got.days_since_latest_data, got.weather_only)
    val x = (want.rowCount, want.nullCounts, want.tempOutliers, want.negativeEnergy,
      want.latestDate, want.daysSince, weatherOnly)
    if (g == x) None else Some(s"quality report $g, expected $x")
  }
}

object Runner {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  val ParquetDir = "weather_energy_parquet"
  val CsvDir = "weather_energy_csv"
  val WeatherCsvDir = "weather_csv"

  /** What a panel looks at: the first day of its trailing window and
    * the city of the regression panel. */
  final case class PanelCtx(since: LocalDate, city: String)

  private def recent(df: DataFrame, c: PanelCtx): DataFrame = df.filter(col("date") >= lit(c.since.toString))
  private def recent(m: Seq[FactRow], c: PanelCtx): Seq[FactRow] = m.filter(!_.date.isBefore(c.since))
  private val cfg = PipelineConfig.default

  val Panels: Vector[Panel] = Vector(
    Panel("latest", (df, _) => Some(Analytics.latestWithPrevDay(df).collect()),
      Seq("city", "date", "energy_demand_gwh", "prev_energy", "pct_change"),
      (m, _) => Some(Oracle.latest(m))),
    Panel("ts_diff", (df, c) => Some(Analytics.timeSeries(recent(df, c), diff = true).collect()),
      Seq("date", "temp_avg_f", "energy_demand_gwh"),
      (m, c) => Some(Oracle.tsDiff(recent(m, c)))),
    Panel("heatmap", (df, c) => Some(Analytics.heatmap(recent(df, c)).collect()),
      "temp_range" +: Oracle.DayNames,
      (m, c) => Some(Oracle.heatmap(recent(m, c)))),
    Panel("ols_ci", (df, c) =>
        Analytics.olsCiBands(df.filter(col("city") === c.city), "temp_avg_f", "energy_demand_gwh").map(_.collect()),
      Seq("x", "y_hat", "ci_lower", "ci_upper"),
      (m, c) => Oracle.olsCi(m.filter(_.city == c.city))),
    Panel("quality_ts", (df, _) => Some(QualityOps.qualityTimeSeries(df, cfg).collect()),
      Seq("date", "missing_total", "temp_outliers", "negative_energy"),
      (m, _) => Some(Oracle.qualityTs(m))),
    Panel("problems", (df, _) => Some(QualityOps.problemRows(df, cfg).collect()),
      Oracle.FactCols,
      (m, _) => Some(Oracle.problems(m))))

  /** Cells of `row` in `cols` order, with dates as ISO strings and
    * integral numbers as Long. */
  def cells(row: Row, cols: Seq[String]): Vector[Any] = cols.toVector.map { c =>
    row.getAs[Any](c) match {
      case null => null
      case d: java.sql.Date => d.toLocalDate.toString
      case d: LocalDate => d.toString
      case i: java.lang.Integer => i.longValue
      case v => v
    }
  }

  /** Rows of the CSV files Spark wrote into `dir`, as fact cells
    * (columns absent from the file read as NULL). */
  def readCsv(dir: Path): Vector[Vector[Any]] = {
    val files = Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-") && p.getFileName.toString.endsWith(".csv"))
      .toVector.sortBy(_.toString)
    files.flatMap { f =>
      val lines = Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toVector.filter(_.nonEmpty)
      if (lines.isEmpty) Vector.empty
      else {
        val header = lines.head.split(",", -1).toVector
        lines.tail.map { l =>
          val byName = header.zip(l.split(",", -1).toVector).toMap
          Oracle.FactCols.toVector.map { c =>
            byName.get(c) match {
              case None | Some("") => null
              case Some(v) if c == "date" || c == "city" => v
              case Some(v) => v.toDouble
            }
          }
        }
      }
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
