package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import graft.domain.OlsSummary
import graft.functions.Stats

/** The five dashboard analytics queries (SURVEY EP2) as library
  * operators over the canonical fact table, plus OLS-with-CI — the one
  * genuinely custom analytic (X3). */
object Analytics {

  /** Q-geo part 1 (A5/W3): latest row per city with previous-day energy
    * and guarded pct-change — the reference's self-join (J3,
    * dashboards/app.py:602-613) rewritten as one ascending window per
    * city: `lag` gives the previous day's energy and an empty `lead`
    * marks the city's last row, so one shuffle on city and one sort. */
  def latestWithPrevDay(fact: DataFrame): DataFrame = {
    val byCity = Window.partitionBy("city").orderBy(col("date"))
    fact
      .withColumn("prev_energy", lag("energy_demand_gwh", 1).over(byCity))
      .withColumn("is_last", lead(lit(true), 1).over(byCity).isNull)
      .filter(col("is_last"))
      .drop("is_last")
      .withColumn("prev_energy", coalesce(col("prev_energy"), lit(0.0))) // reference fillna(0)
      .withColumn("pct_change",
        when(col("prev_energy") > 0,
          (col("energy_demand_gwh") - col("prev_energy")) / col("prev_energy") * 100)
          .otherwise(0.0))
  }

  /** Q-timeseries (A3/W1): all-cities daily series (mean temp, summed
    * energy) in date order, optionally first-differenced for the
    * stationarity toggle (reference dashboards/app.py:701-716).
    *
    * The series has one row per day whatever the number of cities
    * (3,650 for a decade), so it is collected when this is called and
    * comes back as a local frame in date order ([[byDate]]). The diff
    * subtracts from each day the previous day PRESENT in the data,
    * across year boundaries and calendar gaps alike, and drops the
    * first day and every day whose difference is NULL or NaN. There is
    * no ordering window. */
  def timeSeries(fact: DataFrame, diff: Boolean = false): DataFrame =
    byDate(fact.groupBy("date")
      .agg(avg("temp_avg_f").as("temp_avg_f"), sum("energy_demand_gwh").as("energy_demand_gwh"))) { days =>
      if (!diff) days
      else days.sliding(2).flatMap {
        case Seq(prev, day) =>
          val d = (1 to 2).map(i =>
            if (day.isNullAt(i) || prev.isNullAt(i)) Double.NaN else day.getDouble(i) - prev.getDouble(i))
          if (d.exists(_.isNaN)) None else Some(Row(day.get(0), d(0), d(1)))
        case _ => None // one day: nothing to difference
      }.toSeq
    }

  /** A per-day aggregate (`date` first), collected and put in date
    * order on the driver (a NULL date first, as an ascending sort puts
    * it), then `rows` of it as a local frame of the same schema: no sort
    * in the plan, and no job when the caller collects it. For bounded
    * results only: one row per day. */
  private[operators] def byDate(daily: DataFrame)(rows: Seq[Row] => Seq[Row]): DataFrame = {
    val days = daily.collect().toSeq
      .sortBy(r => if (r.isNullAt(0)) Long.MinValue else r.getDate(0).toLocalDate.toEpochDay)
    daily.sparkSession.createDataFrame(rows(days).asJava, daily.schema)
  }

  /** F8 — temperature binning, left-closed [lo, hi) with the `<50°F`
    * bin included (resolving the reference's three-way discrepancy in
    * favor of covering all values — SURVEY §7.4 trap 5). */
  val defaultBinEdges: Seq[Double] = Seq(50, 60, 70, 80, 90)
  val defaultBinLabels: Seq[String] = Seq("<50°F", "50-60°F", "60-70°F", "70-80°F", "80-90°F", ">90°F")

  def temperatureBin(c: Column,
      edges: Seq[Double] = defaultBinEdges, labels: Seq[String] = defaultBinLabels): Column = {
    require(labels.length == edges.length + 1)
    // NULL input → NULL bin (without the explicit guard, every `when`
    // evaluates NULL and control falls through to the LAST label,
    // silently counting missing readings as the hottest bin)
    val base: Column = when(c.isNull, lit(null)).when(c < edges.head, labels.head)
    edges.indices.tail.foldLeft(base) { (acc, i) =>
      acc.when(c < edges(i), labels(i))
    }.otherwise(labels.last)
  }

  /** Q-heatmap (A7): mean energy by temperature bin × day-of-week, with
    * fixed row/column ordering (reference src/analysis.py:59-66). One
    * aggregate makes one row holding, for every bin, its row count and
    * its mean energy on each weekday; the bins present are then
    * unfolded from an array that lists them hottest first, so the
    * reference's descending bin order needs no sort. An empty cell is
    * 0.0. */
  def heatmap(fact: DataFrame): DataFrame = {
    val dayOrder = Seq("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")
    val bin = temperatureBin(col("temp_avg_f"))
    val weekday = dayofweek(col("date")) // 1 = Sunday … 7 = Saturday
    val bins = defaultBinLabels.indices
    val aggs = bins.flatMap { b =>
      val inBin = bin === defaultBinLabels(b)
      count(when(inBin, 1)).as(s"n$b") +: dayOrder.indices.map { d =>
        avg(when(inBin && weekday === (d + 1) % 7 + 1, col("energy_demand_gwh"))).as(s"e${b}_$d")
      }
    }
    val rows = bins.reverse.map { b =>
      struct(lit(defaultBinLabels(b)).as("temp_range") +: col(s"n$b").as("n") +:
        dayOrder.indices.map(d => col(s"e${b}_$d").as(dayOrder(d))): _*)
    }
    fact
      .na.drop(Seq("temp_avg_f", "energy_demand_gwh"))
      .agg(aggs.head, aggs.tail: _*)
      .select(inline(array(rows: _*)))
      .filter(col("n") > 0)
      .drop("n")
      .na.fill(0.0, dayOrder)
  }

  /** X1/X2 + sufficient statistics for X3, in ONE pass: slope,
    * intercept, r, r², x̄, Sxx and the residual standard error
    * s = sqrt(SSE/(n-2)) — everything the CI bands need. */
  def olsSummary(df: DataFrame, xCol: String, yCol: String): Option[OlsSummary] =
    olsPass(df, xCol, yCol).map(_._1)

  /** The OLS aggregates over the rows where both columns are present
    * (not NULL, not NaN), plus `extra` aggregates over the rows where
    * `xCol` is, in one job. None below two complete rows (X4
    * degenerate-input guard, reference src/analysis.py:13-14). */
  private def olsPass(df: DataFrame, xCol: String, yCol: String,
      extra: Column*): Option[(OlsSummary, Row)] = {
    val yOk = col(yCol).isNotNull && !isnan(col(yCol))
    val (x, y) = (when(yOk, col(xCol)), when(yOk, col(yCol)))
    val aggs = Seq(count(y).as("n"), corr(x, y).as("r"), regr_slope(y, x).as("slope"),
      regr_intercept(y, x).as("intercept"), avg(x).as("xbar"), regr_sxx(y, x).as("sxx"),
      regr_syy(y, x).as("syy"), regr_sxy(y, x).as("sxy")) ++ extra
    val r = df.na.drop(Seq(xCol)).agg(aggs.head, aggs.tail: _*).collect().head
    val n = r.getAs[Long]("n")
    if (n < 2) None
    else {
      val slope = r.getAs[Double]("slope")
      val sse = math.max(r.getAs[Double]("syy") - slope * r.getAs[Double]("sxy"), 0.0)
      val residStdErr = if (n > 2) math.sqrt(sse / (n - 2)) else 0.0
      val pearson = Option(r.getAs[java.lang.Double]("r")).map(_.toDouble).getOrElse(0.0)
      Some((OlsSummary(n, slope, r.getAs[Double]("intercept"), pearson,
        pearson * pearson, r.getAs[Double]("xbar"), r.getAs[Double]("sxx"), residStdErr), r))
    }
  }

  /** X3 — OLS 95% mean-CI bands over a prediction grid: ŷ ± t(α/2, n−2)
    * · s · sqrt(1/n + (x−x̄)²/Sxx), one row per distinct x in ascending
    * order. The grid is collected in the summary's own job, so the
    * bands are a local frame: column expressions over the grid the
    * caller receives anyway, and no further job. The grid is one
    * aggregation buffer holding every distinct x, so x must take a
    * bounded number of values: the dashboard's x is one city's daily
    * mean temperature (at most one value per day in the sink), q15's
    * is l_quantity (at most 50 values). The t quantile is one
    * driver-side scalar (graft.functions.Stats). */
  def olsCiBands(df: DataFrame, xCol: String, yCol: String,
      alpha: Double = 0.05): Option[DataFrame] =
    olsPass(df, xCol, yCol, array_sort(collect_set(col(xCol))).as("grid"))
      .filter(_._1.n > 2).map { case (s, r) =>
        val t = Stats.tQuantile(1 - alpha / 2, (s.n - 2).toDouble)
        val schema = StructType(Seq(df.schema(xCol).copy(name = "x", nullable = false)))
        val grid = df.sparkSession.createDataFrame(
          r.getSeq[Any](r.fieldIndex("grid")).map(Row(_)).asJava, schema)
        val se = lit(s.residStdErr) *
          sqrt(lit(1.0 / s.n) + pow(col("x") - s.xMean, 2) / lit(s.sxx))
        grid
          .withColumn("y_hat", lit(s.intercept) + lit(s.slope) * col("x"))
          .withColumn("ci_lower", col("y_hat") - lit(t) * se)
          .withColumn("ci_upper", col("y_hat") + lit(t) * se)
      }

  /** X5 — narrow-temperature-range warning (reference
    * dashboards/app.py:784-789). */
  def narrowRangeWarning(fact: DataFrame, minRangeF: Double = 20.0): Boolean = {
    val r = fact.na.drop(Seq("temp_avg_f"))
      .agg((max("temp_avg_f") - min("temp_avg_f")).as("range")).collect().head
    !r.isNullAt(0) && r.getDouble(0) < minRangeF
  }
}
