package perfbench

import java.time.LocalDate

/** One fact row: `Schemas.weatherEnergy` with NULL as None. */
final case class FactRow(date: LocalDate, city: String, tmax: Option[Double],
    tmin: Option[Double], tavg: Option[Double], energy: Option[Double])

/** The expected `QualityReport`, field for field. */
final case class ExpectedReport(rowCount: Long, nullCounts: Map[String, Long],
    tempOutliers: Long, negativeEnergy: Long, latestDate: String, daysSince: Int)

/** Expected answers computed from the generated payloads in plain Scala
  * (no Spark): the fact table, the quality report and the six dashboard
  * panels. It follows the reference pipeline's semantics (SURVEY §7.4),
  * not the program's code:
  *   - duplicate readings of one day and datatype average;
  *   - each city's missing temperatures take that city's mean over the
  *     run's date window;
  *   - `temp_avg_f` is the strict (max + min) / 2;
  *   - an hourly value that does not parse is skipped, a day whose
  *     every value is malformed sums to 0.0, and a day with no records
  *     is NULL. */
object Oracle {

  def cToF(c: Double): Double = c * 9.0 / 5.0 + 32.0

  private def mean(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(xs.sum / xs.size)

  /** A whole-number string parses; everything the generator sends as
    * malformed does not. */
  def parseValue(s: String): Option[Double] =
    if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toDouble) else None

  /** Fact rows of one run over [start, end] for the given cities. */
  def fact(seed: Long, cityIdxs: Seq[Int], start: LocalDate, end: LocalDate): Vector[FactRow] = {
    val ds = Gen.days(start, end)
    cityIdxs.toVector.flatMap { ci =>
      val city = Gen.Cities(ci).name
      val payload = ds.map(d => d -> Gen.day(seed, ci, d))
      def temp(kind: String)(p: Gen.Day): Option[Double] =
        mean(p.noaa.filter(_.datatype == kind).map(_.value)).map(cToF)
      val maxs = payload.map { case (_, p) => temp("TMAX")(p) }
      val mins = payload.map { case (_, p) => temp("TMIN")(p) }
      val maxMean = mean(maxs.flatten)
      val minMean = mean(mins.flatten)
      payload.indices.map { i =>
        val (d, p) = payload(i)
        val tmax = maxs(i).orElse(maxMean)
        val tmin = mins(i).orElse(minMean)
        val tavg = for (a <- tmax; b <- tmin) yield (a + b) / 2
        val energy =
          if (p.eia.isEmpty) None
          else Some(p.eia.flatMap(r => parseValue(r.value)).sum)
        FactRow(d, city, tmax, tmin, tavg, energy)
      }
    }
  }

  val FactCols: Seq[String] = Seq("date", "city", "temp_max_f", "temp_min_f", "temp_avg_f", "energy_demand_gwh")

  /** The expected report. `withEnergy = false` is the weather-only
    * output of a run whose energy side was empty: it has no energy
    * column, so no energy null count. */
  def report(fact: Seq[FactRow], asOf: LocalDate, withEnergy: Boolean = true,
      tempMax: Double = 130.0, tempMin: Double = -50.0): ExpectedReport = {
    val latest = fact.map(_.date).maxOption
    val nulls = Map(
      "date" -> 0L, "city" -> 0L,
      "temp_max_f" -> fact.count(_.tmax.isEmpty).toLong,
      "temp_min_f" -> fact.count(_.tmin.isEmpty).toLong,
      "temp_avg_f" -> fact.count(_.tavg.isEmpty).toLong)
    ExpectedReport(
      rowCount = fact.size.toLong,
      nullCounts =
        if (withEnergy) nulls + ("energy_demand_gwh" -> fact.count(_.energy.isEmpty).toLong) else nulls,
      tempOutliers = fact.flatMap(r => outlier(r, tempMax, tempMin)).count(identity).toLong,
      negativeEnergy = fact.count(_.energy.exists(_ < 0)).toLong,
      latestDate = latest.fold("")(_.toString),
      daysSince = latest.fold(0)(l => (asOf.toEpochDay - l.toEpochDay).toInt))
  }

  /** A row of the weather-only output: its `temp_avg_f` is the mean of
    * whichever temperatures are present, not the strict (max + min) / 2. */
  def weatherOnly(r: FactRow): FactRow =
    r.copy(tavg = mean(r.tmax.toSeq ++ r.tmin.toSeq), energy = None)

  /** SQL three-valued `max > hi OR min < lo`: None when unknown. */
  private def outlier(r: FactRow, hi: Double, lo: Double): Option[Boolean] = {
    val a = r.tmax.map(_ > hi)
    val b = r.tmin.map(_ < lo)
    if (a.contains(true) || b.contains(true)) Some(true)
    else if (a.isEmpty || b.isEmpty) None
    else Some(false)
  }

  private def anyNull(r: FactRow): Boolean =
    r.tmax.isEmpty || r.tmin.isEmpty || r.tavg.isEmpty || r.energy.isEmpty

  // ---- dashboard panels -----------------------------------------------
  // Rows are Vector[Any] in the panel's column order; NULL is null.

  private def opt(x: Option[Double]): Any = x.map(Double.box).orNull

  /** Latest row per city with the previous row's energy (0 when absent)
    * and the guarded percent change. Columns: city, date, energy,
    * prev_energy, pct_change. */
  def latest(fact: Seq[FactRow]): Vector[Vector[Any]] =
    fact.groupBy(_.city).toVector.map { case (city, rows) =>
      val sorted = rows.sortBy(_.date.toEpochDay)
      val last = sorted.last
      val prev = if (sorted.size > 1) sorted(sorted.size - 2).energy.getOrElse(0.0) else 0.0
      val pct: Option[Double] =
        if (prev > 0) last.energy.map(e => (e - prev) / prev * 100) else Some(0.0)
      Vector[Any](city, last.date.toString, opt(last.energy), prev, opt(pct))
    }

  private def daily(fact: Seq[FactRow]): Vector[(LocalDate, Option[Double], Option[Double])] =
    fact.groupBy(_.date).toVector.sortBy(_._1.toEpochDay).map { case (d, rows) =>
      val e = rows.flatMap(_.energy)
      (d, mean(rows.flatMap(_.tavg)), if (e.isEmpty) None else Some(e.sum))
    }

  /** First-differenced all-city daily series. Columns: date, temp_avg_f,
    * energy_demand_gwh. */
  def tsDiff(fact: Seq[FactRow]): Vector[Vector[Any]] = {
    val s = daily(fact)
    s.indices.drop(1).flatMap { i =>
      val (d, t, e) = s(i)
      val (_, pt, pe) = s(i - 1)
      for (a <- t; b <- pt; x <- e; y <- pe) yield Vector[Any](d.toString, a - b, x - y)
    }.toVector
  }

  val BinLabels: Vector[String] = Vector("<50°F", "50-60°F", "60-70°F", "70-80°F", "80-90°F", ">90°F")
  val DayNames: Vector[String] =
    Vector("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")

  def bin(t: Double): String = {
    val edges = Seq(50.0, 60.0, 70.0, 80.0, 90.0)
    val i = edges.indexWhere(t < _)
    if (i < 0) BinLabels.last else BinLabels(i)
  }

  /** Mean energy by temperature bin × weekday, 0.0 where a cell is
    * empty. Columns: temp_range, Monday … Sunday. */
  def heatmap(fact: Seq[FactRow]): Vector[Vector[Any]] =
    fact.filter(r => r.tavg.isDefined && r.energy.isDefined)
      .groupBy(r => bin(r.tavg.get)).toVector.map { case (label, rows) =>
        val byDay = rows.groupBy(_.date.getDayOfWeek.getValue - 1)
        label +: DayNames.indices.map(i => byDay.get(i).flatMap(rs => mean(rs.map(_.energy.get))).getOrElse(0.0))
          .toVector
      }

  /** OLS of energy on temp_avg_f with 95 % mean-CI bands over the
    * distinct temperatures. Columns: x, y_hat, ci_lower, ci_upper.
    * None when fewer than three complete rows. */
  def olsCi(fact: Seq[FactRow]): Option[Vector[Vector[Any]]] = {
    val clean = fact.filter(r => r.tavg.isDefined && r.energy.isDefined)
      .map(r => (r.tavg.get, r.energy.get))
    val n = clean.size
    if (n <= 2) None
    else {
      val xbar = clean.map(_._1).sum / n
      val ybar = clean.map(_._2).sum / n
      val sxx = clean.map { case (x, _) => (x - xbar) * (x - xbar) }.sum
      val syy = clean.map { case (_, y) => (y - ybar) * (y - ybar) }.sum
      val sxy = clean.map { case (x, y) => (x - xbar) * (y - ybar) }.sum
      val slope = sxy / sxx
      val intercept = ybar - slope * xbar
      val s = math.sqrt(math.max(syy - slope * sxy, 0.0) / (n - 2))
      val t = studentT975(n - 2)
      Some(fact.flatMap(_.tavg).distinct.sorted.toVector.map { x =>
        val yHat = intercept + slope * x
        val se = s * math.sqrt(1.0 / n + (x - xbar) * (x - xbar) / sxx)
        Vector[Any](x, yHat, yHat - t * se, yHat + t * se)
      })
    }
  }

  /** Per-day quality indicator sums (SQL sums: NULL when every input is
    * NULL). Columns: date, missing_total, temp_outliers, negative_energy. */
  def qualityTs(fact: Seq[FactRow], tempMax: Double = 130.0, tempMin: Double = -50.0): Vector[Vector[Any]] = {
    def sqlSum(xs: Seq[Option[Long]]): Any = {
      val present = xs.flatten
      if (present.isEmpty) null else Long.box(present.sum)
    }
    fact.groupBy(_.date).toVector.map { case (d, rows) =>
      Vector[Any](d.toString,
        sqlSum(rows.map(r => Some(if (anyNull(r)) 1L else 0L))),
        sqlSum(rows.map(r => outlier(r, tempMax, tempMin).map(b => if (b) 1L else 0L))),
        sqlSum(rows.map(r => r.energy.map(e => if (e < 0) 1L else 0L))))
    }
  }

  /** Rows with any NULL, a temperature outlier or negative energy.
    * Columns: date, city, temp_max_f, temp_min_f, temp_avg_f, energy. */
  def problems(fact: Seq[FactRow], tempMax: Double = 130.0, tempMin: Double = -50.0): Vector[Vector[Any]] =
    fact.filter(r => anyNull(r) || outlier(r, tempMax, tempMin).contains(true) || r.energy.exists(_ < 0))
      .map(factCells).toVector

  def factCells(r: FactRow): Vector[Any] =
    Vector[Any](r.date.toString, r.city, opt(r.tmax), opt(r.tmin), opt(r.tavg), opt(r.energy))

  // ---- Student t quantile -------------------------------------------------

  /** 0.975 quantile of Student's t with `nu` degrees of freedom:
    * bisection on the CDF, the CDF by Simpson's rule over the density.
    * An independent route from the program's incomplete-beta one. */
  def studentT975(nu: Int): Double = {
    val v = nu.toDouble
    val logC = lgamma((v + 1) / 2) - lgamma(v / 2) - 0.5 * math.log(v * math.Pi)
    def density(x: Double): Double = math.exp(logC - (v + 1) / 2 * math.log1p(x * x / v))
    def cdfAbove0(t: Double): Double = { // ∫0^t density
      val n = 4000
      val h = t / n
      var acc = density(0) + density(t)
      var i = 1
      while (i < n) { acc += (if (i % 2 == 1) 4 else 2) * density(i * h); i += 1 }
      acc * h / 3
    }
    var lo = 0.0
    var hi = 20.0
    while (hi - lo > 1e-12) {
      val mid = (lo + hi) / 2
      if (0.5 + cdfAbove0(mid) < 0.975) lo = mid else hi = mid
    }
    (lo + hi) / 2
  }

  /** log Γ(x) for x > 0: shift above 10, then Stirling's series. */
  private def lgamma(x0: Double): Double = {
    var x = x0
    var shift = 0.0
    while (x < 10) { shift -= math.log(x); x += 1 }
    val inv = 1 / x
    val inv2 = inv * inv
    shift + (x - 0.5) * math.log(x) - x + 0.5 * math.log(2 * math.Pi) +
      inv * (1.0 / 12 - inv2 * (1.0 / 360 - inv2 * (1.0 / 1260 - inv2 / 1680)))
  }

  // ---- comparison ---------------------------------------------------------

  /** Order-insensitive comparison of two row sets: rows are sorted on
    * their cells with doubles rounded to 6 significant digits, then
    * compared cell by cell with a relative tolerance of 1e-9. Returns
    * the first difference, or None when they agree. */
  def diff(label: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] = {
    if (got.size != want.size) return Some(s"$label: ${got.size} rows, expected ${want.size}")
    def key(row: Seq[Any]): String = row.map {
      case d: Double => f"$d%.5e"
      case null => "\u0000"
      case v => v.toString
    }.mkString("\u0001")
    val g = got.sortBy(key)
    val w = want.sortBy(key)
    g.zip(w).collectFirst {
      case (a, b) if a.size != b.size || a.zip(b).exists { case (x, y) => !same(x, y) } =>
        s"$label: row ${a.mkString("[", ", ", "]")} expected ${b.mkString("[", ", ", "]")}"
    }
  }

  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Number, y: Number) => x.longValue == y.longValue && !(x.isInstanceOf[Double] ^ y.isInstanceOf[Double])
    case (x, y) => x.toString == y.toString
  }
}
