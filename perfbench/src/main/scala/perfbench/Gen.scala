package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

/** One configured city: NOAA station, EIA respondent, a climate base
  * (°C at the seasonal midpoint) and a demand base (MWh per hour). */
final case class City(name: String, station: String, region: String,
    baseC: Double, baseMwh: Double)

/** One NOAA reading as the API returns it (`Schemas.noaaRaw` element). */
final case class NoaaReading(date: String, datatype: String, value: Double)

/** One EIA hourly record; `value` is the raw string the API sends. */
final case class EiaRecord(period: String, value: String)

/** Seeded generator of raw NOAA and EIA payloads, in plain Scala.
  *
  * A (city, day) payload is a pure function of (seed, city, day), so a
  * backfill and a later daily refresh see the same readings for a day.
  * Every window of 29 days or more holds each semantic trap of the
  * pipeline once per city:
  *   - a day with no NOAA readings, and a day with no EIA records;
  *   - a day with TMAX but no TMIN;
  *   - duplicate readings (a second TMAX; repeated EIA hours);
  *   - malformed EIA values, and one day where every value is
  *     malformed (its daily sum must be 0.0);
  *   - a TMAX above the 130 °F outlier bound.
  * Where the traps fall depends on the seed. EIA values are whole MWh,
  * so daily sums are exact in any summation order. */
object Gen {

  val NoaaPageSize = 1000
  val EiaPageSize = 5000

  /** Sixteen cities; the first five are the reference deployment. */
  val Cities: Vector[City] = Vector(
    City("New York", "GHCND:USW00094728", "NYIS", 13.0, 18000),
    City("Chicago", "GHCND:USW00094846", "PJM", 10.5, 90000),
    City("Houston", "GHCND:USW00012960", "ERCO", 21.0, 45000),
    City("Phoenix", "GHCND:USW00023183", "AZPS", 24.0, 4500),
    City("Seattle", "GHCND:USW00024233", "SCL", 11.5, 1100),
    City("Los Angeles", "GHCND:USW00023174", "LDWP", 18.5, 3000),
    City("Miami", "GHCND:USW00012839", "FPL", 25.0, 14000),
    City("Denver", "GHCND:USW00003017", "PSCO", 10.0, 6000),
    City("Atlanta", "GHCND:USW00013874", "SOCO", 17.0, 30000),
    City("Boston", "GHCND:USW00014739", "ISNE", 10.5, 14000),
    City("Minneapolis", "GHCND:USW00014922", "MISO", 7.5, 80000),
    City("Las Vegas", "GHCND:USW00023169", "NEVP", 20.0, 5000),
    City("Portland", "GHCND:USW00024229", "BPAT", 12.5, 7000),
    City("Nashville", "GHCND:USW00013897", "TVA", 15.5, 20000),
    City("Tampa", "GHCND:USW00012842", "TEC", 23.0, 2500),
    City("Salt Lake City", "GHCND:USW00024127", "PACE", 11.5, 9000))

  /** The raw payload of one city for one day. */
  final case class Day(noaa: Vector[NoaaReading], eia: Vector[EiaRecord])

  /** Traps recur every `TrapPeriod` days; each city gets its own
    * distinct residue per trap, drawn from the seed, so no two traps of
    * a city fall on one day and every window of `TrapPeriod` days holds
    * each of them once. */
  val TrapPeriod = 29

  private final case class Traps(noaaMissing: Int, tmaxOnly: Int, dupTmax: Int,
      eiaMissing: Int, allMalformed: Int, outlier: Int)

  private def traps(seed: Long, cityIdx: Int): Traps = {
    val r = new java.util.Random(mix(seed, cityIdx.toLong, -1L))
    val d = (0 until TrapPeriod).toVector.sortBy(_ => r.nextDouble())
    Traps(d(0), d(1), d(2), d(3), d(4), d(5))
  }

  /** splitmix64 finaliser over three words: the per-day RNG seed. */
  private def mix(a: Long, b: Long, c: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + c * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def round1(x: Double): Double = math.round(x * 10.0) / 10.0

  def day(seed: Long, cityIdx: Int, date: LocalDate): Day = {
    val c = Cities(cityIdx)
    val t = traps(seed, cityIdx)
    val d = date.toEpochDay
    def hit(offset: Int): Boolean = java.lang.Math.floorMod(d, TrapPeriod.toLong) == offset
    val r = new java.util.Random(mix(seed, cityIdx.toLong, d))
    val season = math.sin(2 * math.Pi * (date.getDayOfYear - 110) / 365.0)
    val tmax = if (hit(t.outlier)) 56.0 else round1(c.baseC + 6 + 11 * season + r.nextGaussian() * 3)
    val tmin = round1(tmax - 6 - r.nextDouble() * 6)
    val ds = date.toString
    val noaa =
      if (hit(t.noaaMissing)) Vector.empty
      else {
        val stamp = s"${ds}T00:00:00"
        val max = NoaaReading(stamp, "TMAX", tmax)
        val dup = if (hit(t.dupTmax)) Vector(NoaaReading(stamp, "TMAX", round1(tmax + 1 + r.nextDouble())))
          else Vector.empty
        val min = if (hit(t.tmaxOnly)) Vector.empty else Vector(NoaaReading(stamp, "TMIN", tmin))
        (max +: dup) ++ min
      }
    val eia =
      if (hit(t.eiaMissing)) Vector.empty
      else {
        val allBad = hit(t.allMalformed)
        val avgF = (tmax + tmin) / 2 * 9 / 5 + 32
        val load = c.baseMwh * (1 + 0.0004 * (avgF - 65) * (avgF - 65))
        (0 until 24).toVector.flatMap { h =>
          val period = f"${ds}T$h%02d"
          val shape = 0.85 + 0.3 * math.sin(math.Pi * (h - 6) / 18.0).max(0)
          val mwh = math.round(load * shape * (1 + 0.05 * r.nextGaussian())).max(1L)
          val u = r.nextDouble()
          val value =
            if (allBad || u < 0.01) Malformed(r.nextInt(Malformed.length))
            else mwh.toString
          val rec = EiaRecord(period, value)
          if (u > 0.995 && !allBad) Vector(rec, EiaRecord(period, (mwh + 7).toString)) else Vector(rec)
        }
      }
    Day(noaa, eia)
  }

  /** Values the EIA API has been seen to send in place of a number. */
  val Malformed: Vector[String] = Vector("", "N/A", "null", "12O4", "-")

  def days(start: LocalDate, end: LocalDate): Vector[LocalDate] =
    Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end)).toVector

  // ---- landing ----------------------------------------------------------

  /** Landed pages of one city and one source for a date window. */
  final case class Landed(city: String, kind: String, files: Vector[Path])

  /** File of one API page, after the raw-zone naming
    * `{kind}_{city}_{start}_{end}.json`, with the page number added. */
  def pagePath(rawDir: Path, kind: String, city: String, start: LocalDate,
      end: LocalDate, page: Int): Path =
    rawDir.resolve(f"${kind}_${city}_${start}_${end}_p$page%03d.json")

  /** Glob that matches every page of one (kind, city, window). */
  def pageGlob(rawDir: Path, kind: String, city: String, start: LocalDate, end: LocalDate): String =
    rawDir.resolve(s"${kind}_${city}_${start}_${end}_p*.json").toString

  /** Land the NOAA and EIA pages of `cityIdxs` over [start, end]: one
    * file per API page, each page one JSON object on one line (as the
    * reference's `json.dump` writes it). Returns the landed files. */
  def land(seed: Long, cityIdxs: Seq[Int], start: LocalDate, end: LocalDate,
      rawDir: Path): Vector[Landed] = {
    Files.createDirectories(rawDir)
    val ds = days(start, end)
    cityIdxs.toVector.flatMap { ci =>
      val c = Cities(ci)
      val payload = ds.map(d => day(seed, ci, d))
      val noaa = payload.flatMap(_.noaa)
      val eia = payload.flatMap(_.eia)
      val noaaPages = pages(noaa, NoaaPageSize).zipWithIndex.map { case (rs, p) =>
        write(pagePath(rawDir, "weather", c.name, start, end, p), noaaPage(c, rs, p * NoaaPageSize, noaa.size))
      }
      val eiaPages = pages(eia, EiaPageSize).zipWithIndex.map { case (rs, p) =>
        write(pagePath(rawDir, "energy", c.name, start, end, p), eiaPage(c, rs, p * EiaPageSize, eia.size))
      }
      Vector(Landed(c.name, "weather", noaaPages), Landed(c.name, "energy", eiaPages))
    }
  }

  /** An empty source still lands one page, as the API answers with an
    * empty result set. */
  private def pages[A](xs: Vector[A], size: Int): Vector[Vector[A]] =
    if (xs.isEmpty) Vector(Vector.empty) else xs.grouped(size).toVector

  private def write(p: Path, body: String): Path = {
    Files.write(p, (body + "\n").getBytes(StandardCharsets.UTF_8))
    p
  }

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case ch => b.append(ch)
    }
    b.append('"').toString
  }

  def noaaPage(c: City, rs: Vector[NoaaReading], offset: Int, total: Int): String =
    rs.map { r =>
      s"""{"date":${q(r.date)},"datatype":${q(r.datatype)},"station":${q(c.station)},""" +
        s""""attributes":",,W,2400","value":${r.value}}"""
    }.mkString(
      s"""{"metadata":{"resultset":{"offset":${offset + 1},"count":$total,"limit":$NoaaPageSize}},"results":[""",
      ",", "]}")

  def eiaPage(c: City, rs: Vector[EiaRecord], offset: Int, total: Int): String =
    rs.map { r =>
      s"""{"period":${q(r.period)},"respondent":${q(c.region)},"type":"D",""" +
        s""""value":${q(r.value)},"value-units":"megawatthours"}"""
    }.mkString(
      s"""{"response":{"total":${q(total.toString)},"frequency":"hourly","offset":$offset,"data":[""",
      ",", "]}}")
}
