package graft.operators

import java.sql.Date
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Seasonal decomposition behavior on planted series: a constant
  * series yields zero z everywhere, and a single large spike is the
  * only flagged anomaly in an otherwise-periodic series. */
class SeasonalSpec extends AnyFunSuite with SparkFixture {

  private def day(i: Int) = Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))

  test("constant series: zero residuals, zero z, no anomalies (sd=0 guard)") {
    val s = spark; import s.implicits._
    val daily = (0 until 28).map(i => ("k", day(i), 10.0)).toDF("k", "day", "value")
    val out = Seasonal.anomalies(daily, "k", "day", "value").collect()
    assert(out.length == 28)
    assert(out.forall(_.getAs[Double]("z") == 0.0))
    assert(out.forall(_.getAs[Int]("is_anomaly") == 0))
    assert(out.forall(_.getAs[Double]("residual") == 0.0))
  }

  test("single spike in a periodic series is the only anomaly") {
    val s = spark; import s.implicits._
    // weekly pattern 10/12 alternating by weekday, plus one 100-spike
    val daily = (0 until 56).map { i =>
      val base = if (i % 7 == 0) 12.0 else 10.0
      val v = if (i == 30) 100.0 else base
      ("k", day(i), v)
    }.toDF("k", "day", "value")
    val out = Seasonal.anomalies(daily, "k", "day", "value").collect()
    val flagged = out.filter(_.getAs[Int]("is_anomaly") == 1)
      .map(_.getAs[Date]("day").toString)
    assert(flagged.contains(day(30).toString), s"spike not flagged: ${flagged.toSeq}")
    // the spike dominates: nothing OUTSIDE the spike's trend window
    // (±3 days) may be flagged
    val spikeWindow = (27 to 33).map(day(_).toString).toSet
    assert(flagged.forall(spikeWindow.contains),
      s"false positives outside the spike window: ${flagged.toSeq}")
  }

  test("cusum: drawup identity equals the textbook recursion; shift alarms, stationary stays quiet") {
    val s = spark; import s.implicits._
    // deterministic wobble around 100, then a +1.5-unit shift at day 30
    def x(i: Int) = 100.0 + ((i * 7) % 5 - 2) * 0.5 + (if (i >= 30) 1.5 else 0.0)
    val daily = (0 until 50).map(i => ("k", day(i), x(i))).toDF("k", "day", "v")
    val out = Seasonal.cusum(daily, "k", "day", "v", baselineDays = 14,
        slack = 0.5, h = 4.0)
      .collect().sortBy(_.getAs[Date]("day").toString)

    // brute-force the classic recursion S_t = max(0, S_{t-1} + x - mu - k)
    val basis = (0 until 14).map(x)
    val mu = basis.sum / 14
    val sigma = math.sqrt(basis.map(v => (v - mu) * (v - mu)).sum / 13)
    var st = 0.0
    val expected = (0 until 50).map { i =>
      st = math.max(0.0, st + x(i) - mu - 0.5 * sigma)
      BigDecimal(st / sigma).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out.map(_.getAs[Double]("s")).toSeq == expected,
      "window drawup must equal the sequential recursion exactly")
    val alarms = out.filter(_.getAs[Int]("alarm") == 1).map(_.getAs[Date]("day").toString)
    assert(alarms.nonEmpty && alarms.forall(_ >= day(30).toString),
      s"alarms must start at/after the shift: $alarms")
    // stationary series: never alarms
    val flat = (0 until 50).map(i => ("k", day(i), 100.0 + ((i * 7) % 5 - 2) * 0.5))
      .toDF("k", "day", "v")
    assert(Seasonal.cusum(flat, "k", "day", "v").collect()
      .forall(_.getAs[Int]("alarm") == 0))
    // a key with fewer rows than the baseline is EXCLUDED, not scored
    // against a noisy 3-point "in-control" estimate
    val short = (0 until 3).map(i => ("shorty", day(i), x(i))).toDF("k", "day", "v")
    assert(Seasonal.cusum(daily.unionByName(short), "k", "day", "v")
      .filter(org.apache.spark.sql.functions.col("k") === "shorty").count() == 0L)
  }

  test("leadLagCorr: a series shifted by +2 days is found at lag +2 with r = 1") {
    val s = spark; import s.implicits._
    // b(t) = a(t - 2): a at day t correlates perfectly with b at t + 2
    def a(i: Int) = 10.0 + (i * 13 % 17)
    val rows = (0 until 30).flatMap { i =>
      Seq(("a", day(i), a(i)), ("b", day(i), a(i - 2)))
    }.toDF("k", "day", "v")
    val out = Seasonal.leadLagCorr(rows, "k", "day", "v", maxLag = 3)
      .collect().map(r => r.getAs[Int]("lag") ->
        (r.getAs[Double]("r"), r.getAs[Int]("is_best"))).toMap
    assert(out.size == 7)
    assert(out(2) == ((1.0, 1)), s"lag +2 should be the perfect match: $out")
    assert(out.filter(_._2._2 == 1).keySet == Set(2))
    // self-pair is excluded (key_a < key_b) and a flat series guards den=0
    val flat = (0 until 10).flatMap(i => Seq(("a", day(i), 1.0), ("b", day(i), 5.0)))
      .toDF("k", "day", "v")
    val rf = Seasonal.leadLagCorr(flat, "k", "day", "v", maxLag = 1).collect()
    assert(rf.forall(_.getAs[Double]("r") == 0.0))
  }

  test("weekday seasonal component absorbs the periodic offset") {
    val s = spark; import s.implicits._
    val daily = (0 until 56).map { i =>
      val base = if (i % 7 == 0) 20.0 else 10.0
      ("k", day(i), base)
    }.toDF("k", "day", "value")
    val out = Seasonal.anomalies(daily, "k", "day", "value").collect()
    // periodic-only series: seasonality is fully absorbed AWAY FROM THE
    // EDGES (the centered moving average is asymmetric over the first/
    // last halfWindow days — the documented MA boundary effect — which
    // is where any flags must concentrate)
    val interior = out.filter { r =>
      val d = r.getAs[Date]("day").toString
      d >= day(3).toString && d <= day(52).toString
    }
    assert(interior.forall(r => math.abs(r.getAs[Double]("residual")) < 1.0),
      "interior residuals should be near zero for a purely periodic series")
    // the high weekday's seasonal estimate must exceed the low weekdays'
    val byDow = out.groupBy(r => (r.getAs[Date]("day").toLocalDate.toEpochDay % 7).toInt)
      .view.mapValues(_.map(_.getAs[Double]("seasonal")).max).toMap
    val highDow = (day(0).toLocalDate.toEpochDay % 7).toInt
    assert(byDow(highDow) > byDow.filter(_._1 != highDow).values.max)
  }
}
