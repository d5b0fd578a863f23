package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Hand-computed guarantees for the forensic-stats family: Gini's
  * closed-form limits, Benford chi-square separation, and Theil–Sen's
  * outlier immunity. */
class RobustStatsSpec extends AnyFunSuite with SparkFixture {

  test("hillTailIndex: hand-computed alpha and top-share; uniform degrees yield null alpha") {
    val s = spark; import s.implicits._
    // group g: key degrees 8, 4, 2, 1 with k=3 -> top3 = (8,4,2),
    // d_k = 2, sum_ln = ln(4) + ln(2) + ln(1) = ln(8),
    // alpha = 1 + 2/ln(8) = 1.9618 (4dp), top_share = 14/15
    val rows =
      (1 to 8).map(_ => ("g", 1L)) ++ (1 to 4).map(_ => ("g", 2L)) ++
        (1 to 2).map(_ => ("g", 3L)) ++ Seq(("g", 4L)) ++
        (1 to 6).flatMap(i => Seq(("u", i.toLong), ("u", i.toLong))) // uniform: all deg 2
    val out = RobustStats.hillTailIndex(spark, rows.toDF("grp", "key"), "grp", "key", k = 3)
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("g")
    assert(g.getAs[Long]("n_keys") == 4L && g.getAs[Long]("total_rows") == 15L)
    assert(g.getAs[Int]("k_used") == 3 && g.getAs[Long]("d_k") == 2L)
    assert(g.getAs[Double]("alpha_hill") == math.rint((1.0 + 2.0 / math.log(8.0)) * 1e4) / 1e4)
    assert(g.getAs[Double]("top_share") == 0.9333)
    val u = out("u") // every top-k degree equal -> sum_ln = 0 -> alpha null
    assert(u.isNullAt(u.fieldIndex("alpha_hill")))
    assert(u.getAs[Long]("d_k") == 2L && u.getAs[Int]("k_used") == 3)
  }

  test("hillTailIndex: near-equal large degrees read null, not an exploding alpha") {
    val s = spark; import s.implicits._
    // r13 ADVICE: degrees (1001, 1000, 1000) with k=3 give
    // sum_ln = ln(1001/1000) ~ 1e-3 — strictly positive, so the old
    // `sum_ln > 0` guard let alpha = 1 + 2/sum_ln ~ 2002 through, a
    // degenerate readout (no tail spread). The (k-1)/1000 threshold
    // suppresses it; a clearly-spread group on the SAME call stays
    // non-null, so the guard is not over-wide.
    val rows = (1 to 1001).map(_ => ("q", 1L)) ++
      (1 to 1000).flatMap(_ => Seq(("q", 2L), ("q", 3L))) ++
      (1 to 8).map(_ => ("s", 1L)) ++ (1 to 4).map(_ => ("s", 2L)) ++
      (1 to 2).map(_ => ("s", 3L))
    val out = RobustStats.hillTailIndex(spark, rows.toDF("grp", "key"), "grp", "key", k = 3)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("q").isNullAt(out("q").fieldIndex("alpha_hill")),
      "near-equal top-k degrees must suppress the alpha readout")
    assert(!out("s").isNullAt(out("s").fieldIndex("alpha_hill")),
      "a genuinely spread tail must still report alpha")
  }

  test("gini: 0 at perfect equality, (n-1)/n at perfect concentration") {
    val s = spark; import s.implicits._
    val eq = (1L to 10L).map(u => ("a", u, 5.0))
    val conc = (1L to 9L).map(u => ("b", u, 0.0)) :+ (("b", 10L, 100.0))
    val out = RobustStats.gini((eq ++ conc).toDF("g", "u", "v"), "g", "u", "v")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("gini")).toMap
    assert(out("a") == 0.0)
    assert(out("b") == 0.9) // (n-1)/n with n=10
  }

  test("benford: a conforming sample scores far lower chi2 than uniform digits") {
    val s = spark; import s.implicits._
    // conforming: counts proportional to log10(1+1/d) out of 1000
    val conforming = (1 to 9).flatMap { dd =>
      val n = math.round(math.log10(1.0 + 1.0 / dd) * 1000).toInt
      Seq.fill(n)(dd * 1.11) // first digit dd (e.g. 1.11 -> 111 cents -> '1')
    }.toDF("x")
    val uniform = (1 to 9).flatMap(dd => Seq.fill(111)(dd * 1.11)).toDF("x")
    def chi2(df: org.apache.spark.sql.DataFrame) =
      RobustStats.benford(df, "x").collect().head.getAs[Double]("chi2")
    assert(chi2(conforming) < 1.0, s"conforming chi2: ${chi2(conforming)}")
    assert(chi2(uniform) > 15.5, s"uniform chi2: ${chi2(uniform)}")
    // digit extraction is exact at powers of ten (the log10 trap), and
    // ABSENT digits still appear with their full chi2 contribution —
    // a dataset that never starts with 9 is the classic red flag
    val tens = Seq(100.0, 10.0, 1.0, 1000.0).toDF("x")
    val digs = RobustStats.benford(tens, "x").collect()
    assert(digs.length == 9)
    val byDigit = digs.map(r => r.getAs[Int]("digit") ->
      (r.getAs[Long]("n"), r.getAs[Double]("chi2_term"))).toMap
    assert(byDigit(1L.toInt)._1 == 4L)
    assert((2 to 9).forall(dd => byDigit(dd)._1 == 0L))
    assert(byDigit(9)._2 > 0.0, "a zero-count digit must still contribute (0-E)^2/E")
  }

  test("forecast: exact extrapolation of a linear series; weekly pattern carried forward") {
    val s = spark; import s.implicits._
    def day(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
    val epoch0 = day(0).toLocalDate.toEpochDay
    // pure linear: v = 10 + 2*(epoch day) -> slope 2, intercept 10, no seasonal
    val lin = (0 until 28).map(i => ("k", day(i), 10.0 + 2.0 * (epoch0 + i)))
      .toDF("g", "day", "v")
    val outLin = RobustStats.forecast(lin, "g", "day", "v")
      .collect().sortBy(_.getAs[Int]("h"))
    assert(outLin.length == 7)
    for (r <- outLin) {
      val x = r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay.toDouble
      assert(r.getAs[Double]("yhat") == 10.0 + 2.0 * x,
        s"linear series must extrapolate exactly: $r")
    }
    // linear + weekly bump on dow 0: the bumped forecast day keeps ~the bump
    val weekly = (0 until 28).map { i =>
      val bump = if ((epoch0 + i) % 7 == 0) 10.0 else 0.0
      ("k", day(i), 10.0 + 2.0 * (epoch0 + i) + bump)
    }.toDF("g", "day", "v")
    val outW = RobustStats.forecast(weekly, "g", "day", "v").collect()
      .map { r =>
        val ed = r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay
        (ed % 7, r.getAs[Double]("yhat") - (10.0 + 2.0 * ed))
      }.toMap
    assert(math.abs(outW(0L) - 10.0) < 2.0, s"dow-0 bump lost: ${outW(0L)}")
    assert(outW.filterKeys(_ != 0L).values.forall(v => math.abs(v) < 2.0))
  }

  test("theil-sen: one wild outlier cannot move the median slope") {
    val s = spark; import s.implicits._
    // y = 2x, except x=10 shoots to 1000
    val pts = (1 to 20).map(i =>
      ("k", i.toDouble, if (i == 10) 1000.0 else 2.0 * i)).toDF("g", "x", "v")
    val out = RobustStats.theilSen(pts, "g", "x", "v").collect().head
    assert(out.getAs[Double]("slope") == 2.0,
      s"median slope must ignore the outlier: ${out.getAs[Double]("slope")}")
    assert(out.getAs[Long]("n_pairs") == 190L)
  }
}
