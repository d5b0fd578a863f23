package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.MixQueries

/** Property tests for the tranche-E mixture/eval queries over the
  * sf0.001 testdata (the DuckDB hash oracle pins exact values; these
  * pin the INVARIANTS the oracle can't express as a hash — budget
  * conservation, temperature flattening, the conformal rank rule
  * against a naive in-memory recomputation, coverage accounting). */
class MixQueriesSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  test("q274: every temperature allocates exactly the 1M-token budget") {
    val rows = MixQueries.q274TempMixture(spark, sf).collect()
    val byTemp = rows.groupBy(_.getAs[Int]("temp"))
    assert(byTemp.keySet == Set(1, 2, 4))
    byTemp.foreach { case (t, rs) =>
      assert(rs.map(_.getAs[Long]("alloc_tokens")).sum == 1000000L,
        s"temp=$t must allocate the full budget")
    }
  }

  test("q298: modality cells allocate exactly the 10MB byte budget, all modalities present") {
    val rows = MixQueries.q298ModalityMix(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("alloc_bytes")).sum == 10000000L)
    assert(rows.map(_.getAs[String]("modality")).toSet == Set("image", "audio", "video"))
    // sqrt temperature up-samples small cells: every cell's allocated
    // share must be >= its raw byte share. 1-byte tolerance (r13
    // ADVICE): on exactly-uniform cells Hamilton gives one tied cell
    // base-only and minBy picks arbitrarily among ties, so strict >=
    // would be data-shape-flaky at the documented equality boundary.
    val totalBytes = rows.map(_.getAs[Long]("total_bytes")).sum.toDouble
    val smallest = rows.minBy(_.getAs[Long]("total_bytes"))
    assert((smallest.getAs[Long]("alloc_bytes") + 1).toDouble >=
      smallest.getAs[Long]("total_bytes") / totalBytes * 10000000L)
  }

  test("q274: higher temperature flattens the mixture toward uniform") {
    val rows = MixQueries.q274TempMixture(spark, sf).collect()
    def spread(t: Int): Long = {
      val a = rows.filter(_.getAs[Int]("temp") == t)
        .map(_.getAs[Long]("alloc_tokens"))
      a.max - a.min
    }
    // monotone: T=1 (proportional) has the widest spread, T=4 the narrowest
    assert(spread(1) >= spread(2) && spread(2) >= spread(4))
    // and T=4 genuinely moved allocation relative to proportional
    assert(spread(1) > spread(4))
  }

  test("q275: threshold equals the naive k-th smallest calibration score") {
    val out = MixQueries.q275Conformal(spark, sf).collect()
    // recompute the calibration set naively from the same table
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("value"),
        expr("pmod(cast(conv(substring(md5(cast(event_id as string)), 1, 15), " +
          "16, 10) as bigint), 5) = 0").as("is_cal"))
      .collect()
    val cal = ev.filter(_.getAs[Boolean]("is_cal"))
      .map(_.getAs[Double]("value")).sorted
    val test_ = ev.filterNot(_.getAs[Boolean]("is_cal"))
      .map(_.getAs[Double]("value"))
    assert(out.length == 3)
    out.foreach { r =>
      val alphaPct = math.round(r.getAs[Double]("alpha") * 100).toInt
      val n = r.getAs[Long]("n_cal")
      assert(n == cal.length)
      val k = ((n + 1) * (100 - alphaPct) + 99) / 100
      assert(r.getAs[Long]("k") == k, s"rank rule at alpha=$alphaPct")
      val naive = BigDecimal.valueOf(cal(k.toInt - 1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("threshold") == naive,
        s"k-th order statistic at alpha=$alphaPct")
      // coverage accounting: n_covered counts test scores <= threshold
      val thr = cal(k.toInt - 1)
      assert(r.getAs[Long]("n_covered") == test_.count(_ <= thr))
      assert(r.getAs[Long]("n_test") == test_.length)
    }
  }

  test("q275: tiny calibration split clamps k to n_cal instead of dropping the row") {
    // r10 ADVICE: with n_cal < (100-a)/a the raw k = ceil((n+1)(1-a))
    // exceeds n_cal, no histogram bucket satisfies cum >= k, and the
    // alpha's row silently vanished. Plant a split small enough that
    // alpha=5% clamps (k -> n_cal, threshold = max calibration score)
    // while alpha=20% stays on the raw rank rule.
    val ev = graft.sources.Tables.events(spark, sf)
      .withColumn("is_cal",
        expr("pmod(cast(conv(substring(md5(cast(event_id as string)), 1, 15), " +
          "16, 10) as bigint), 5) = 0"))
    val calIds = ev.filter(col("is_cal")).select("event_id")
      .orderBy("event_id").limit(10).collect().map(_.getLong(0))
    val testIds = ev.filter(!col("is_cal")).select("event_id")
      .orderBy("event_id").limit(30).collect().map(_.getLong(0))
    val keep = (calIds ++ testIds).toSet
    val tmp = Scratch.dir("q275_tiny").toString
    graft.sources.Tables.events(spark, sf)
      .filter(col("event_id").isInCollection(keep))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = MixQueries.q275Conformal(spark, tmp).collect()
    assert(out.length == 3, "every alpha row survives a tiny split")
    val calMax = ev.filter(col("is_cal") && col("event_id").isInCollection(calIds))
      .agg(max("value")).head.getDouble(0)
    out.foreach { r =>
      val alphaPct = math.round(r.getAs[Double]("alpha") * 100).toInt
      val n = r.getAs[Long]("n_cal")
      assert(n == 10L)
      val raw = ((n + 1) * (100 - alphaPct) + 99) / 100
      val k = math.min(raw, n)
      assert(r.getAs[Long]("k") == k, s"clamped rank at alpha=$alphaPct")
      if (raw > n) // the clamped row reports the max calibration score
        assert(r.getAs[Double]("threshold") ==
          BigDecimal.valueOf(calMax).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(out.exists(r =>
      ((r.getAs[Long]("n_cal") + 1) * (100 - math.round(r.getAs[Double]("alpha") * 100)) + 99) / 100
        > r.getAs[Long]("n_cal")), "the planted split must actually exercise the clamp")
  }

  test("q275: empirical coverage meets the 1-alpha guarantee (with finite-sample slack)") {
    val out = MixQueries.q275Conformal(spark, sf).collect()
    out.foreach { r =>
      val alpha = r.getAs[Double]("alpha")
      val cov = r.getAs[Double]("coverage_pct") / 100.0
      val n = r.getAs[Long]("n_cal").toDouble
      // split conformal: coverage >= 1 - alpha in expectation; allow
      // ~2 binomial standard errors of slack on the finite test split
      val slack = 2.0 * math.sqrt(alpha * (1 - alpha) / n)
      assert(cov >= 1 - alpha - slack, s"coverage $cov at alpha=$alpha")
    }
  }

  test("q276: diagnosis is internally consistent (share, ratio, salt)") {
    val rows = MixQueries.q276SkewDiagnosis(spark, sf).collect()
    assert(rows.length == 10) // sf0.001 has exactly 10 suppkeys — all report
    val nKeys = rows.head.getAs[Long]("n_keys")
    val maxCnt = rows.head.getAs[Long]("max_cnt")
    // descending by cnt, ties by key asc
    val cnts = rows.map(_.getAs[Long]("cnt"))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    assert(cnts.head == maxCnt)
    rows.foreach { r =>
      val cnt = r.getAs[Long]("cnt")
      val salt = r.getAs[Int]("salt_parts")
      // salt = ceil(cnt / mean) capped at 32, and always >= 1
      assert(salt >= 1 && salt <= 32)
      assert(r.getAs[Long]("p99_cnt") <= maxCnt)
      assert(r.getAs[Long]("n_keys") == nKeys)
      assert(cnt <= maxCnt)
    }
  }

  test("q278: KM curve is monotone non-increasing from <= 1 and risk sets telescope") {
    val rows = MixQueries.q278KaplanMeier(spark, sf).collect()
    assert(rows.nonEmpty)
    val surv = rows.map(_.getAs[Double]("survival"))
    assert(surv.head <= 1.0 + 1e-9)
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a + 1e-9 })
    // n_risk(t+1) = n_risk(t) - events(t) - censored(t)
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(b.getAs[Long]("n_risk") ==
        a.getAs[Long]("n_risk") - a.getAs[Long]("n_events") -
          a.getAs[Long]("n_censored"))
    }
    // survival at t equals the telescoped product of (1 - d/n) up to t
    var prod = 1.0
    rows.foreach { r =>
      prod *= (r.getAs[Long]("n_risk") - r.getAs[Long]("n_events")).toDouble /
        r.getAs[Long]("n_risk")
      assert(math.abs(r.getAs[Double]("survival") - prod) < 5e-7)
    }
  }

  test("q279: CUPED preserves the pooled mean exactly (the sum(y_adj) = sum(y) identity)") {
    val rows = MixQueries.q279Cuped(spark, sf).collect()
    assert(rows.length == 2)
    def pooled(c: String) = rows.map(r =>
      r.getAs[Double](c) * r.getAs[Long]("n_users")).sum
    assert(math.abs(pooled("mean_adj") - pooled("mean_post")) < 1e-2)
    // theta is a global scalar: identical across variants
    assert(rows.map(_.getAs[Double]("theta")).distinct.length == 1)
    // adjusted variance never exceeds raw variance materially (CUPED
    // guarantees var(y') = var(y)(1 - rho^2) at the pooled level)
    rows.foreach { r =>
      assert(r.getAs[Double]("var_adj") <=
        r.getAs[Double]("var_post") * 1.05)
    }
  }

  test("q277: coverage + OOV accounting closes per source") {
    val rows = MixQueries.q277VocabCoverage(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val oov = r.getAs[Long]("oov_tokens")
      val cov = r.getAs[Double]("coverage_pct")
      assert(oov >= 0 && oov <= n)
      val expected = BigDecimal.valueOf(100.0 * (n - oov) / n)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(cov == expected, s"coverage must equal 100*(n-oov)/n for $r")
      // a 16-type vocab over a 31-type corpus must leave real OOV mass
      assert(r.getAs[Long]("oov_types") >= 1)
    }
  }
}
