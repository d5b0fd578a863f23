package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Hand-computed oracles for the segmentation/shortlist tranche
  * (q196–q199): RFM bands on a planted order book, fuzzy ER blocking
  * + distance cut, skyline vs brute-force dominance, lift table on a
  * perfectly separating score. */
class SegmentOpsSpec extends AnyFunSuite with SparkFixture {

  test("rfm: planted whale / lapsed / new customers score as expected") {
    val s = spark; import s.implicits._
    // 5 customers, anchor date 2024-01-10. Customer 1: frequent,
    // recent, big spender → champion. Customer 5: one stale small
    // order → hibernating.
    val orders = Seq(
      (1L, "2024-01-10", 500.0), (1L, "2024-01-08", 400.0),
      (1L, "2024-01-05", 300.0), (1L, "2024-01-02", 200.0),
      (2L, "2024-01-09", 50.0), (2L, "2024-01-03", 60.0), (2L, "2024-01-01", 40.0),
      (3L, "2024-01-06", 100.0), (3L, "2024-01-04", 80.0),
      (4L, "2023-12-20", 90.0), (4L, "2023-12-28", 70.0),
      (5L, "2023-12-01", 10.0)
    ).toDF("cust", "d", "amt").withColumn("d", to_dateCol("d"))
    val out = Rfm.scores(orders, "cust", "d", "amt")
      .collect().map(r => r.getAs[Long]("cust") ->
        ((r.getAs[Long]("recency_days"), r.getAs[Long]("n_orders"),
          r.getAs[Long]("monetary_cents"), r.getAs[Int]("r"),
          r.getAs[Int]("f"), r.getAs[Int]("m"), r.getAs[String]("segment")))).toMap
    // metrics: recency (days to 2024-01-10): c1=0 c2=1 c3=4 c4=13 → cuts
    // at ceil(q*5): k=1,2,3,4 of sorted [0,1,4,13,40]
    assert(out(1L)._1 == 0L && out(1L)._2 == 4L && out(1L)._3 == 140000L)
    assert(out(1L)._4 == 5 && out(1L)._5 == 5 && out(1L)._6 == 5)
    assert(out(1L)._7 == "champion")
    assert(out(5L)._1 == 40L && out(5L)._2 == 1L && out(5L)._3 == 1000L)
    assert(out(5L)._4 == 1 && out(5L)._5 == 1 && out(5L)._6 == 1)
    assert(out(5L)._7 == "hibernating")
    // customer 4: stale (recency 13 → band 4 → r=2) but mid frequency
    // (2 orders = value at cuts c1=1,c2=2,c3=3,c4=4 → band 2) → f=2 →
    // hibernating branch (r<=2 && f<=2)
    assert(out(4L)._4 == 2 && out(4L)._7 == "hibernating")
  }

  private def to_dateCol(c: String) = org.apache.spark.sql.functions.to_date(
    org.apache.spark.sql.functions.col(c))

  test("rfm: tied metric values always share a band") {
    val s = spark; import s.implicits._
    // all five customers identical → every cut equals the value →
    // v > cut false everywhere → band 1 on every axis for everyone
    val orders = (1 to 5).flatMap(c => Seq((c.toLong, "2024-01-05", 100.0)))
      .toDF("cust", "d", "amt").withColumn("d", to_dateCol("d"))
    val out = Rfm.scores(orders, "cust", "d", "amt").collect()
    assert(out.length == 5)
    // recency band 1 → r = 5; f and m band 1
    assert(out.forall(r => r.getAs[Int]("r") == 5 && r.getAs[Int]("f") == 1 &&
      r.getAs[Int]("m") == 1))
  }

  test("fuzzy er: blocking bounds candidates, distance cuts, support carried") {
    val s = spark; import s.implicits._
    val df = Seq("red bolt", "red bolt", "ted bolt", "blue bolt",
      "red ring", "rot ring").toDF("name")
    val out = EntityRes.fuzzyNameMatches(df, "name", maxDist = 2)
      .collect().map(r => (r.getAs[String]("name_a"), r.getAs[String]("name_b"),
        r.getAs[Int]("dist"), r.getAs[Long]("n_rows_a"), r.getAs[Long]("n_rows_b")))
    // "red bolt"–"ted bolt" dist 1; "red ring"–"rot ring" dist 2;
    // "blue bolt"–"red bolt" dist 3 → cut; cross-block pairs never
    // generated ("red bolt"–"red ring" dist 3 anyway)
    assert(out.toSet == Set(
      ("red bolt", "ted bolt", 1, 2L, 1L),
      ("red ring", "rot ring", 2, 1L, 1L)))
  }

  test("skyline: running-max identity matches brute-force dominance") {
    val s = spark; import s.implicits._
    val parts = Seq(
      // (id, price, size): frontier = 1 (cheapest), 3 (same price as 2
      // but bigger), 5 (pricier but biggest). 2 dominated by 3
      // (equal price, smaller), 4 dominated by 3 (pricier, smaller),
      // 6 is an equal-(price,size) tie with 5 — BOTH kept.
      (1L, 1.0, 3), (2L, 2.0, 4), (3L, 2.0, 5), (4L, 3.0, 4),
      (5L, 4.0, 9), (6L, 4.0, 9)
    ).toDF("id", "price", "sz")
    val got = Skyline.paretoFrontier2D(parts, "price", "sz")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L, 5L, 6L))
    // brute force on the same frame must agree
    val rows = parts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val brute = rows.filter { case (_, p, z) =>
      !rows.exists { case (_, p2, z2) =>
        p2 <= p && z2 >= z && (p2 < p || z2 > z) }
    }.map(_._1).toSet
    assert(got == brute)
  }

  test("lift table: perfectly separating score concentrates positives in bucket 1") {
    val s = spark; import s.implicits._
    // 100 rows, scores 1..100, positives = top 10 scores exactly
    val df = (1 to 100).map(i => (i.toDouble, if (i > 90) 1 else 0))
      .toDF("score", "y")
    val out = Eval.liftTable(df, "score", "y", nBuckets = 10)
      .collect().map(r => r.getAs[Int]("bucket") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_pos"),
          r.getAs[Double]("capture"), r.getAs[Double]("lift")))).toMap
    // cuts at scores 10,20,…,90 → bucket 1 = scores 91..100 = all pos
    assert(out(1)._1 == 10L && out(1)._2 == 10L)
    assert(out(1)._3 == 1.0)   // all positives captured by bucket 1
    assert(out(1)._4 == 10.0)  // pos_rate 1.0 vs base rate 0.1
    assert(out(10)._2 == 0L && out(10)._3 == 1.0)
  }

  test("cdf transform: mid-rank CDF with ties, per group") {
    val s = spark; import s.implicits._
    // group a: values [1, 2, 2, 4] → avgranks 1, 2.5, 2.5, 4 → cdf
    // 0.25, 0.625, 0.625, 1.0; group b: single value → cdf 1·avg(1)/1? n=1 → (0+1)/1 = 1.0
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 2.0),
      (4L, "a", 4.0), (5L, "b", 7.0)).toDF("id", "grp", "v")
    val out = StatTests.cdfTransform(df, "v", Seq("grp"), Seq("id"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("cdf")).toMap
    assert(out == Map(1L -> 0.25, 2L -> 0.625, 3L -> 0.625, 4L -> 1.0, 5L -> 1.0))
  }

  test("containment: embedded doc scores high where jaccard dilutes") {
    val s = spark; import s.implicits._
    // doc 2 is doc 1 verbatim inside a much larger doc: containment of
    // the pair is 1.0 on the small side while jaccard is far below
    val small = "alpha beta gamma delta epsilon"
    val big = small + " " + (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, small), (2L, big), (3L, "zeta eta theta iota"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df, threshold = 0.5)
      .collect().map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        (r.getAs[Int]("na"), r.getAs[Long]("shared"), r.getAs[Double]("containment"))))
      .toMap
    // small doc: 3 shingles, all present in big → containment 1.0
    assert(out.keySet == Set((1L, 2L)))
    assert(out((1L, 2L)) == ((3, 3L, 1.0)))
    // the same pair under symmetric jaccard is shared/(na+nb-shared)
    // = 3/43 ≈ 0.07 — the q33 operator at any useful threshold
    // misses it, which is the point of this operator
    val j = Dedup.ngramJaccardPairs(df, threshold = 0.5)
    assert(j.count() == 0)
  }

  test("balanced sample: every class cut to the minority size, hash-stable") {
    val s = spark; import s.implicits._
    // classes: a×6, b×3, c×4 → every class keeps exactly 3
    val df = ((1 to 6).map(i => (i.toLong, "a")) ++
      (7 to 9).map(i => (i.toLong, "b")) ++
      (10 to 13).map(i => (i.toLong, "c"))).toDF("id", "cls")
    val out = Curation.classBalancedSample(df, "id", "cls")
    val byCls = out.collect().groupBy(_.getAs[String]("cls")).view.mapValues(_.length)
    assert(byCls.toMap == Map("a" -> 3, "b" -> 3, "c" -> 3))
    // determinism: same input → same membership
    val again = Curation.classBalancedSample(df, "id", "cls")
      .collect().map(_.getAs[Long]("id")).toSet
    assert(again == out.collect().map(_.getAs[Long]("id")).toSet)
  }

  test("negative sampling: k draws per entity, observed positives excluded") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "x"), (1L, "y"), (2L, "x"), (3L, "z"))
      .toDF("u", "it")
    val out = Curation.negativeSamples(df, "u", "it", k = 3).collect()
    // never more than k rows per entity, and no (entity, item) pair
    // that was observed as a positive
    val pos = Set((1L, "x"), (1L, "y"), (2L, "x"), (3L, "z"))
    assert(out.groupBy(_.getAs[Long]("entity")).forall(_._2.length <= 3))
    assert(out.forall(r =>
      !pos.contains((r.getAs[Long]("entity"), r.getAs[String]("item")))))
    // every sampled item is from the observed vocabulary
    assert(out.forall(r => Set("x", "y", "z").contains(r.getAs[String]("item"))))
    // no duplicate negatives: two draws hashing to the same item are
    // deduped (lowest draw kept), never double-weighted
    val pairs = out.map(r => (r.getAs[Long]("entity"), r.getAs[String]("item")))
    assert(pairs.distinct.length == pairs.length)
    // deterministic across runs
    val again = Curation.negativeSamples(df, "u", "it", k = 3).collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq ==
      again.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq)
  }

  test("covariate balance: planted biased assignment flags imbalance") {
    val s = spark; import s.implicits._
    // arm 1 systematically higher on cov_biased, identical on cov_ok
    val units = (0 until 40).map { i =>
      val arm = i % 2
      (arm, (i % 7).toDouble, if (arm == 1) 100.0 + i else 10.0 + i)
    }.toDF("arm", "cov_ok", "cov_biased")
    val out = Experiment.covariateBalance(units, "arm", Seq("cov_ok", "cov_biased"))
      .collect().map(r => r.getAs[String]("covariate") ->
        ((r.getAs[Double]("smd"), r.getAs[Int]("balanced")))).toMap
    assert(out("cov_biased")._1 > 1.0 && out("cov_biased")._2 == 0)
    assert(math.abs(out("cov_ok")._1) < 0.5)
    // zero-variance covariate reports null smd, not a NaN
    val degen = Seq((0, 1.0), (0, 1.0), (1, 1.0), (1, 1.0)).toDF("arm", "c")
    val d = Experiment.covariateBalance(degen, "arm", Seq("c")).collect()(0)
    assert(d.isNullAt(d.fieldIndex("smd")))
    // a single-unit arm has an UNDEFINED sample variance: sd must be
    // NULL (the DuckDB division-by-zero convention), never 0/0 = NaN
    val single = Seq((0, 1.0), (0, 3.0), (1, 2.0)).toDF("arm", "c")
    val sr = Experiment.covariateBalance(single, "arm", Seq("c")).collect()(0)
    assert(!sr.isNullAt(sr.fieldIndex("sd0")))
    assert(sr.isNullAt(sr.fieldIndex("sd1")))
    assert(sr.isNullAt(sr.fieldIndex("smd")))
  }

  test("mode by group: argmax with tie to smallest value, nulls dropped") {
    val s = spark; import s.implicits._
    // g1: b×3 beats a×2; g2: a×2 ties c×2 → keep 'a'; nulls never count
    val df = (Seq.fill(2)(("g1", "a")) ++ Seq.fill(3)(("g1", "b")) ++
      Seq.fill(2)(("g2", "a")) ++ Seq.fill(2)(("g2", "c")) ++
      Seq(("g2", "b")) ++ Seq(("g2", null: String)))
      .toDF("g", "v")
    val out = Profile.modeByGroup(df, Seq("g"), "v")
      .collect().map(r => r.getAs[String]("g") ->
        ((r.getAs[String]("mode_value"), r.getAs[Long]("mode_count"),
          r.getAs[Long]("n_distinct")))).toMap
    assert(out("g1") == (("b", 3L, 2L)))
    assert(out("g2") == (("a", 2L, 3L)))
  }

  test("canonical per cluster: non-default id column works end to end") {
    val s = spark; import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq((1L, base, 40L), (2L, base + " iota", 45L))
      .toDF("pk", "text", "quality")
    val out = Dedup.canonicalPerCluster(df, "quality", threshold = 0.5,
      idCol = "pk").collect()
    assert(out.length == 1 && out(0).getAs[Long]("kept_doc_id") == 2L)
  }

  test("json profile: keys, distincts, numeric share, malformed dropped") {
    val s = spark; import s.implicits._
    val df = Seq(
      """{"a": 1, "b": "x"}""", """{"a": 2.5, "b": "x"}""",
      """{"a": "word"}""", "not json at all")
      .map(Tuple1(_)).toDF("js")
    val out = Profile.jsonProfile(df, "js")
      .collect().map(r => r.getAs[String]("key") ->
        ((r.getAs[Long]("n_present"), r.getAs[Long]("n_distinct"),
          r.getAs[Double]("numeric_share")))).toMap
    assert(out(("a")) == ((3L, 3L, 2.0 / 3)))
    assert(out(("b")) == ((2L, 1L, 0.0)))
    assert(out.size == 2) // the malformed row contributes nothing
  }

  test("markov backtest: deterministic alternating sequences score 1.0") {
    val s = spark; import s.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // every user alternates A,B,A,B,A → transitions A->B, B->A always
    val rows = (0 until 40).flatMap { u =>
      (0 until 5).map(i => (s"u$u", i.toLong, ts(i * 60L),
        if (i % 2 == 0) "A" else "B"))
    }
    val df = rows.toDF("user_id", "event_id", "ts", "event_type")
    val out = Sequences.markovBacktest(df, "user_id", "ts", "event_type",
      "event_id").collect()
    assert(out.nonEmpty)
    val m = out.map(r => r.getAs[String]("state") ->
      r.getAs[String]("predicted_next")).toMap
    assert(m == Map("A" -> "B", "B" -> "A"))
    assert(out.forall(_.getAs[Double]("accuracy") == 1.0))
    assert(out.forall(_.getAs[Double]("overall_accuracy") == 1.0))
  }

  test("brier decomposition: calibrated two-bin forecast, exact Murphy terms") {
    val s = spark; import s.implicits._
    // 8 @ p=.25 (2 pos) + 8 @ p=.75 (6 pos): reliability 0,
    // resolution .0625, uncertainty .25, brier = 0 - .0625 + .25 = .1875
    val rows = (Seq.fill(2)((0.25, 1)) ++ Seq.fill(6)((0.25, 0)) ++
      Seq.fill(6)((0.75, 1)) ++ Seq.fill(2)((0.75, 0)))
    val out = Eval.brierDecomposition(rows.toDF("p", "y"), "p", "y", nBins = 10)
      .collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[Double]("reliability") == 0.0))
    assert(out.forall(_.getAs[Double]("resolution") == 0.0625))
    assert(out.forall(_.getAs[Double]("uncertainty") == 0.25))
    assert(out.forall(_.getAs[Double]("brier") == 0.1875))
  }

  test("heaps fit: hand-built vocabulary growth points") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "a b"), (2L, "a c"), (3L, "a b c d"), (4L, "e"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextSearch.heapsFit(df, nCheckpoints = 4)
      .collect().sortBy(_.getAs[Double]("q"))
    assert(out.map(_.getAs[Long]("n_tokens")).toSeq == Seq(2L, 4L, 8L, 9L))
    assert(out.map(_.getAs[Long]("vocab")).toSeq == Seq(2L, 3L, 4L, 5L))
    assert(out.head.getAs[Double]("beta") > 0.0)
    assert(out.head.getAs[Double]("r2") > 0.8)
  }

  test("partition advisor: counts, skew, and small-partition exposure") {
    val s = spark; import s.implicits._
    // k: a×6, b×2, c×2 → 3 parts, avg 3.33, skew 6/(10/3) = 1.8
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c"))
      .toDF("k")
    val out = graft.operators.Layout.partitionAdvisor(df,
      Seq("by_k" -> org.apache.spark.sql.functions.col("k")), smallRows = 3L)
      .collect()(0)
    assert(out.getAs[Long]("n_partitions") == 3L)
    assert(out.getAs[Long]("max_rows") == 6L)
    assert(out.getAs[Double]("avg_rows") == 3.33)
    assert(out.getAs[Double]("skew") == 1.8)
    assert(out.getAs[Long]("n_small") == 2L)
  }

  test("cosine histogram: orthogonal plants split bins, all pairs counted") {
    val s = spark; import s.implicits._
    // 4 axis vectors: offset-1 pairs orthogonal (cos 0 → bin 10),
    // offset-2 pairs equal-axis scaled (cos 1 → bin 19, clamped)
    val vs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(2f, 0f)), (3L, Array(0f, 3f)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Embeddings.cosineHistogram(s, vs,
        offsets = Seq(1, 2))
      .collect().map(r => r.getAs[Int]("bin") -> r.getAs[Long]("n_pairs")).toMap
    assert(out == Map(10 -> 3L, 19 -> 2L))
  }

  test("water-fill: small source saturates, surplus splits by weight") {
    val s = spark; import s.implicits._
    // A(10,w1) saturates; remaining 100 splits over w=3:
    // B(100,w1)→33, C(100,w2)→66; 1 token floor remainder
    val avail = Seq(("A", 10L, 1L), ("B", 100L, 1L), ("C", 100L, 2L))
      .toDF("src", "a", "w")
    val budget = avail.agg(org.apache.spark.sql.functions.lit(110L).as("budget"))
    val out = Curation.waterFillAllocation(avail, "src", "a", "w", budget)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("allocated"), r.getAs[Boolean]("saturated")))).toMap
    assert(out("A") == ((10L, true)))
    assert(out("B") == ((33L, false)))
    assert(out("C") == ((66L, false)))
    // budget above total availability: everything saturates
    val big = avail.agg(org.apache.spark.sql.functions.lit(10000L).as("budget"))
    val all = Curation.waterFillAllocation(avail, "src", "a", "w", big)
      .collect()
    assert(all.forall(_.getAs[Boolean]("saturated")))
    assert(all.map(_.getAs[Long]("allocated")).sum == 210L)
  }

  test("log-rank: hand-computed O/E/chi2 on alternating event times") {
    val s = spark; import s.implicits._
    // A events at t=1,3; B at t=2,4 — E_A = .5 + 1/3 + .5 = 1.3333,
    // Var = .25 + 2/9 + .25 = 0.7222, chi2 = (2 - 4/3)^2/0.7222 = 0.6154
    val df = Seq(("A", 1L, 1), ("A", 3L, 1), ("B", 2L, 1), ("B", 4L, 1))
      .toDF("g", "dur", "ev")
    val out = Survival.logRankTest(df, "dur", "ev", "g")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out("A").getAs[Long]("observed") == 2L)
    assert(out("A").getAs[Double]("expected") == 1.3333)
    assert(out("B").getAs[Double]("expected") == 2.6667)
    assert(out("A").getAs[Double]("chi2") == 0.6154)
    // censored-only group contributes at-risk mass but no events
    val df2 = Seq(("A", 2L, 1), ("B", 2L, 0), ("B", 3L, 0)).toDF("g", "dur", "ev")
    val o2 = Survival.logRankTest(df2, "dur", "ev", "g")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(o2("B").getAs[Long]("observed") == 0L)
    assert(o2("A").getAs[Double]("expected") == 0.3333) // 1·(1/3)
  }

  test("zipf fit: an exact 1/rank corpus fits slope -1, r2 = 1") {
    val s = spark; import s.implicits._
    // counts 12/6/4/3 = 12/rank exactly → ln-ln OLS is a perfect line
    val toks = Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
      Seq.fill(4)("cc") ++ Seq.fill(3)("dd")
    val df = toks.map(t => Tuple1(t)).toDF("text")
    val r = graft.operators.TextSearch.zipfFit(df, topK = 4).collect()(0)
    assert(r.getAs[Long]("n_terms") == 4L)
    assert(r.getAs[Double]("slope") == -1.0)
    assert(r.getAs[Double]("r2") == 1.0)
    assert(r.getAs[Double]("top1_share") == 0.48) // 12/25
  }

  test("corpus card: planted mini-corpus accounting") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "aaaa", "en"), (2L, "aaaa", "en"), (3L, "bb", "de"))
      .toDF("doc_id", "text", "lang")
    val out = Curation.corpusCard(df, "text", Seq("lang"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out(("count", "total")) == 3.0)
    assert(out(("count_lang", "en")) == 2.0 && out(("count_lang", "de")) == 1.0)
    assert(out(("len_chars", "min")) == 2.0 && out(("len_chars", "max")) == 4.0)
    assert(out(("len_chars", "p50")) == 4.0) // ceil(0.5·3) = rank 2 → 4
    assert(out(("dup", "dup_fingerprints")) == 1.0)
    assert(out(("dup", "dup_docs")) == 2.0)
  }

  test("jaro-winkler: textbook values, boost gate, and blocked linkage") {
    val s = spark; import s.implicits._
    // classic probe set (values match DuckDB's jaro_winkler_similarity)
    val cases = Seq(
      ("martha", "marhta", 0.961111), ("dixon", "dicksonx", 0.813333),
      ("duane", "dwayne", 0.84), ("crates", "traces", 0.777778),
      ("abc", "abc", 1.0), ("abc", "xyz", 0.0),
      // jaro = 0.6 ≤ 0.7 → the prefix boost must NOT apply
      ("abcdxxxxxx", "abcdyyyyyy", 0.6))
    val got = cases.toDF("a", "b", "want")
      .selectExpr("round(jaro_winkler(a, b), 6) AS got", "want")
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
    // blocked linkage: same-noun near-names pair, cross-noun never
    val df = Seq("small ring", "smal ring", "small bolt", "tiny gear")
      .toDF("nm")
    val out = EntityRes.jaroWinklerMatches(df, "nm", threshold = 0.9)
      .collect().map(r => (r.getAs[String]("name_a"), r.getAs[String]("name_b")))
    assert(out.toSeq == Seq(("smal ring", "small ring")))
  }

  test("corpus refresh: revision beats incumbent, re-add ties and loses") {
    val s = spark; import s.implicits._
    // old corpus: 1 and 2 near-identical (2 survives full dedup by
    // length), 3 standalone. new snapshot: 2 revised (longer — must
    // now beat 1), 3 unchanged, 4 = re-ingest of 3's text under a new
    // id (tie on quality → incumbent 3 survives), 5 brand-new unique
    val d1 = "alpha beta gamma delta epsilon zeta eta theta"
    val d3 = "one two three four five six seven eight"
    val old = Seq((1L, d1), (2L, d1 + " iota"), (3L, d3)).toDF("doc_id", "text")
    val neu = Seq((1L, d1), (2L, d1 + " iota kappa lambda"), (3L, d3),
      (4L, d3), (5L, "totally different unrelated words entirely here"))
      .toDF("doc_id", "text")
    val out = Dedup.corpusRefresh(old, neu,
        quality = org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")),
        threshold = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out == Set(2L, 3L, 5L))
  }

  test("canonical per cluster: keeps the highest-quality member, ties to lowest id") {
    val s = spark; import s.implicits._
    // docs 1,2,3 are near-identical (one cluster); 3 is the longest →
    // kept; docs 10,11 identical text AND equal quality → tie, keep 10
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, base, 40L), (2L, base + " iota", 45L), (3L, base + " iota kappa", 50L),
      (10L, "one two three four five six", 30L), (11L, "one two three four five six", 30L),
      (20L, "totally different words here entirely unrelated", 99L)
    ).toDF("doc_id", "text", "n_chars")
    val out = Dedup.canonicalPerCluster(df, "n_chars", threshold = 0.5)
      .collect().map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("kept_doc_id"), r.getAs[Long]("n_members"),
          r.getAs[Long]("best_quality")))).toMap
    assert(out(1L) == ((3L, 3L, 50L)))
    assert(out(10L) == ((10L, 2L, 30L)))
    assert(!out.contains(20L)) // singletons form no cluster
  }

  test("packing audit: integer waste accounting per policy") {
    val s = spark; import s.implicits._
    // lengths 3, 5, 12 with budget 4:
    //   truncate: 3 seqs, kept 3+4+4=11, overflow 0+1+8=9, pad 12-11=1
    //   chunk: ceil(3/4)+ceil(5/4)+ceil(12/4) = 1+2+3 = 6 seqs, used 20, pad 4
    //   concat: ceil(20/4) = 5 seqs, used 20, pad 0
    val df = Seq(3L, 5L, 12L).toDF("len")
    val out = Curation.packingAudit(df, org.apache.spark.sql.functions.col("len"), budget = 4)
      .collect().map(r => r.getAs[String]("policy") ->
        ((r.getAs[Long]("n_seqs"), r.getAs[Long]("used_tokens"),
          r.getAs[Long]("overflow_tokens"), r.getAs[Long]("padded_tokens")))).toMap
    assert(out("1_truncate") == ((3L, 11L, 9L, 1L)))
    assert(out("2_chunk") == ((6L, 20L, 0L, 4L)))
    assert(out("3_concat") == ((5L, 20L, 0L, 0L)))
  }

  test("lift table: tied scores share a bucket") {
    val s = spark; import s.implicits._
    // one heavy tie: 95 rows score 1, 5 rows score 2 → every cut = 1,
    // so all score-1 rows land together in the bottom band
    val df = ((1 to 95).map(_ => (1.0, 0)) ++ (1 to 5).map(_ => (2.0, 1)))
      .toDF("score", "y")
    val out = Eval.liftTable(df, "score", "y", nBuckets = 10)
      .collect().map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("n"),
        r.getAs[Long]("n_pos")))
    // bands: score 2 > all cuts → band 10 → bucket 1; score 1 → band 1
    // → bucket 10; 8 empty buckets absent
    assert(out.toSet == Set((1, 5L, 5L), (10, 95L, 0L)))
  }
}
