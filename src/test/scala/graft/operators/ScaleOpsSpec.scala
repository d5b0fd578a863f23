package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Round-7 scale tranche: salted skew join (result-identity +
  * salt-spread), histogram PSI drift (hand-computed, identity, and
  * clamping cases), and linear time interpolation (hand-computed
  * weights, edge fills, degenerate guards). */
class ScaleOpsSpec extends AnyFunSuite with SparkFixture {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("saltedEquiJoin: identical rows to the plain join on a skewed fact") {
    val s = spark; import s.implicits._
    // 90% of fact rows share key 1 — the shape salting exists for
    val fact = ((1 to 90).map(i => (1L, i.toLong)) ++
      (1 to 10).map(i => (2L, (100 + i).toLong))).toDF("k", "payload")
    val dim = Seq((1L, "hot"), (2L, "cold"), (3L, "unmatched")).toDF("k", "label")
    val salted = SkewJoin.saltedEquiJoin(fact, dim, Seq("k"), salts = 4)
    val plain = fact.join(dim, Seq("k"))
    assert(salted.collect().map(_.toSeq).toSet === plain.collect().map(_.toSeq).toSet)
    assert(salted.count() === 100L)
    // the join actually runs on (k, __salt): visible in the plan
    val plan = salted.queryExecution.optimizedPlan.toString
    assert(plan.contains("__salt"), s"salt column absent from join plan:\n$plan")
  }

  test("saltedEquiJoin: the hot key's rows spread over salts, deterministically per row") {
    val s = spark; import s.implicits._
    val fact = (1 to 64).map(i => (1L, i.toLong)).toDF("k", "payload")
      .repartition(4)
    val dim = Seq((1L, "hot")).toDF("k", "label")
    // reconstruct the salt the operator assigns (same whole-row hash
    // expression): distinct payloads must fan the hot key over several
    // salts, and the assignment must be a pure function of row CONTENT
    // (stage-retry safety — a positional salt would reassign on
    // recompute and silently corrupt the join)
    def salts(df: org.apache.spark.sql.DataFrame) = df.withColumn("__salt",
        pmod(xxhash64(df.columns.map(col): _*), lit(4L)).cast("int"))
      .select("payload", "__salt").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val assigned = salts(fact)
    assert(assigned.values.toSet.size >= 2, "hot key's rows must spread over salts")
    assert(salts(fact.repartition(7)) === assigned,
      "salt must be content-deterministic, independent of partitioning")
    assert(SkewJoin.saltedEquiJoin(fact, dim, Seq("k"), 4).count() === 64L)
  }

  test("histogramPsi: identical snapshots score psi = 0, verdict stable") {
    val s = spark; import s.implicits._
    val df = (1 to 100).map(i => i.toLong).toDF("v")
    val out = Drift.histogramPsi(df, df, "v", nBins = 5).collect()
    assert(out.length === 5)
    assert(out.forall(_.getAs[Double]("psi") === 0.0))
    assert(out.forall(_.getAs[String]("verdict") === "stable"))
    assert(out.map(_.getAs[Long]("n_old")).sum === 100L)
  }

  test("histogramPsi: hand-computed two-bin shift and edge-bin clamping") {
    val s = spark; import s.implicits._
    // old: values 0 and 10 → lo=0, hi=10; 2 bins split at 5
    val old = (Seq.fill(8)(0L) ++ Seq.fill(2)(10L)).toDF("v")
    // new: mass moves to the top bin, plus out-of-range 99 clamps into it
    val neu = (Seq.fill(2)(0L) ++ Seq.fill(7)(10L) ++ Seq(99L)).toDF("v")
    val out = Drift.histogramPsi(old, neu, "v", nBins = 2)
      .orderBy("bin").collect()
    assert(out.map(_.getAs[Long]("n_old")).toSeq === Seq(8L, 2L))
    assert(out.map(_.getAs[Long]("n_new")).toSeq === Seq(2L, 8L)) // 99 clamped up
    // smoothed: po=(8.5/11, 2.5/11), pn=(2.5/11, 8.5/11)
    val po = Seq(8.5 / 11, 2.5 / 11); val pn = Seq(2.5 / 11, 8.5 / 11)
    val expect = (0 until 2).map(i => (pn(i) - po(i)) * math.log(pn(i) / po(i))).sum
    val psi = out.head.getAs[Double]("psi")
    assert(math.abs(psi - expect) < 1e-6, s"psi $psi vs $expect")
    assert(out.forall(_.getAs[String]("verdict") === "shifted"))
  }

  test("interpolate.linear: hand-computed time weights, edge fills, observed passthrough") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), Some(10.0), 1L),
      (1L, ts("2024-01-01 00:01:00"), None, 2L),      // 1/3 of the way 10→40
      (1L, ts("2024-01-01 00:03:00"), Some(40.0), 3L),
      (2L, ts("2024-01-01 00:00:00"), None, 4L),      // leading gap → backfill 7
      (2L, ts("2024-01-01 00:01:00"), Some(7.0), 5L),
      (2L, ts("2024-01-01 00:02:00"), None, 6L)       // trailing gap → ffill 7
    ).toDF("k", "ts", "value", "id")
    val out = Interpolate.linear(df, Seq("k"), "ts", "value", Seq("id"))
      .orderBy("k", "id")
      .collect().map(_.getAs[Double]("value_filled"))
    assert(out.toSeq === Seq(10.0, 20.0, 40.0, 7.0, 7.0, 7.0))
  }

  test("interpolate.linear: equal-ts neighbors guard and all-null key") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), Some(5.0), 1L),
      (1L, ts("2024-01-01 00:00:00"), None, 2L),  // same instant: 0/0 guard → 5
      (1L, ts("2024-01-01 00:00:00"), Some(9.0), 3L),
      (3L, ts("2024-01-01 00:00:00"), None, 7L)   // whole key null → stays null
    ).toDF("k", "ts", "value", "id")
    val out = Interpolate.linear(df, Seq("k"), "ts", "value", Seq("id"))
      .orderBy("k", "id")
      .collect().map(r => Option(r.getAs[Any]("value_filled")))
    assert(out.toSeq === Seq(Some(5.0), Some(5.0), Some(9.0), None))
  }

  test("winsorizedStats: hand-computed clip bounds, counts, and robust mean") {
    val s = spark; import s.implicits._
    // 20 values 1..20 in one group: p25 = 5, p75 = 15 (k = ceil(q·20))
    val df = (1L to 20L).map(("g", _)).toDF("lang", "v")
    val out = Quantiles.winsorizedStats(df, "v", Seq("lang"),
      loQ = 0.25, hiQ = 0.75, nBuckets = 4).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Double]("p_lo") === 5.0 && r.getAs[Double]("p_hi") === 15.0)
    assert(r.getAs[Long]("n_clipped_low") === 4L)  // 1..4
    assert(r.getAs[Long]("n_clipped_high") === 5L) // 16..20
    // clipped series: 4×5 + (5..15) + 5×15 → mean = (20 + 110 + 75) / 20
    assert(r.getAs[Double]("winsorized_mean") === 10.25)
  }

  test("cohenKappa: hand-computed 2x2 table and the degenerate constant-rater guard") {
    val s = spark; import s.implicits._
    // 10 rows: a=+ for 6, b=+ for 6, agree on 8 (5 ++ and 3 --)
    val rows = Seq(
      (true, true), (true, true), (true, true), (true, true), (true, true),
      (true, false),
      (false, true),
      (false, false), (false, false), (false, false))
    val df = rows.toDF("a", "b")
    val r = Agreement.cohenKappa(df, col("a"), col("b")).collect().head
    assert((r.getAs[Long]("n_pos_pos"), r.getAs[Long]("n_pos_neg"),
      r.getAs[Long]("n_neg_pos"), r.getAs[Long]("n_neg_neg")) === ((5L, 1L, 1L, 3L)))
    val po = 0.8; val pe = 0.6 * 0.6 + 0.4 * 0.4
    val kappa = (po - pe) / (1 - pe) // ≈ 0.5833
    assert(math.abs(r.getAs[Double]("kappa") - kappa) < 1e-6)
    assert(r.getAs[String]("verdict") === "moderate")
    // constant rater: pe = 1 → kappa 0, verdict degenerate (not NaN)
    val const = Seq((true, true), (true, true)).toDF("a", "b")
    val d = Agreement.cohenKappa(const, col("a"), col("b")).collect().head
    assert(d.getAs[Double]("kappa") === 0.0)
    assert(d.getAs[String]("verdict") === "degenerate")
  }

  test("blockedMatches: planted typo matches within blocks; oversized block cut and reported") {
    val s = spark; import s.implicits._
    val recs = Seq(
      (1L, "Acme Corp", "b1"), (2L, "Acme Corp.", "b1"),  // near-match, sim 0.9
      (3L, "Zenith Ltd", "b2"), (4L, "Totally Different", "b2"), // same block, low sim
      (5L, "Orphan", "b3")
    ) ++ (10L to 30L).map(i => (i, s"Flood $i", "hot")) // oversized block
    val df = recs.toDF("id", "name", "block")
    val out = Linkage.blockedMatches(df, "id", Seq("block"), "name",
      threshold = 0.85, maxBlock = 10).collect()
    assert(out.length === 1)
    assert((out.head.getAs[Long]("id_a"), out.head.getAs[Long]("id_b")) === ((1L, 2L)))
    assert(out.head.getAs[Double]("sim") === 0.9)
    assert(out.head.getAs[Long]("block_size") === 2L)
    // the hot block never generated a pair; it surfaces in the worklist
    val over = Linkage.oversizedBlocks(df, Seq("block"), maxBlock = 10).collect()
    assert(over.length === 1 && over.head.getString(0) === "hot" &&
      over.head.getAs[Long]("block_size") === 21L)
  }

  test("ohlcBars: order-dependent open/close with tie-break, high/low/volume per bucket") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, ts("2024-01-01 09:00:00"), 10.0, 1L),
      (1L, ts("2024-01-01 11:00:00"), 30.0, 2L),
      (1L, ts("2024-01-01 10:00:00"), 5.0, 3L),   // low, mid-bar
      (1L, ts("2024-01-01 23:00:00"), 20.0, 4L),  // close
      (1L, ts("2024-01-02 01:00:00"), 7.0, 5L),   // next bar, single obs
      // same-instant open tie: event_id 6 before 7
      (2L, ts("2024-01-01 08:00:00"), 3.0, 6L),
      (2L, ts("2024-01-01 08:00:00"), 4.0, 7L)
    ).toDF("user_id", "ts", "value", "event_id")
    val out = graft.operators.EnergyOps.ohlcBars(df, Seq("user_id"), "ts", "value",
        to_date(col("ts")), Seq("event_id"))
      .orderBy("user_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"), r.getAs[Long]("n_obs")))
    assert(out.toSeq === Seq(
      (1L, 10.0, 30.0, 5.0, 20.0, 4L),
      (1L, 7.0, 7.0, 7.0, 7.0, 1L),
      (2L, 3.0, 4.0, 3.0, 4.0, 2L)))
  }

  test("pageRank: mass conserved, the star hub outranks its leaves, empty graph safe") {
    val s = spark; import s.implicits._
    // star: 1 — {2,3,4,5}; plus an isolated pair 10—11
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val ranks = graft.operators.Graph.pageRank(pairs, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks.size === 7)
    // teleport + damping conserve total mass ≈ 1
    assert(math.abs(ranks.values.sum - 1.0) < 1e-3)
    assert(ranks(1L) > ranks(2L), "star hub must outrank a leaf")
    assert(math.abs(ranks(2L) - ranks(5L)) < 1e-9, "symmetric leaves rank equally")
    assert(math.abs(ranks(10L) - ranks(11L)) < 1e-9)
    assert(graft.operators.Graph.pageRank(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() === 0L)
  }

  test("contentDefinedChunks: spans partition the doc contiguously; boundaries are edit-stable") {
    val s = spark; import s.implicits._
    val toks = (1 to 60).map(i => s"w${i * 7 % 23}x$i")
    val doc = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val chunks = Cdc.contentDefinedChunks(doc).orderBy("chunk_id").collect()
      .map(r => (r.getAs[Int]("start_tok"), r.getAs[Int]("end_tok"),
        r.getAs[String]("chunk_md5")))
    // contiguous partition of 1..60
    assert(chunks.head._1 === 1 && chunks.last._2 === 60)
    chunks.sliding(2).foreach { case Array(a, b) => assert(b._1 === a._2 + 1); case _ => }
    assert(chunks.length >= 2, "60 tokens at modulus 8 should produce several chunks")
    // edit stability: appending tokens must not disturb any chunk
    // before the original's last boundary
    val edited = Seq((1L, (toks ++ Seq("zz1", "zz2", "zz3", "zz4", "zz5")).mkString(" ")))
      .toDF("doc_id", "text")
    val editedChunks = Cdc.contentDefinedChunks(edited).orderBy("chunk_id").collect()
      .map(r => (r.getAs[Int]("start_tok"), r.getAs[Int]("end_tok"),
        r.getAs[String]("chunk_md5")))
    val stablePrefix = chunks.dropRight(1) // all but the tail chunk
    assert(editedChunks.take(stablePrefix.length).toSeq === stablePrefix.toSeq,
      "chunks before the edit must be byte-identical (the CDC property)")
    // a short doc (< window) is one whole-doc chunk
    val tiny = Cdc.contentDefinedChunks(Seq((2L, "a b")).toDF("doc_id", "text")).collect()
    assert(tiny.length === 1 && tiny.head.getAs[Int]("start_tok") === 1 &&
      tiny.head.getAs[Int]("end_tok") === 2)
  }

  test("cdc_boundaries_md5 (native) reproduces the original SQL boundary rule exactly") {
    val s = spark; import s.implicits._
    // varied lengths incl. n < window, n = window, repeats, punctuation
    val docs = Seq(
      (1L, (1 to 97).map(i => s"t${i * 13 % 31}").mkString(" ")),
      (2L, "a b c"), (3L, "a b c d"), (4L, ("x " * 40).trim),
      (5L, (1 to 64).map(i => s"w${i % 9}-p${i % 4}").mkString(" "))
    ).toDF("doc_id", "text")
    val (w, m) = (4, 8)
    val both = docs
      .withColumn("__toks", graft.functions.TextFunctions.tokens("text"))
      .withColumn("__n", size(col("__toks")))
      .selectExpr("doc_id",
        s"cdc_boundaries_md5(__toks, $w, $m) AS native",
        // the pre-r9 interpreted SQL formulation, kept verbatim as the
        // regression reference for the native expression
        s"""filter(transform(sequence($w, greatest(__n, $w)), i ->
           |  CASE WHEN i <= __n AND
           |    conv(substring(md5(concat_ws(' ', slice(__toks, i - ${w - 1}, $w))), 1, 6), 16, 10) % $m = 0
           |  THEN i END), x -> x IS NOT NULL) AS legacy""".stripMargin)
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Int](1).toList === r.getSeq[Any](2).map(_.toString.toInt).toList,
        s"doc ${r.getLong(0)}: native vs legacy boundary mismatch")
    }
  }

  test("contentDefinedChunks poly mode: rolling update ≡ direct window hash; same CDC invariants") {
    val s = spark; import s.implicits._
    val toks = (1 to 80).map(i => s"v${i * 11 % 29}y$i")
    val (w, m) = (4, 8)
    // reference: DIRECT (non-rolling) w-term power-sum window hash —
    // the formulation the q230 DuckDB oracle restates; equality with
    // the native expression proves the O(1) rolling update correct
    val P = 2147483647L; val B = 1000003L
    def h1(t: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      var v = 0L; (0 until 8).foreach(i => v = (v << 8) | (d(i) & 0xffL))
      v >>> 4
    }
    val expected = (w to toks.length).filter { i =>
      val win = toks.slice(i - w, i)
      val h = win.foldLeft(0L)((acc, t) => (acc * B + h1(t) % P) % P)
      h % m == 0
    }
    val native = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      .withColumn("__toks", graft.functions.TextFunctions.tokens("text"))
      .selectExpr(s"cdc_boundaries_poly(__toks, $w, $m) AS b")
      .head().getSeq[Int](0).toList
    assert(native === expected.toList, "poly rolling hash must equal the direct window hash")
    // same chunking invariants as md5 mode: contiguous partition + edit
    // stability (boundaries are local content in BOTH modes)
    val doc = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val chunks = Cdc.contentDefinedChunks(doc, mode = "poly").orderBy("chunk_id").collect()
      .map(r => (r.getAs[Int]("start_tok"), r.getAs[Int]("end_tok"), r.getAs[String]("chunk_md5")))
    assert(chunks.head._1 === 1 && chunks.last._2 === 80)
    chunks.sliding(2).foreach { case Array(a, b) => assert(b._1 === a._2 + 1); case _ => }
    val edited = Seq((1L, (toks ++ Seq("qq1", "qq2", "qq3")).mkString(" "))).toDF("doc_id", "text")
    val editedChunks = Cdc.contentDefinedChunks(edited, mode = "poly").orderBy("chunk_id").collect()
      .map(r => (r.getAs[Int]("start_tok"), r.getAs[Int]("end_tok"), r.getAs[String]("chunk_md5")))
    assert(editedChunks.take(chunks.length - 1).toSeq === chunks.dropRight(1).toSeq,
      "poly-mode chunks before the edit must be byte-identical")
    // and the two modes agree on the chunk CONTRACT for sub-window docs
    val tiny = Cdc.contentDefinedChunks(Seq((2L, "a b")).toDF("doc_id", "text"), mode = "poly").collect()
    assert(tiny.length === 1 && tiny.head.getAs[Int]("end_tok") === 2)
  }

  test("mergeAdditive: incremental aggregate equals the full rebuild, history untouched") {
    val s = spark; import s.implicits._
    val rows = (0 until 120).map(i => (s"k${i % 5}", i / 40, i.toDouble))
    val df = rows.toDF("k", "part", "v")
    val keys = Seq("k", "part")
    val aggs = Map[String, org.apache.spark.sql.Column](
      "n" -> count(lit(1)), "total" -> sum("v"))
    // cutoff mid-"part" so some (k, part) groups straddle it
    val current = Materialize.buildAdditive(df.filter($"v" < 60.0), keys, aggs)
    val merged = Materialize.mergeAdditive(current, df.filter($"v" >= 60.0), keys, aggs)
    val full = Materialize.buildAdditive(df, keys, aggs)
    assert(merged.collect().map(_.toSeq).toSet === full.collect().map(_.toSeq).toSet)
  }

  test("triangleStats: hand-counted fixtures — K4, a triangle with a tail, a star") {
    val s = spark; import s.implicits._
    // K4: every node is in C(3,2)=3 triangles, clustering 1.0
    val k4 = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toDF("a", "b")
    val outK4 = graft.operators.Graph.triangleStats(k4, "a", "b").collect()
    assert(outK4.length == 4)
    assert(outK4.forall(r => r.getAs[Long]("n_tri") == 3L &&
      r.getAs[Double]("clustering") == 1.0))

    // triangle 1-2-3 with tail 3-4: node 4 has no triangle; node 3's
    // clustering = 2*1/(3*2) = 1/3
    val tail = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val m = graft.operators.Graph.triangleStats(tail, "a", "b")
      .collect().map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("n_tri"), r.getAs[Double]("clustering"))).toMap
    assert(m(1L) == ((1L, 1.0)) && m(2L) == ((1L, 1.0)))
    assert(m(3L)._1 == 1L && math.abs(m(3L)._2 - 0.333333) < 1e-6)
    assert(m(4L) == ((0L, 0.0)))

    // star: hub with 5 leaves — zero triangles everywhere, and the
    // degree-ordered orientation must not blow up on the hub
    val star = (2L to 6L).map(l => (1L, l)).toDF("a", "b")
    val outStar = graft.operators.Graph.triangleStats(star, "a", "b").collect()
    assert(outStar.forall(_.getAs[Long]("n_tri") == 0L))

    // review counterexample: triangle 1-2-3 with tails 2-4, 2-5. Edge
    // 2-3 orients 3→2 (degree order), so a wedge pair ordered by id
    // alone would ask for 2→3 and silently drop the triangle
    val tails = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (2L, 5L)).toDF("a", "b")
    val mt = graft.operators.Graph.triangleStats(tails, "a", "b")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_tri")).toMap
    assert(mt == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L, 5L -> 0L))

    // deterministic pseudo-random graph vs an O(n^3) brute force
    val n = 14
    val edges = for {
      a <- 1 to n; b <- (a + 1) to n
      if java.security.MessageDigest.getInstance("MD5")
        .digest(s"$a:$b".getBytes("UTF-8"))(0).toInt % 3 == 0
    } yield (a.toLong, b.toLong)
    val adj = edges.toSet
    def conn(x: Long, y: Long) = adj.contains((math.min(x, y), math.max(x, y)))
    val expect = (for {
      a <- 1 to n; b <- (a + 1) to n; c <- (b + 1) to n
      if conn(a, b) && conn(b, c) && conn(a, c)
    } yield 1).size
    val got = graft.operators.Graph.triangleStats(edges.toDF("a", "b"), "a", "b")
      .collect().map(_.getAs[Long]("n_tri")).sum / 3
    assert(got == expect.toLong, s"triangle total $got != brute-force $expect")
    // duplicate + reversed edges collapse (undirected semantics)
    val dup = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val outDup = graft.operators.Graph.triangleStats(dup, "a", "b").collect()
    assert(outDup.forall(_.getAs[Long]("n_tri") == 1L))
  }

  test("interpolate.linear and histogramPsi plans stay key-partitioned / driver-scale") {
    val s = spark; import s.implicits._
    val df = Seq((1L, ts("2024-01-01 00:00:00"), Some(1.0), 1L))
      .toDF("k", "ts", "value", "id")
    val ip = Interpolate.linear(df, Seq("k"), "ts", "value", Seq("id"))
      .queryExecution.executedPlan.toString
    assert(!ip.contains("rangepartitioning"),
      s"global sort leaked into the interpolation plan:\n$ip")
  }
}
