package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Planted-fixture oracles for the signal tranche (q184–q190): NB on
  * a separable vocabulary, hand-computed nDCG, grid-join vs known
  * nearest, exact rolling slope on a line, BFS on a path graph,
  * hand-counted audience overlap, keyness direction. */
class SignalOpsSpec extends AnyFunSuite with SparkFixture {

  test("naive bayes: perfectly separable vocab classifies every held-out doc") {
    val s = spark; import s.implicits._
    // class-specific vocabularies; the md5 split leaves a nonempty
    // test slice of each class for any reasonable id range
    val docs = (1L to 200L).map { i =>
      val txt = if (i % 2 == 0) "cat cat feline whiskers purr"
                else "dog dog canine bark fetch"
      (i, if (i % 2 == 0) "feline" else "canine", txt)
    }.toDF("doc_id", "lang", "text")
    val out = NaiveBayes.confusion(docs).collect()
    assert(out.nonEmpty)
    // diagonal confusion only, accuracy exactly 1
    assert(out.forall(r => r.getAs[String]("actual") == r.getAs[String]("predicted")))
    assert(out.forall(r => r.getAs[Double]("accuracy") == 1.0))
    assert(out.map(_.getAs[String]("actual")).toSet == Set("feline", "canine"))
  }

  test("ranking metrics: hand-computed nDCG@3, perfect ranking hits 1") {
    val s = spark; import s.implicits._
    // group g1: score order = a(rel 3), b(rel 0), c(rel 1); ideal
    // order = 3, 1, 0 → dcg = 3/log2(2) + 0 + 1/log2(4) = 3.5;
    // idcg = 3 + 1/log2(3) + 0
    val df = Seq(
      ("g1", "a", 9.0, 3), ("g1", "b", 8.0, 0), ("g1", "c", 7.0, 1),
      ("g2", "x", 5.0, 2), ("g2", "y", 4.0, 1), ("g2", "z", 3.0, 0)
    ).toDF("g", "id", "score", "rel")
    val out = Eval.rankingMetrics(df, Seq("g"), "score", "rel", "id", k = 3)
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Double]("ndcg"), r.getAs[Double]("p_at_k"), r.getAs[Double]("mrr"))).toMap
    val idcg = 3.0 + 1.0 / (math.log(3) / math.log(2))
    assert(math.abs(out("g1")._1 - 3.5 / idcg) < 1e-6)
    assert(out("g1")._2 == math.rint(2.0 / 3.0 * 1e6) / 1e6 || math.abs(out("g1")._2 - 2.0 / 3.0) < 1e-6)
    assert(out("g1")._3 == 1.0)
    // g2 is already ideally ranked → ndcg exactly 1
    assert(out("g2")._1 == 1.0)
  }

  test("ranking metrics: a group with no positive rel gets null ndcg, zero mrr") {
    val s = spark; import s.implicits._
    val df = Seq(("g", "a", 2.0, 0), ("g", "b", 1.0, 0)).toDF("g", "id", "score", "rel")
    val row = Eval.rankingMetrics(df, Seq("g"), "score", "rel", "id", k = 2).collect().head
    assert(row.isNullAt(row.fieldIndex("ndcg")))
    assert(row.getAs[Double]("mrr") == 0.0)
  }

  test("geo nearest: known nearest wins across a cell boundary; radius excludes") {
    val s = spark; import s.implicits._
    // left at (0.5, 9.9); right r1 at (0.5, 10.1) sits in the NEXT
    // lon cell (cell size = radius 1.0) at distance 0.2; r2 at
    // (0.5, 9.0) same cell, distance 0.9; r3 far away. Nearest must
    // be the cross-cell r1 — the 3×3 neighborhood catches it.
    val left = Seq((1L, 0.5, 9.9)).toDF("lid", "lat", "lon")
    val right = Seq((10L, 0.5, 10.1), (20L, 0.5, 9.0), (30L, 50.0, 50.0))
      .toDF("rid", "lat", "lon")
    val out = Geo.nearestWithinRadius(left, right, "lid", "rid", radiusDeg = 1.0)
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("rid") == 10L)
    assert(math.abs(out.head.getAs[Double]("dist_deg") - 0.2) < 1e-9)
  }

  test("geo nearest: exact-distance tie breaks by right id ascending") {
    val s = spark; import s.implicits._
    val left = Seq((1L, 0.0, 0.0)).toDF("lid", "lat", "lon")
    val right = Seq((7L, 0.0, 0.25), (3L, 0.0, -0.25)).toDF("rid", "lat", "lon")
    val out = Geo.nearestWithinRadius(left, right, "lid", "rid", radiusDeg = 1.0)
      .collect()
    assert(out.head.getAs[Long]("rid") == 3L)
  }

  test("rolling ols: exact slope on an integer line, r2 = 1") {
    val s = spark; import s.implicits._
    // y = 300·x in cents over 5 consecutive days → slope exactly 300
    val days = (0 until 5).map(i => ("k", java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i)), (i + 1) * 300L))
    val df = days.toDF("k", "day", "cents")
    val out = Rolling.rollingOls(df, Seq("k"), "day", "cents", windowDays = 3)
      .orderBy("day").collect()
    assert(out.head.isNullAt(out.head.fieldIndex("slope"))) // frame of 1
    assert(out.tail.forall(r => r.getAs[Double]("slope") == 300.0))
    assert(out.tail.forall(r => r.getAs[Double]("r2") == 1.0))
    assert(out.last.getAs[Long]("n_days") == 3L) // trailing frame caps at window
  }

  test("rolling ols: day gaps narrow the RANGE frame (time, not rows)") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("k", java.sql.Date.valueOf("2024-01-01"), 100L),
      ("k", java.sql.Date.valueOf("2024-01-02"), 200L),
      // 10-day gap: with windowDays=3 the frame here is this row alone
      ("k", java.sql.Date.valueOf("2024-01-12"), 900L)
    ).toDF("k", "day", "cents")
    val out = Rolling.rollingOls(df, Seq("k"), "day", "cents", windowDays = 3)
      .orderBy("day").collect()
    assert(out(1).getAs[Long]("n_days") == 2L)
    assert(out(2).getAs[Long]("n_days") == 1L)
    assert(out(2).isNullAt(out(2).fieldIndex("slope")))
  }

  test("k-hop BFS: path graph distances, bound respected, isolated seed at 0") {
    val s = spark; import s.implicits._
    // path a-b-c-d-e plus isolated seed z
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
      .toDF("x", "y")
    val seeds = Seq("a", "z").toDF("n")
    val out = Graph.kHopDistances(edges, seeds, "x", "y", "n", maxHops = 3)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Int]("hops")).toMap
    assert(out == Map("a" -> 0, "z" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
  }

  test("k-hop BFS: min over multiple paths, not first-found") {
    val s = spark; import s.implicits._
    // a-b-c-d and a shortcut a-d: d must be 1, not 3
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")).toDF("x", "y")
    val seeds = Seq("a").toDF("n")
    val out = Graph.kHopDistances(edges, seeds, "x", "y", "n", maxHops = 3)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Int]("hops")).toMap
    assert(out("d") == 1)
    assert(out("c") == 2) // via either neighbor
  }

  test("audience overlap: hand-counted jaccard and lift") {
    val s = spark; import s.implicits._
    // users 1,4 in both; 2 only A; 3 only B → n_a=3, n_b=3, n_ab=2,
    // N=4: jaccard = 2/4, lift = 2·4/9
    val df = Seq((1L, "A"), (1L, "B"), (2L, "A"), (3L, "B"), (4L, "A"), (4L, "B"),
      (4L, "A") // duplicate event must not double count
    ).toDF("u", "seg")
    val out = Cooccur.audienceOverlap(df, "u", "seg").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L &&
      r.getAs[Long]("n_ab") == 2L)
    assert(r.getAs[Double]("jaccard") == 0.5)
    assert(math.abs(r.getAs[Double]("lift") - 8.0 / 9.0) < 1e-6)
  }

  test("keyness: a planted A-only term tops the list pointing at A") {
    val s = spark; import s.implicits._
    // zebra twice per doc so its χ² strictly exceeds the planted
    // B-only term's (equal exclusive counts tie and break by name)
    val a = (1 to 30).map(i => (i.toLong, "zebra zebra common filler words here")).toDF("doc_id", "text")
    val b = (31 to 60).map(i => (i.toLong, "common filler words here also")).toDF("doc_id", "text")
    val out = Drift.keyness(a, b, topK = 3).collect()
    val top = out.head
    assert(top.getAs[String]("token") == "zebra")
    assert(top.getAs[String]("key_for") == "A")
    assert(top.getAs[Double]("chi2") > 10.0)
    // and the B-only token points at B
    assert(out.exists(r => r.getAs[String]("token") == "also" &&
      r.getAs[String]("key_for") == "B"))
  }
}
