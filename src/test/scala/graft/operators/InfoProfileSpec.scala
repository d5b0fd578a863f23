package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Hand-computed fixtures for chi-square independence, mutual
  * information, and the one-pass profiler. */
class InfoProfileSpec extends AnyFunSuite with SparkFixture {

  test("chiSquare: uniform table is independent (chi2 = 0, V = 0)") {
    val s = spark; import s.implicits._
    val rows = for { a <- Seq("a1", "a2"); b <- Seq("b1", "b2"); _ <- 1 to 10 }
      yield (a, b)
    val out = InfoTheory.chiSquare(rows.toDF("x", "y"), "x", "y").collect()
    assert(out.length == 4)
    assert(out.forall(_.getAs[Double]("chi2") == 0.0))
    assert(out.forall(_.getAs[Double]("cramers_v") == 0.0))
    assert(out.forall(_.getAs[String]("effect_band") == "negligible"))
    assert(out.forall(_.getAs[Double]("expected") == 10.0))
  }

  test("chiSquare: deterministic table maxes V; absent spine cells contribute") {
    val s = spark; import s.implicits._
    // only (a1,b1) and (a2,b2) occur: expected 5 everywhere, the two
    // ABSENT cells contribute (0-5)^2/5 = 5 each -> chi2 = 20, V = 1
    val rows = Seq.fill(10)(("a1", "b1")) ++ Seq.fill(10)(("a2", "b2"))
    val out = InfoTheory.chiSquare(rows.toDF("x", "y"), "x", "y").collect()
    assert(out.length == 4) // full spine, not just observed cells
    val byCell = out.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getAs[Double]("contrib"))).toMap
    assert(byCell(("a1", "b2")) == ((0L, 5.0)))
    assert(out.head.getAs[Double]("chi2") == 20.0)
    assert(out.head.getAs[Long]("dof") == 1L)
    assert(out.head.getAs[Double]("cramers_v") == 1.0)
    assert(out.head.getAs[String]("effect_band") == "large")
  }

  test("chiSquare: null levels are real levels, not dropped cells") {
    val s = spark; import s.implicits._
    // null x perfectly predicts b2: if the spine join dropped nulls,
    // n would halve and chi2 would corrupt
    val rows = Seq.fill(10)((Some("a1"), "b1")) ++
      Seq.fill(10)((Option.empty[String], "b2"))
    val out = InfoTheory.chiSquare(rows.toDF("x", "y"), "x", "y").collect()
    assert(out.length == 4)
    assert(out.map(_.getString(0)).toSet == Set("a1", "(null)"))
    assert(out.head.getAs[Double]("chi2") == 20.0)
    assert(out.head.getAs[Double]("cramers_v") == 1.0)
  }

  test("mutualInfo: perfect predictor has NMI 1, independent feature NMI 0") {
    val s = spark; import s.implicits._
    // balanced label; f_perfect == label, f_indep constant
    val rows = (0 until 40).map(i => (if (i % 2 == 0) "p" else "q",
      "const", i % 2))
    val out = InfoTheory.mutualInfo(rows.toDF("f_perfect", "f_indep", "y"),
      Seq("f_perfect", "f_indep"), "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Double]("mi_nats"), r.getAs[Double]("h_label"),
          r.getAs[Double]("nmi"))).toMap
    val h = math.rint(math.log(2) * 1e6) / 1e6
    assert(out("f_perfect") == ((2L, h, h, 1.0)))
    assert(out("f_indep") == ((1L, 0.0, h, 0.0)))
  }

  test("mutualInfo: null feature values are a real level") {
    val s = spark; import s.implicits._
    val rows = Seq((Some("v"), 1), (Some("v"), 1), (None, 0), (None, 0))
    val out = InfoTheory.mutualInfo(rows.toDF("f", "y"), Seq("f"), "y").collect()
    // null perfectly predicts y=0: two levels, NMI = 1
    assert(out.head.getLong(1) == 2L)
    assert(out.head.getAs[Double]("nmi") == 1.0)
  }

  test("joinAudit fanout: exact output cardinality, m2m flag, amplification") {
    val s = spark; import s.implicits._
    val left = Seq("a", "a", "a", "b").toDF("k")
    val right = Seq("a", "a", "c", "c", "c", "c").toDF("k")
    val out = JoinAudit.fanout(left, right, "k", "k", k = 10).collect()
    // only 'a' matches: 3*2 = 6 output rows; b/c contribute nothing
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Int]("rank") == 1 && r.getAs[String]("key") == "a")
    assert(r.getAs[Long]("n_l") == 3 && r.getAs[Long]("n_r") == 2)
    assert(r.getAs[Double]("est_join_rows") == 6.0)
    assert(r.getAs[Long]("n_keys_matched") == 1)
    assert(r.getAs[Long]("n_m2m_keys") == 1)
    assert(r.getAs[Double]("amplification") == 1.0) // 6 / max(4, 6)
  }

  test("robustZOutliers: wild value flagged, MAD immune to it, mad=0 group excluded") {
    val s = spark; import s.implicits._
    val g1 = (1 to 9).map(i => (i.toLong, "g1", i.toDouble)) :+ (10L, "g1", 1000.0)
    val g2 = (11 to 20).map(i => (i.toLong, "g2", 7.0)) // constant: mad = 0
    val out = RobustStats.robustZOutliers((g1 ++ g2).toDF("id", "grp", "v"),
      "v", Seq("grp"), Seq("id"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
    // median 5, absdevs sorted [0,1,1,2,2,3,3,4,4,995] -> MAD 2 (the
    // outlier cannot inflate it); z(1000) = 0.6745*995/2
    assert(out.toSeq == Seq(10L -> ((5.0, 2.0,
      math.rint(0.6745 * 995 / 2 * 1e4) / 1e4, 1L))))
  }

  test("aucByGroup: exact tie-aware AUC, degenerate groups excluded") {
    val s = spark; import s.implicits._
    val df = Seq(
      // g1: perfect separation -> 1.0 ; g2: reversed -> 0.0
      ("g1", 1.0, 0), ("g1", 2.0, 0), ("g1", 3.0, 1), ("g1", 4.0, 1),
      ("g2", 1.0, 1), ("g2", 2.0, 1), ("g2", 3.0, 0), ("g2", 4.0, 0),
      // g3: all tied -> 0.5 exactly (average ranks)
      ("g3", 7.0, 1), ("g3", 7.0, 1), ("g3", 7.0, 0), ("g3", 7.0, 0),
      // g4: pos ties one neg, beats the other -> 0.5·1 + 0.5·0.5 = 0.75
      ("g4", 1.0, 0), ("g4", 2.0, 0), ("g4", 2.0, 1),
      // g5: single class -> excluded
      ("g5", 1.0, 1), ("g5", 2.0, 1)
    ).toDF("grp", "score", "y")
    val out = Eval.aucByGroup(df, Seq("grp"), "score", "y")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out == Map("g1" -> 1.0, "g2" -> 0.0, "g3" -> 0.5, "g4" -> 0.75))
  }

  test("profile: per-type stats, nulls, distincts in one pass") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, Some(2.5), Some("b"), Some(new java.sql.Timestamp(1000L))),
      (2L, Some(7.5), Some("a"), None),
      (3L, None, None, Some(new java.sql.Timestamp(61000L)))
    ).toDF("id", "v", "s", "t")
    val out = Profile.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    val id = out("id")
    assert(id.getString(1) == "bigint" && id.getLong(2) == 3 &&
      id.getLong(3) == 0 && id.getLong(4) == 3 &&
      id.getAs[Double]("min_num") == 1.0 && id.getAs[Double]("max_num") == 3.0 &&
      id.getAs[Double]("mean") == 2.0 && id.isNullAt(8) && id.isNullAt(9))
    val v = out("v")
    assert(v.getLong(3) == 1 && v.getLong(4) == 2 &&
      v.getAs[Double]("mean") == 5.0)
    val st = out("s")
    assert(st.getString(1) == "string" && st.getLong(3) == 1 &&
      st.getString(8) == "a" && st.getString(9) == "b" && st.isNullAt(5))
    val t = out("t")
    assert(t.getString(1) == "timestamp" && t.getLong(3) == 1 &&
      t.getString(8) == "1970-01-01 00:00:01.000000" &&
      t.getString(9) == "1970-01-01 00:01:01.000000")
  }
}
