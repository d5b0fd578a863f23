package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Hand-computed oracles for the rank-test/audit tranche (q191–q195):
  * Mann–Whitney U with tie blocks, Kruskal–Wallis on a textbook
  * split, Spearman with ties, k-anonymity bands, cadence flags. */
class StatTestsSpec extends AnyFunSuite with SparkFixture {

  test("mann-whitney: complete separation gives U = n1·n2, AUC = 1") {
    val s = spark; import s.implicits._
    val df = Seq(("a", 3.0), ("a", 4.0), ("a", 5.0), ("b", 1.0), ("b", 2.0))
      .toDF("grp", "v")
    val out = StatTests.mannWhitneyOneVsRest(df, "v", "grp")
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Double]("u"), r.getAs[Double]("auc"))).toMap
    assert(out("a") == ((6.0, 1.0)))   // R1 = 3+4+5 = 12, U = 12 - 6 = 6
    assert(out("b") == ((0.0, 0.0)))
  }

  test("mann-whitney: tie block gets the average rank") {
    val s = spark; import s.implicits._
    // pooled 1,2,2,3 → ranks 1, 2.5, 2.5, 4; group a = {1, 2}:
    // R1 = 3.5, U = 3.5 - 3 = 0.5, AUC = 0.5/4 = 0.125
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)).toDF("grp", "v")
    val out = StatTests.mannWhitneyOneVsRest(df, "v", "grp")
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Double]("u"), r.getAs[Double]("auc"))).toMap
    assert(out("a") == ((0.5, 0.125)))
  }

  test("kruskal-wallis: textbook two-group split, H = 2.4, no-tie C = 1") {
    val s = spark; import s.implicits._
    // A = {1,2}, B = {3,4}: mean ranks 1.5 / 3.5,
    // H = 12/(4·5) · (2·1² + 2·1²) = 2.4
    val df = Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0)).toDF("grp", "v")
    val out = StatTests.kruskalWallis(df, "v", "grp").collect()
    assert(out.forall(_.getAs[Double]("h") == 2.4))
    assert(out.forall(_.getAs[Double]("h_tie_corrected") == 2.4))
    assert(out.forall(_.getAs[Long]("dof") == 1L))
    val mr = out.map(r => r.getAs[String]("grp") -> r.getAs[Double]("mean_rank")).toMap
    assert(mr == Map("A" -> 1.5, "B" -> 3.5))
  }

  test("kruskal-wallis: identical group distributions give H = 0") {
    val s = spark; import s.implicits._
    val df = Seq("A", "B").flatMap(g => Seq(1.0, 2.0, 3.0).map(v => (g, v)))
      .toDF("grp", "v")
    val out = StatTests.kruskalWallis(df, "v", "grp").collect()
    assert(out.forall(_.getAs[Double]("h") == 0.0))
  }

  test("spearman: monotone = 1, inverse = -1, ties averaged") {
    val s = spark; import s.implicits._
    // x vs y monotone; x vs z inverse; w has a tie block:
    // ranks(w) = 1, 2.5, 2.5, 4 vs ranks(y) = 1..4 → r = 0.948683
    val df = Seq((1.0, 10.0, 40.0, 1.0), (2.0, 20.0, 30.0, 2.0),
      (3.0, 30.0, 20.0, 2.0), (4.0, 40.0, 10.0, 3.0))
      .toDF("x", "y", "z", "w")
    val r = StatTests.spearmanMatrix(df, Seq("x", "y", "z", "w")).collect().head
    assert(r.getAs[Double]("x_y") == 1.0)
    assert(r.getAs[Double]("x_z") == -1.0)
    assert(r.getAs[Double]("y_w") == 0.948683)
  }

  test("k-anonymity: bands, k_min, and at-risk share on planted classes") {
    val s = spark; import s.implicits._
    // classes: two singletons, one of 3, one of 7 (k = 5):
    // below-k rows = 1+1+3 = 5 of 12
    val rows = Seq.fill(1)(("n1", "s1")) ++ Seq.fill(1)(("n2", "s2")) ++
      Seq.fill(3)(("n3", "s3")) ++ Seq.fill(7)(("n4", "s4"))
    val out = Privacy.kAnonymityAudit(rows.toDF("qa", "qb"), Seq("qa", "qb"), k = 5)
      .collect()
    val bands = out.map(r => r.getAs[String]("band") ->
      (r.getAs[Long]("n_classes"), r.getAs[Long]("n_rows"))).toMap
    assert(bands == Map("1_unique" -> ((2L, 2L)), "2_below_k" -> ((1L, 3L)),
      "3_at_least_k" -> ((1L, 7L))))
    assert(out.forall(_.getAs[Long]("k_min") == 1L))
    assert(out.forall(_.getAs[Double]("pct_rows_below_k") == 0.416667))
  }

  test("two-phase ranks: 200k all-distinct values, exact closed-form U") {
    val s = spark; import s.implicits._
    // every value distinct (the continuous-column shape the two-phase
    // bucketing exists for): group a = odd ranks 1,3,…,199999 →
    // R1 = 100000², U = 10¹⁰ − 100000·100001/2 = 4 999 950 000
    val n = 200000L
    val df = s.range(1, n + 1)
      .select(org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("id") % 2 === 1, "a").otherwise("b").as("grp"),
        org.apache.spark.sql.functions.col("id").cast("double").as("v"))
    val out = StatTests.mannWhitneyOneVsRest(df, "v", "grp")
      .collect().map(r => r.getAs[String]("grp") -> r).toMap
    assert(out("a").getAs[Double]("u") == 4999950000.0)
    assert(out("a").getAs[Double]("auc") == 0.499995)
    assert(out("b").getAs[Double]("auc") == 0.500005)
  }

  test("cdfTransform: no unpartitioned row-scale window in the plan") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val n = 100000L
    val df = s.range(1, n + 1)
      .select(org.apache.spark.sql.functions.col("id").cast("double").as("v"),
        org.apache.spark.sql.functions.lit("k").as("seg"))
    val out = StatTests.cdfTransform(df, "v", Seq.empty, Seq("seg"))
    // every logical Window must either be partitioned (the per-bucket
    // cumulative) or run over the bounded per-bucket offsets frame
    // (child carries Spine's per-bucket sums, __b_*) — never an
    // unpartitioned sort of the row-scale distinct-value histogram
    val wins = out.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.forall(_.child.output.exists(_.name.startsWith("__b_"))),
      "unpartitioned window over a non-offsets frame:\n" + unpart.mkString("\n"))
    // exactness on the all-distinct column: cdf(i) = i/n
    val got = out.filter(org.apache.spark.sql.functions.col("v").isin(1.0, 50000.0, 100000.0))
      .collect().map(r => r.getAs[Double]("v") -> r.getAs[Double]("cdf")).toMap
    assert(got == Map(1.0 -> 1.0E-5, 50000.0 -> 0.5, 100000.0 -> 1.0))
  }

  test("cadence: metronome flags, bursty doesn't, single-gap user excluded") {
    val s = spark; import s.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val metronome = (0 until 25).map(i => ("bot", ts(i * 60L)))
    val bursty = (0 until 25).map(i =>
      ("human", ts((0 until i).map(j => if (j % 2 == 0) 10L else 600L).sum)))
    val sparse = Seq(("sparse", ts(0L)), ("sparse", ts(100L)))
    val df = (metronome ++ bursty ++ sparse).toDF("u", "ts")
    val out = Cadence.gapRegularity(df, "u", "ts", minGaps = 20, cvThresh = 0.3)
      .collect().map(r => r.getAs[String]("actor") -> r).toMap
    assert(out("bot").getAs[Double]("cv") == 0.0)
    assert(out("bot").getAs[Boolean]("is_regular"))
    assert(out("human").getAs[Double]("cv") > 0.9)
    assert(!out("human").getAs[Boolean]("is_regular"))
    assert(!out.contains("sparse") || out("sparse").getAs[Long]("n_gaps") == 1L)
  }
}
