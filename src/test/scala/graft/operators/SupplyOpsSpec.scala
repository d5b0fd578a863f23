package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Planted-fixture oracles for the round-9 supply/graph tranche: the
  * Lindley clamped-balance closed form against the sequential fold it
  * replaces, synchronous LPA on a hand-drawn two-community graph, and
  * the mergeable histogram state against exact order statistics. */
class SupplyOpsSpec extends AnyFunSuite with SparkFixture {

  test("clamped balance: window closed form == sequential max(0, b+x) fold") {
    val s = spark; import s.implicits._
    // adversarial movement mix: clamp engages twice, recovers, re-engages
    val deltas = Seq(5L, -10L, 3L, -1L, -7L, 20L, -2L, -30L, 4L)
    val df = deltas.zipWithIndex
      .map { case (x, i) => ("k", i.toLong, x) }.toDF("key", "seq", "delta")
    val got = Inventory.clampedBalance(df, "key", "delta", Seq(col("seq")))
      .orderBy("seq").select("balance", "shortfall")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the recursion, folded sequentially
    val expected = deltas.scanLeft((0L, 0L)) { case ((b, _), x) =>
      val attempt = b + x
      (math.max(0L, attempt), math.max(0L, -attempt))
    }.drop(1)
    assert(got == expected)
    // two keys never mix
    val two = df.unionByName(Seq(("z", 0L, -5L), ("z", 1L, 2L)).toDF("key", "seq", "delta"))
    val z = Inventory.clampedBalance(two, "key", "delta", Seq(col("seq")))
      .filter(col("key") === "z").orderBy("seq")
      .select("balance", "shortfall").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(z == Seq((0L, 5L), (2L, 0L)))
  }

  test("label propagation: two planted cliques bridged by one edge separate") {
    val s = spark; import s.implicits._
    // triangle {1,2,3}, triangle {10,11,12}, bridge 3-10
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("a", "b")
    val out = Graph.labelPropagation(edges, "a", "b", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    // each triangle converges to ONE label; min-label tie-break keeps
    // them distinct (label 1 side vs label 10 side)
    assert(Set(out(1L), out(2L), out(3L)).size == 1)
    assert(Set(out(10L), out(11L), out(12L)).size == 1)
    assert(out(1L) != out(10L))
  }

  test("label propagation handles STRING node ids (tie-break never negates the label)") {
    val s = spark; import s.implicits._
    // same two bridged triangles, string-keyed — the r12 tie-break
    // negated the label, which implicitly cast strings to null and
    // made the argmax silently nondeterministic (r13 ADVICE)
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("x", "y"), ("x", "z"), ("y", "z"), ("c", "x")).toDF("p", "q")
    val out = Graph.labelPropagation(edges, "p", "q", iters = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.keySet == Set("a", "b", "c", "x", "y", "z"))
    assert(Set(out("a"), out("b"), out("c")).size == 1)
    assert(Set(out("x"), out("y"), out("z")).size == 1)
    assert(out("a") != out("x"))
    // min-label tie-break: the left clique keeps lexicographic min "a"
    assert(out("a") == "a")
  }

  test("reconcile: every census cell lands where the fixture plants it") {
    val s = spark; import s.implicits._
    // k=1 all agree; k=2 b conflicts; k=3 only in a; k=4 in a+c agree;
    // k=5 in a+b, b null field (single via null)
    val a = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "x"), (5L, "x")).toDF("k", "f")
    val b = Seq((1L, "x"), (2L, "y"), (5L, null.asInstanceOf[String])).toDF("k", "f")
    val c = Seq((1L, "x"), (4L, "x")).toDF("k", "f")
    val r = Reconcile.fieldCensus(a, b, c, "k", Seq("f")).collect().head
    assert(r.getAs[Long]("n_keys") == 5L)
    assert(r.getAs[Long]("n_all_present") == 1L) // k=1
    assert(r.getAs[Long]("n_agree") == 2L)       // k=1, k=4
    assert(r.getAs[Long]("n_conflict") == 1L)    // k=2
    assert(r.getAs[Long]("n_single") == 2L)      // k=3, k=5
    // golden record: a > b > c priority, nulls skipped
    val g = Reconcile.goldenRecord(b, c, a, "k", Seq("f"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(g(2L) == "y" && g(3L) == "x" && g(5L) == "x")
  }

  test("histogram state: merged-bin quantiles bracket the exact order statistic") {
    val s = spark; import s.implicits._
    // two "months" of integer values 1..100 and 101..200; quarter = both
    val df = ((1L to 100L).map(v => ("m1", v)) ++ (101L to 200L).map(v => ("m2", v)))
      .toDF("month", "cents")
    val state = Quantiles.histogramState(df, "cents", Seq("month"), bins = 16)
    // merge both months into one group — counts are additive
    val merged = state.withColumn("g", lit("q"))
      .groupBy("g", "bin")
      .agg(sum("cnt").as("cnt"), first("lo").as("lo"), first("hi").as("hi"))
    val r = Quantiles.quantilesFromHistogram(merged, Seq("g"),
      percents = Seq(50, 90), bins = 16).collect().head
    assert(r.getAs[Long]("n") == 200L)
    // exact p50 = 100, p90 = 180; bin width = 200/16 = 12.5 → the
    // reported upper edge must be >= the exact statistic and within
    // one bin width above it
    val p50 = r.getAs[Long]("p50_hi_cents")
    val p90 = r.getAs[Long]("p90_hi_cents")
    assert(p50 >= 100L && p50 <= 113L, s"p50 edge $p50")
    assert(p90 >= 180L && p90 <= 193L, s"p90 edge $p90")
    // state is exact: per-month counts sum to the row counts
    assert(state.agg(sum("cnt")).collect().head.getLong(0) == 200L)
  }
}
