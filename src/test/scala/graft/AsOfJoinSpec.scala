package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AsOfJoin, Dedup}

class AsOfJoinSpec extends AnyFunSuite with SparkFixture {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("backward as-of join picks latest right row at-or-before each left row") {
    val s = spark; import s.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (1L, ts("2024-01-01 12:00:00"), "p2"),
      (2L, ts("2024-01-01 09:00:00"), "p3") // no view before it
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 100.0),
      (1L, ts("2024-01-01 10:00:00"), 200.0), // exact-time: must match p1
      (1L, ts("2024-01-01 11:00:00"), 300.0),
      (2L, ts("2024-01-01 09:30:00"), 400.0)
    ).toDF("user_id", "ts", "v")
    val out = AsOfJoin.backward(left, right, Seq("user_id"), "ts")
      .collect().map(r => r.getAs[String]("tag") ->
        Option(r.getAs[java.lang.Double]("asof_v")).map(_.toDouble)).toMap
    assert(out("p1") == Some(200.0)) // exact timestamp matches
    assert(out("p2") == Some(300.0)) // latest ≤ 12:00
    assert(out("p3") == None)        // nothing before
  }

  test("forward as-of join picks earliest right row at-or-after each left row") {
    val s = spark; import s.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (1L, ts("2024-01-01 12:00:00"), "p2"),
      (2L, ts("2024-01-01 09:00:00"), "p3") // no view after it
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), 200.0), // exact-time: must match p1
      (1L, ts("2024-01-01 11:00:00"), 300.0),
      (1L, ts("2024-01-01 13:00:00"), 500.0),
      (2L, ts("2024-01-01 08:30:00"), 400.0)
    ).toDF("user_id", "ts", "v")
    val out = AsOfJoin.forward(left, right, Seq("user_id"), "ts")
      .collect().map(r => r.getAs[String]("tag") ->
        Option(r.getAs[java.lang.Double]("asof_v")).map(_.toDouble)).toMap
    assert(out("p1") == Some(200.0)) // exact timestamp matches
    assert(out("p2") == Some(500.0)) // earliest ≥ 12:00
    assert(out("p3") == None)        // nothing after
    // look-ahead tolerance: p2's match is 1h away → 30min bound nulls it
    val far = AsOfJoin.forward(left, right, Seq("user_id"), "ts",
      tolerance = Some("interval 30 minutes"))
      .collect().map(r => r.getAs[String]("tag") ->
        Option(r.getAs[java.lang.Double]("asof_v")).map(_.toDouble)).toMap
    assert(far("p1") == Some(200.0) && far("p2") == None)
  }

  test("NULL field in the matched right row stays NULL (no back-fill from older rows)") {
    val s = spark; import s.implicits._
    val left = Seq((1L, ts("2024-01-01 12:00:00"), "p")).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), Some(5.0)),
      (1L, ts("2024-01-01 11:00:00"), Option.empty[Double]) // the true match, NULL value
    ).toDF("user_id", "ts", "v")
    val out = AsOfJoin.backward(left, right, Seq("user_id"), "ts").collect().head
    // the 11:00 row matches; its NULL v must NOT be replaced by 09:00's 5.0
    assert(out.isNullAt(out.fieldIndex("asof_v")))
  }

  test("as-of tolerance nulls out stale matches") {
    val s = spark; import s.implicits._
    val left = Seq((1L, ts("2024-01-01 12:00:00"), "p")).toDF("user_id", "ts", "tag")
    val right = Seq((1L, ts("2024-01-01 09:00:00"), 9.0)).toDF("user_id", "ts", "v")
    val near = AsOfJoin.backward(left, right, Seq("user_id"), "ts",
      tolerance = Some("interval 4 hours")).collect().head
    assert(near.getAs[Double]("asof_v") == 9.0)
    val far = AsOfJoin.backward(left, right, Seq("user_id"), "ts",
      tolerance = Some("interval 1 hour")).collect().head
    assert(far.isNullAt(far.fieldIndex("asof_v")))
  }

  test("banded range join equals the naive inequality join, including band edges") {
    val s = spark; import s.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (1L, ts("2024-01-01 12:00:00"), "p2")).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 09:45:00"), 1.0), // 900s before p1 → boundary, included
      (1L, ts("2024-01-01 09:44:59"), 2.0), // 901s → excluded
      (1L, ts("2024-01-01 10:10:00"), 3.0), // within
      (1L, ts("2024-01-01 11:00:00"), 4.0)  // matches neither (3600s/1h from both)
    ).toDF("user_id", "ts", "v")
    val got = graft.operators.RangeJoin.within(left, right, Seq("user_id"), "ts", 900)
      .select(col("tag"), col("r_v")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    val naive = left.alias("l").join(right.alias("r"),
      col("l.user_id") === col("r.user_id") &&
        abs(unix_micros(col("l.ts")) - unix_micros(col("r.ts"))) <= 900L * 1000000L)
      .select(col("tag"), col("r.v")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(got == naive)
    assert(got == Set(("p1", 1.0), ("p1", 3.0)))
  }

  test("embedding near-dup finds planted duplicate vector, skips orthogonal ones") {
    val s = spark; import s.implicits._
    val v = Array.tabulate(16)(i => math.sin(i * 1.7).toFloat)
    val vDup = v.map(x => x * 1.01f) // same direction → cosine ≈ 1
    val ortho = Array.tabulate(16)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val df = Seq((1L, v), (2L, vDup), (3L, ortho)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, threshold = 0.99, nBits = 4, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("approx_count_distinct tracks exact within 5% on lineitem") {
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val r = li.agg(
      countDistinct("l_partkey").as("exact"),
      approx_count_distinct("l_partkey").as("approx")).collect().head
    val exact = r.getLong(0).toDouble
    assert(math.abs(r.getLong(1) - exact) / exact < 0.05)
  }
}
