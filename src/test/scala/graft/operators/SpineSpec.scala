package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** The two-phase spine kernel must be value-identical to the
  * single-window forms it replaces (rank spine, prefix sums, Skyline
  * running max) — exercised on frames wide enough that values share
  * buckets AND skewed enough that bucket occupancy is uneven, and on
  * the degenerate ranges: empty, one-row, constant and NaN. */
class SpineSpec extends AnyFunSuite with SparkFixture {

  /** (g, k, a, w) rows: keys unique per group, as every caller
    * guarantees; a is summed as a long, w as a double. */
  private type Row4 = (String, Long, Long, Double)

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  /** Groups of 0-40 rows with negative keys, most crowded into a few
    * buckets by an occasional far outlier key. */
  private val frames: Gen[Seq[Row4]] = {
    val key = Gen.frequency(9 -> Gen.chooseNum(-1000L, 1000L),
      1 -> Gen.chooseNum(-10000000L, 10000000L))
    val group = for {
      n <- Gen.chooseNum(0, 40)
      keys <- Gen.listOfN(n, key)
      as <- Gen.listOfN(keys.size, Gen.chooseNum(-50L, 50L))
      ws <- Gen.listOfN(keys.size, Gen.chooseNum(0, 400).map(_ / 4.0))
    } yield keys.zip(as).zip(ws).distinctBy(_._1._1).map { case ((k, a), w) => (k, a, w) }
    for {
      nGroups <- Gen.chooseNum(1, 3)
      groups <- Gen.listOfN(nGroups, group)
    } yield groups.zipWithIndex.flatMap { case (rows, gi) =>
      rows.map { case (k, a, w) => (s"g$gi", k, a, w) } }
  }

  /** Reference: one window per group over the whole frame. */
  private def reference(df: DataFrame, inclusive: Boolean): Map[(String, Long), Seq[Any]] = {
    val w = Window.partitionBy("g").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, if (inclusive) Window.currentRow else -1)
    val all = Window.partitionBy("g")
    df.select(col("g"), col("k"),
        coalesce(sum("a").over(w), lit(0L)), coalesce(sum("w").over(w), lit(0.0)),
        sum("a").over(all), sum("w").over(all))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
  }

  test("prefixSums == the single per-group window, exclusive and inclusive (property)") {
    val s = spark; import s.implicits._
    val big = 1L << 60 // keys distinct as longs, equal as doubles: lo == hi
    val fixed = Seq(
      Seq.empty[Row4],
      Seq(("one", -5L, 3L, 1.5)),
      (0L until 5L).map(i => ("const", big + i, i, i * 0.25)) :+ (("one", 9L, 1L, 2.0)))
    (fixed ++ samples(frames, 8)).foreach { rows =>
      val df = rows.toDF("g", "k", "a", "w")
      Seq(false, true).foreach { inclusive =>
        val out = Spine.prefixSums(df, Seq("g"), col("k"), Seq("a", "w"), inclusive)
        assert(out.schema("a_prefix").dataType == LongType)
        assert(out.schema("w_prefix").dataType == DoubleType)
        val got = out.select("g", "k", "a_prefix", "w_prefix", "a_total", "w_total")
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
        assert(got == reference(df, inclusive), s"inclusive=$inclusive rows=$rows")
      }
    }
  }

  test("rankBy == row_number with NaN last, and on a constant frame") {
    val s = spark; import s.implicits._
    // a NaN key ranks last: it takes its own bucket above the key range
    val keys = (1 to 300).map(i => ((i * 7919) % 1009 - 500) / 8.0).distinct :+ Double.NaN
    val df = scala.util.Random.shuffle(keys).toDF("k")
    def ranked(d: DataFrame): Seq[String] = d.collect()
      .map(r => r.getLong(1) -> r.getDouble(0).toString).sortBy(_._1).map(_._2).toSeq
    val expected = ranked(df.withColumn("r", row_number().over(Window.orderBy("k")).cast("long")))
    assert(expected.last == "NaN")
    assert(ranked(Spine.rankBy(df, col("k"), "r")) == expected)
    // a constant key: ranks are exactly 1..n, as row_number's are
    val const = Seq.fill(50)(2.5).toDF("k")
    assert(Spine.rankBy(const, col("k"), "r").select("r").as[Long].collect().sorted.toSeq ==
      (1L to 50L))
  }

  test("bucketed: NaN keys take their own top bucket, off their group's range") {
    val s = spark; import s.implicits._
    val df = Seq(("a", 1.0), ("a", 5.0), ("a", Double.NaN), ("b", Double.NaN)).toDF("g", "k")
    def buckets(g: String): Seq[(Int, Double)] =
      Spine.bucketed(df.filter(col("g") === g), col("k"), Seq("g"))
        .select("__qb", "k").as[(Int, Double)].collect().toSeq.sortBy(_._1)
    val a = buckets("a")
    assert(a.map(_._1).distinct.size == 3, s"1.0, 5.0 and NaN need three buckets: $a")
    assert(a.map(_._2).take(2) == Seq(1.0, 5.0) && a.last._2.isNaN, s"bucket order is key order: $a")
    assert(buckets("b").map(_._1) == Seq(Spine.Buckets), "an all-NaN group takes the NaN bucket")
  }

  test("rankBy == unpartitioned row_number on a skewed unique-key frame") {
    val s = spark; import s.implicits._
    // keys concentrated near 0 (i² growth): most buckets empty, the
    // low buckets crowded — the skew case the two-phase split must
    // still rank exactly; shuffled input order
    val keys = (1 to 5000).map(i => (i.toLong * i) % 999983L)
      .distinct.map(k => k * 7919 % 999983L).distinct
    val df = scala.util.Random.shuffle(keys).toDF("k")
    val expected = df.withColumn("r", row_number().over(Window.orderBy("k")))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val got = Spine.rankBy(df, col("k"), "r")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("paretoFrontier2D two-phase == brute force on a continuous minimize axis") {
    val s = spark; import s.implicits._
    // continuous-ish prices with deliberate duplicates and bucket
    // collisions (dense range), sizes with ties — the shape the r16
    // rewrite must keep exact across the bucket boundary composition
    val rows = (1 to 2000).map { i =>
      val price = ((i * 37) % 500) / 7.0 + (i % 3) * 0.001
      val size = (i * 13) % 97
      (i.toLong, price, size)
    }
    val df = rows.toDF("id", "price", "sz")
    val got = Skyline.paretoFrontier2D(df, "price", "sz")
      .select("id").collect().map(_.getLong(0)).toSet
    val brute = rows.filter { case (_, p, z) =>
      !rows.exists { case (_, p2, z2) =>
        p2 <= p && z2 >= z && (p2 < p || z2 > z) }
    }.map(_._1).toSet
    assert(got == brute)
  }
}
