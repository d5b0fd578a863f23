package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** The r16 two-phase spine helper must be value-identical to the
  * single-window forms it replaces (Embeddings rank spine, Skyline
  * running max) — exercised on frames wide enough that values share
  * buckets AND skewed enough that bucket occupancy is uneven. */
class SpineSpec extends AnyFunSuite with SparkFixture {

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
