package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Per-dim moment exactness on a hand-computed fixture, ragged-input
  * behavior, and the whiten round-trip (mean→0, std→1, zero-variance
  * dims survive). */
class EmbeddingsSpec extends AnyFunSuite with SparkFixture {

  test("silhouette: pure cluster scores 1.0, planted misassigned point counted in n_closer_other") {
    val s = spark; import s.implicits._
    // label 0: five copies of (1,0) plus ONE misassigned (0,1);
    // label 1: five copies of (0,1). Label 1's centroid is exactly
    // (0,1) (a = 0 for every member -> silhouette 1.0); the
    // misassigned point sits at cosine 1 to label 1's centroid and
    // ~0.196 to its own -> the only b < a point in the frame.
    val rows =
      (0L to 4L).map(i => (i, 0, Array(1.0f, 0.0f))) ++
        Seq((5L, 0, Array(0.0f, 1.0f))) ++
        (6L to 10L).map(i => (i, 1, Array(0.0f, 1.0f)))
    val out = Similarity.silhouette(spark, rows.toDF("vec_id", "label", "embedding"))
      .collect().map(r => r.getAs[Int]("label") -> r).toMap
    assert(out(1).getAs[Double]("silhouette") == 1.0)
    assert(out(1).getAs[Long]("n_closer_other") == 0L)
    assert(out(0).getAs[Long]("n_points") == 6L)
    assert(out(0).getAs[Long]("n_closer_other") == 1L)
    assert(out(0).getAs[Double]("mean_intra") > 0.0) // the impostor drags a up
    // silhouette is bounded in [-1, 1] by construction
    out.values.foreach { r =>
      val sil = r.getAs[Double]("silhouette")
      assert(sil >= -1.0 && sil <= 1.0)
    }
  }

  test("per-dim mean/std match hand computation; constant dim has std 0") {
    val s = spark; import s.implicits._
    // dim0: {1,3} -> mean 2, var 1; dim1: constant 5 -> std 0
    val df = Seq(Tuple1(Array(1.0f, 5.0f)), Tuple1(Array(3.0f, 5.0f)))
      .toDF("embedding")
    val out = Embeddings.perDimStats(spark, df, "embedding")
      .collect().map(r => r.getAs[Int]("dim") ->
        (r.getAs[Long]("n"), r.getAs[Double]("mean"), r.getAs[Double]("std"))).toMap
    assert(out(0) == ((2L, 2.0, 1.0)))
    assert(out(1) == ((2L, 5.0, 0.0)))
  }

  test("whiten: per-dim mean 0 / std 1 afterwards, zero-variance dim centered") {
    val s = spark; import s.implicits._
    val df = (1 to 40).map(i => Tuple1(Array(i.toFloat, 7.0f, -i * 2.0f)))
      .toDF("embedding")
    val white = Embeddings.whiten(spark, df, "embedding")
    val stats = Embeddings.perDimStats(spark, white, "embedding")
      .collect().map(r => r.getAs[Int]("dim") ->
        (r.getAs[Double]("mean"), r.getAs[Double]("std"))).toMap
    for (d <- 0 to 2) {
      val (m, sd) = stats(d)
      assert(math.abs(m) < 1e-4, s"dim $d mean after whiten: $m")
      if (d == 1) assert(sd == 0.0)        // constant dim: centered, std stays 0
      else assert(math.abs(sd - 1.0) < 1e-4, s"dim $d std after whiten: $sd")
    }
  }
}
