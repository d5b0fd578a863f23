package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Target-encoding guarantees: the leave-fold-out no-leakage property
  * (a fold's encoding is invariant to that fold's own labels) and the
  * smoothing limits (rare category → prior, huge category → its mean). */
class EncodingSpec extends AnyFunSuite with SparkFixture {

  private def fold5(id: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).take(3).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16) % 5
  }

  test("no leakage: flipping a fold's own labels leaves its encoding unchanged") {
    val s = spark; import s.implicits._
    val base = (1L to 200L).map(i => ("c" + (i % 4), (i % 3 == 0), i))
    val df0 = base.map { case (c, y, i) => (c, if (y) 1 else 0, i) }.toDF("cat", "y", "id")
    // flip every label in fold 0 only
    val df1 = base.map { case (c, y, i) =>
      val yy = if (fold5(i) == 0L) (if (y) 0 else 1) else (if (y) 1 else 0)
      (c, yy, i)
    }.toDF("cat", "y", "id")

    def enc(df: org.apache.spark.sql.DataFrame) =
      Encoding.targetEncodeKFold(df, "cat", "y", "id")
        .collect().map(r => (r.getString(0), r.getAs[Long]("fold")) ->
          r.getAs[Double]("encoding")).toMap

    val (e0, e1) = (enc(df0), enc(df1))
    // fold 0 rows are encoded from folds 1-4 only -> identical...
    for (cat <- Seq("c0", "c1", "c2", "c3"))
      assert(e0((cat, 0L)) == e1((cat, 0L)),
        s"fold-0 encoding for $cat leaked its own labels")
    // ...while the OTHER folds see fold 0's flips and must move
    assert(Seq("c0", "c1", "c2", "c3").exists(cat => e0((cat, 1L)) != e1((cat, 1L))))
  }

  test("smoothing: tiny categories shrink to the prior, large ones to their mean") {
    val s = spark; import s.implicits._
    // one huge all-positive category, one single-row all-negative one
    val rows = (1L to 5000L).map(i => ("big", 1, i)) :+ (("rare", 0, 9999L))
    val out = Encoding.targetEncodeKFold(rows.toDF("cat", "y", "id"), "cat", "y", "id")
      .collect().map(r => (r.getString(0), r.getAs[Long]("fold")) ->
        (r.getAs[Double]("encoding"), r.getAs[Double]("prior"))).toMap
    for (((cat, _), (e, prior)) <- out) {
      if (cat == "big") assert(e > 0.99, s"big category should stay near 1.0: $e")
      // rare's single row: leave-fold-out leaves 0 observations ->
      // encoding must equal its fold's (leave-fold-out) prior exactly
      else assert(math.abs(e - prior) < 1e-9, s"rare should collapse to prior: $e vs $prior")
    }
  }
}
