package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Association-rule metrics on a hand-computed basket fixture and the
  * CUPED readout's variance-reduction / degenerate-covariate
  * guarantees. */
class AssocExperimentSpec extends AnyFunSuite with SparkFixture {

  test("assoc rules: hand-computed support/confidence/lift; mega-basket excluded") {
    val s = spark; import s.implicits._
    // baskets: 1={a,b,c} 2={a,b} 3={a,c} 4={b}
    // pairs: (a,b)x2 (a,c)x2 (b,c)x1 -> minSupport 2 drops (b,c)
    val df = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c"), (4L, "b")).toDF("basket", "item")
    val out = Assoc.rules(df, "basket", "item", minSupport = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_ab"), r.getAs[Double]("support"),
         r.getAs[Double]("confidence"), r.getAs[Double]("lift"))).toMap
    assert(out.size == 4) // a->b, b->a, a->c, c->a
    // N=4, n_a=3, n_b=3, n_c=2
    assert(out(("a", "b")) == ((2L, 0.5, 0.666667, 0.888889)))
    assert(out(("b", "a")) == ((2L, 0.5, 0.666667, 0.888889)))
    assert(out(("a", "c")) == ((2L, 0.5, 0.666667, 1.333333)))
    assert(out(("c", "a")) == ((2L, 0.5, 1.0, 1.333333)))

    // a 5-item mega-basket is excluded wholesale under maxBasket=4:
    // it must contribute neither pairs nor item/basket totals
    val mega = df.unionByName(
      Seq((9L, "a"), (9L, "b"), (9L, "x"), (9L, "y"), (9L, "z")).toDF("basket", "item"))
    val out2 = Assoc.rules(mega, "basket", "item", minSupport = 2, maxBasket = 4)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_ab"), r.getAs[Double]("support"),
         r.getAs[Double]("confidence"), r.getAs[Double]("lift"))).toMap
    assert(out2 == out)
  }

  test("CUPED: strong covariate slashes variance without moving the effect; flat covariate is a no-op") {
    val s = spark; import s.implicits._
    // post = pre + effect*arm + tiny deterministic wobble
    val units = (1 to 400).map { i =>
      val arm = i % 2
      val pre = 50.0 + (i % 37)
      val post = pre + 3.0 * arm + (i % 5) * 0.1
      (arm, pre, post)
    }.toDF("arm", "pre", "post")
    val r = Experiment.abCuped(units, "arm", "pre", "post").collect().head
    assert(math.abs(r.getAs[Double]("effect_cuped") - 3.0) < 0.2)
    assert(r.getAs[Double]("var_reduction") > 0.9,
      s"pre explains nearly all variance: ${r.getAs[Double]("var_reduction")}")
    assert(r.getAs[Double]("se_cuped") < r.getAs[Double]("se_raw"))
    assert(r.getAs[Double]("ci_lo") <= r.getAs[Double]("effect_cuped"))
    assert(r.getAs[Double]("ci_hi") >= r.getAs[Double]("effect_cuped"))

    // constant covariate: theta guard -> CUPED degrades to raw, no NaNs
    val flat = units.withColumn("pre", org.apache.spark.sql.functions.lit(7.0))
    val rf = Experiment.abCuped(flat, "arm", "pre", "post").collect().head
    assert(rf.getAs[Double]("effect_cuped") == rf.getAs[Double]("effect_raw"))
    assert(!rf.getAs[Double]("se_cuped").isNaN)
    assert(rf.getAs[Double]("var_reduction") == 0.0)
    assert(rf.getAs[Int]("valid") == 1)

    // a miswired assignment (every unit in one arm) must read as an
    // EXPLICITLY invalid verdict, not a null-filled readout
    val oneArm = units.withColumn("arm", org.apache.spark.sql.functions.lit(0))
    val ro = Experiment.abCuped(oneArm, "arm", "pre", "post").collect().head
    assert(ro.getAs[Int]("valid") == 0)
    assert(ro.isNullAt(ro.fieldIndex("effect_cuped")))
  }
}
