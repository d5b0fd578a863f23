package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Pins the native PeriodMatches expression (plans/LoopDetect.scala)
  * against the higher-order-function formulation it replaced in q260 —
  * the two must agree element for element, since the q260 DuckDB oracle
  * was written against the HOF semantics. */
class LoopDetectSpec extends AnyFunSuite with SparkFixture {

  private def counts(tokens: Seq[String], maxP: Int): Seq[Int] = {
    val s = spark; import s.implicits._
    Seq(Tuple1(tokens)).toDF("toks")
      .select(expr(s"period_matches(toks, $maxP)").as("pm"))
      .collect().head.getSeq[Int](0)
  }

  test("planted cycles score their own period") {
    // pure 1-cycle: every adjacent pair matches
    assert(counts(Seq.fill(6)("a"), 3) == Seq(5, 4, 3))
    // pure 2-cycle a b a b a b: p1 never, p2 always, p3 never
    assert(counts(Seq("a", "b", "a", "b", "a", "b"), 3) == Seq(0, 4, 0))
    // pure 3-cycle
    assert(counts(Seq("x", "y", "z", "x", "y", "z"), 3) == Seq(0, 0, 3))
    // all-distinct control
    assert(counts(Seq("a", "b", "c", "d", "e"), 3) == Seq(0, 0, 0))
  }

  test("short arrays: counts clamp at zero comparisons, never negative") {
    assert(counts(Seq("a"), 3) == Seq(0, 0, 0))
    assert(counts(Seq("a", "a"), 3) == Seq(1, 0, 0))
    assert(counts(Seq.empty[String], 3) == Seq(0, 0, 0))
  }

  test("null elements follow SQL equality: never a match, even null-null") {
    // the HOF formulation (SQL =) yields NULL for a null operand and
    // filter() drops it; Scala == on null refs would count it (r10
    // ADVICE) — pin the SQL semantics
    assert(counts(Seq("a", null, "a", null, "a"), 3) == Seq(0, 2, 0))
    assert(counts(Seq(null, null, null), 2) == Seq(0, 0))
    assert(counts(Seq("a", null, null, "a"), 3) == Seq(0, 0, 1))
  }

  test("agrees with the HOF formulation on random-ish token arrays") {
    val s = spark; import s.implicits._
    // deterministic pseudo-random tokens over a small alphabet so
    // periodic matches actually occur
    val rows = (0 until 50).map { r =>
      Tuple1((0 until (r % 17 + 4)).map(i => s"t${(i * 7 + r) % 5}"))
    }
    val df = rows.toDF("toks")
    def hof(p: Int) = expr(
      s"size(filter(transform(sequence(1, size(toks) - $p), " +
        s"i -> element_at(toks, i) = element_at(toks, i + $p)), x -> x))")
    val out = df.select(
      expr("period_matches(toks, 3)").as("pm"),
      hof(1).as("h1"), hof(2).as("h2"), hof(3).as("h3")).collect()
    out.foreach { r =>
      val pm = r.getSeq[Int](0)
      assert(pm == Seq(r.getInt(1), r.getInt(2), r.getInt(3)))
    }
  }
}
