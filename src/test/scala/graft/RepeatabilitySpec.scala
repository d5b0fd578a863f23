package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must be invokable TWICE in one session with
  * identical results — catches hidden statefulness (memory-sink /
  * temp-view name reuse, cache accumulation, function-registry
  * conflicts) that a single-pass verify never sees but a long-lived
  * driver session would. */
class RepeatabilitySpec extends AnyFunSuite with SparkFixture {

  test("all queries run twice in one session with identical row counts") {
    val sf = "/root/testdata/sf0.001"
    val first = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sf).count()
    }
    val second = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sf).count()
    }
    first.zip(second).foreach { case ((n1, c1), (n2, c2)) =>
      assert(n1 == n2 && c1 == c2, s"$n1: first run $c1 rows, second run $c2")
    }
    assert(first.forall(_._2 >= 0))
  }

  test("entry() flagship returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
