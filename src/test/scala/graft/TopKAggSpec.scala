package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native bounded-heap top-k aggregate: correctness vs the window
  * formulation, tie determinism, null policy, partition independence,
  * and the plan shape that is the operator's reason to exist (partial
  * aggregation — no full-data sort shuffle). */
class TopKAggSpec extends AnyFunSuite with SparkFixture {

  test("matches the window formulation incl. ties; short groups return whole group") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("a", 5.0, 3L), ("a", 5.0, 1L), ("a", 5.0, 2L), // tie: id ascending
      ("a", 9.0, 9L), ("a", 1.0, 4L),
      ("b", 2.0, 7L) // group smaller than k
    ).toDF("g", "v", "id")
    val native = df.groupBy("g").agg(expr("topk_agg(v, id, 3)").as("t"))
      .select(col("g"), posexplode(col("t")))
      .select(col("g"), col("pos"), col("col.score"), col("col.id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    val expected = Seq(
      ("a", 0, 9.0, 9L), ("a", 1, 5.0, 1L), ("a", 2, 5.0, 2L),
      ("b", 0, 2.0, 7L))
    assert(native.sortBy(r => (r._1, r._2)).toSeq == expected)
  }

  test("null score or id rows are ignored; empty group absent via groupBy") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("a", Some(5.0), Some(1L)), ("a", None, Some(2L)), ("a", Some(7.0), None)
    ).toDF("g", "v", "id")
    val out = df.groupBy("g").agg(expr("topk_agg(v, id, 5)").as("t"))
      .select(size(col("t"))).head().getInt(0)
    assert(out == 1)
  }

  test("result is identical under any input partitioning (merge path)") {
    val s = spark; import s.implicits._
    val df = (1 to 1000).map(i => ("g" + (i % 3), (i % 97).toDouble, i.toLong))
      .toDF("g", "v", "id")
    def run(d: org.apache.spark.sql.DataFrame) =
      d.groupBy("g").agg(expr("topk_agg(v, id, 7)").as("t"))
        .orderBy("g").collect().map(_.toString).toSeq
    assert(run(df.repartition(1)) == run(df.repartition(13)))
  }

  test("plan: partial/final aggregate pair, no full-data sort shuffle") {
    val s = spark; import s.implicits._
    val df = (1 to 100).map(i => ("g" + (i % 3), i.toDouble, i.toLong))
      .toDF("g", "v", "id")
    val plan = df.groupBy("g").agg(expr("topk_agg(v, id, 5)").as("t"))
      .queryExecution.executedPlan.toString
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial + final pair — the map-side k-bounded reduction; the
    // window formulation would show Window + a full-data sort
    assert(plan.contains("ObjectHashAggregate"))
    assert("partial_topk_agg|partial topk_agg|Partial".r.findFirstIn(plan).isDefined,
      s"no partial aggregation visible:\n$plan")
    assert(!plan.contains("Window"), s"window leaked into the top-k plan:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"global sort leaked into the top-k plan:\n$plan")
  }

  test("hot-path rejection: a skewed group costs one comparison per losing row") {
    // direct buffer unit test: after the buffer fills with high scores,
    // inserting a worse row must not change state
    val b = new org.apache.spark.sql.catalyst.expressions.graft.TopKBuffer(3)
    Seq((9.0, 1L), (8.0, 2L), (7.0, 3L)).foreach { case (sc, id) => b.insert(sc, id) }
    (1 to 1000).foreach(i => b.insert(1.0, 100L + i))
    assert(b.size == 3 && b.scores.toSeq == Seq(9.0, 8.0, 7.0))
    // a better row still displaces the worst
    b.insert(8.5, 50L)
    assert(b.scores.take(3).toSeq == Seq(9.0, 8.5, 8.0) && b.ids(1) == 50L)
  }
}
