package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Contract-suite semantics on a planted fixture where every violation
  * count is known by construction — including the null-is-a-violation
  * rule for row-local predicates. */
class ContractsSpec extends AnyFunSuite with SparkFixture {

  test("row-local, uniqueness, and referential constraints count planted violations") {
    val s = spark; import s.implicits._
    val df = Seq(
      (Some(1L), Some("A"), Some(10.0), 1L), // clean
      (Some(1L), Some("A"), Some(10.0), 2L), // duplicate of key (1,A)? no — key is id only
      (Some(2L), Some("Z"), Some(-5.0), 3L), // bad flag, bad range
      (None,     Some("A"), None,       4L), // null id, null value
      (Some(9L), Some("N"), Some(99.0), 5L)  // id 9 missing from dim
    ).toDF("id", "flag", "value", "row")
    val dim = Seq(1L, 2L, 3L).toDF("dim_id")

    val out = Contracts.run(df, Seq(
        Contracts.notNull("id"),
        Contracts.inSet("flag", Seq("A", "N")),
        Contracts.inRange("value", 0.0, 100.0),
        Contracts.Unique(Seq("id")),
        Contracts.RefIntegrity("id", dim, "dim_id")))
      .collect().map(r => r.getAs[String]("constraint") ->
        (r.getAs[Long]("violations"), r.getAs[Long]("n_rows"), r.getAs[Int]("passed"))).toMap

    assert(out("not_null(id)") == ((1L, 5L, 0)))
    assert(out("in_set(flag)") == ((1L, 5L, 0)))          // only 'Z'
    assert(out("in_range(value)") == ((2L, 5L, 0)))       // -5.0 AND the null
    assert(out("unique(id)") == ((1L, 5L, 0)))            // id=1 twice -> 1 excess row
    assert(out("ref_integrity(id)") == ((1L, 4L, 0)))     // id=9; null probe excluded
  }

  test("empty table: every row-local constraint passes with 0/0, not a NULL verdict") {
    val s = spark; import s.implicits._
    val empty = Seq.empty[(Option[Long], String)].toDF("id", "flag")
    val out = Contracts.run(empty, Seq(
        Contracts.notNull("id"), Contracts.inSet("flag", Seq("A")),
        Contracts.Unique(Seq("id"))))
      .collect()
    assert(out.length == 3)
    assert(out.forall(r => r.getAs[Long]("violations") == 0L &&
      r.getAs[Long]("n_rows") == 0L && r.getAs[Int]("passed") == 1))
  }

  test("constraint names with quotes are safe (typed map, no SQL-text interpolation)") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "A")).toDF("id", "flag")
    val out = Contracts.run(df, Seq(
        Contracts.Satisfies("customer's `id` check", col("id").isNotNull)))
      .collect()
    assert(out.head.getAs[String]("constraint") == "customer's `id` check")
    assert(out.head.getAs[Int]("passed") == 1)
    intercept[IllegalArgumentException] {
      Contracts.run(df, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Contracts.run(df, Seq(Contracts.notNull("id"), Contracts.notNull("id")))
    }
  }

  test("an all-clean suite passes and a single fused scan covers all row-local gates") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "A"), (2L, "N")).toDF("id", "flag")
    val out = Contracts.run(df, Seq(
      Contracts.notNull("id"),
      Contracts.inSet("flag", Seq("A", "N")),
      Contracts.Unique(Seq("id"))))
    assert(out.collect().forall(_.getAs[Int]("passed") == 1))
    // the row-local half is ONE aggregate over ONE scan: the plan for
    // just those constraints must contain exactly one table scan
    val rowLocalOnly = Contracts.run(df, Seq(
      Contracts.notNull("id"), Contracts.inSet("flag", Seq("A", "N"))))
    val scans = rowLocalOnly.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size == 1, s"expected one fused scan, got ${scans.size}")
  }
}
