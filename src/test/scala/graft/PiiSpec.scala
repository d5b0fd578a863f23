package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pii

class PiiSpec extends AnyFunSuite with SparkFixture {

  test("detects and redacts every type, multiple occurrences, exact placement") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "mail a@b.io and c.d+e@f-g.com, host 10.0.0.1 then 192.168.1.255, " +
        "call 555-123-4567 or 555-987-6543, ssn 123-45-6789"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val out = Pii.scrub(df).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Int]("n_email") == 2)
    assert(r1.getAs[Int]("n_ip") == 2)
    assert(r1.getAs[Int]("n_phone") == 2)
    assert(r1.getAs[Int]("n_ssn") == 1)
    assert(r1.getAs[Int]("n_pii") == 7)
    assert(r1.getAs[String]("redacted") ==
      "mail <email> and <email>, host <ip> then <ip>, " +
        "call <phone> or <phone>, ssn <ssn>")
    assert(out(2L).getAs[Int]("n_pii") == 0)
    assert(out(2L).getAs[String]("redacted") == "no pii here at all")
  }

  test("phone and SSN digit-group shapes never cross-match") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "phone 555-123-4567 ssn 987-65-4321")).toDF("doc_id", "text")
    val r = Pii.scrub(df).collect().head
    assert(r.getAs[Int]("n_phone") == 1 && r.getAs[Int]("n_ssn") == 1)
    assert(r.getAs[String]("redacted") == "phone <phone> ssn <ssn>")
  }

  test("redaction is idempotent: placeholders contain nothing any pattern matches") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "a@b.io 10.0.0.1 555-123-4567 123-45-6789")).toDF("doc_id", "text")
    val once = Pii.scrub(df).select("doc_id", "redacted")
      .withColumnRenamed("redacted", "text")
    val twice = Pii.scrub(once).collect().head
    assert(twice.getAs[Int]("n_pii") == 0)
    assert(twice.getAs[String]("redacted") == "<email> <ip> <phone> <ssn>")
  }

  test("plan: scrub is a zero-exchange map-only pass") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = (0L until 50L).map(i => (i, s"text $i a@b.io")).toDF("doc_id", "text")
    val plan = Pii.scrub(df).queryExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty)
  }
}
