package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Manifest guarantees: layout independence (same digest under any
  * partitioning/order), diff localization (one changed row flags only
  * its bucket + root), and the XOR blind spot being covered by the
  * row count. */
class ManifestSpec extends AnyFunSuite with SparkFixture {

  private def docs(n: Int) = {
    val s = spark; import s.implicits._
    (1 to n).map(i => (i.toLong, s"content $i", "en")).toDF("id", "text", "lang")
  }

  test("digest is independent of partitioning and row order") {
    val base = docs(200)
    val a = Manifest.build(base, "id", Seq("text", "lang")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b = Manifest.build(base.repartition(7, col("text")).orderBy(desc("id")),
        "id", Seq("text", "lang")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a == b)
  }

  test("diff localizes a single changed row to its bucket and the root") {
    val old = docs(200)
    val neu = old.withColumn("text",
      when(col("id") === 57L, lit("EDITED")).otherwise(col("text")))
    val d = Manifest.diff(
        Manifest.build(old, "id", Seq("text", "lang")),
        Manifest.build(neu, "id", Seq("text", "lang")))
      .collect()
    val changed = d.filter(_.getAs[Int]("changed") == 1).map(_.getAs[Long]("bucket"))
    assert(changed.length == 2, s"expected bucket+root, got ${changed.toSeq}")
    assert(changed.contains(-1L))
    // counts unchanged (an edit, not an insert/delete)
    assert(d.forall(r => r.getAs[Long]("n_old") == r.getAs[Long]("n_new")))
  }

  test("null fields are flagged, not skipped: a value moving between columns changes the digest") {
    val s = spark; import s.implicits._
    val a = Seq((1L, Some("a"), Option.empty[String])).toDF("id", "text", "lang")
    val b = Seq((1L, Option.empty[String], Some("a"))).toDF("id", "text", "lang")
    val da = Manifest.build(a, "id", Seq("text", "lang"))
      .filter(col("bucket") === -1L).head.getLong(2)
    val db = Manifest.build(b, "id", Seq("text", "lang"))
      .filter(col("bucket") === -1L).head.getLong(2)
    assert(da != db, "concat_ws null-skipping would make these collide")
  }

  test("duplicate-pair insertion: XOR cancels but n_rows catches it") {
    val old = docs(50)
    val dupRow = old.filter(col("id") === 7L)
    val neu = old.unionByName(dupRow).unionByName(dupRow) // +2 identical rows
    val d = Manifest.diff(
        Manifest.build(old, "id", Seq("text", "lang")),
        Manifest.build(neu, "id", Seq("text", "lang")))
      .collect()
    val root = d.find(_.getAs[Long]("bucket") == -1L).get
    assert(root.getAs[Long]("digest_old") == root.getAs[Long]("digest_new"),
      "even-count duplicate must cancel in XOR (the documented blind spot)")
    assert(root.getAs[Int]("changed") == 1, "the row count must still flag it")
  }
}
