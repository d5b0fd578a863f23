package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Value-identity pins for the r15 native hash-sequence expressions:
  * `md5_h1_seq` / `xxhash64_seq` must be bit-identical to the SQL
  * higher-order-function forms they replaced in the index write/probe
  * paths (the md5 parity idiom is what the DuckDB oracle restates, so
  * a single differing value would silently fail every LSH hash check). */
class SketchHashSeqSpec extends AnyFunSuite with SparkFixture {

  private def arrays = {
    val s = spark; import s.implicits._
    // edge shapes: empty array, empty string, unicode, long strings,
    // and a spread of ordinary shingles
    Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq.empty[String]),
      (3L, Seq("", " ", "été café naïve", "x" * 500)),
      (4L, (0 until 100).map(i => s"tok$i tok${i + 1} tok${i + 2}"))
    ).toDF("id", "sh")
  }

  test("md5_h1_seq == transform(sh, x -> cast(conv(substring(md5(x),1,15),16,10) as bigint))") {
    val df = arrays.select(
      expr("md5_h1_seq(sh)").as("native"),
      expr("transform(sh, x -> cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint))").as("sql"))
    assert(df.filter(not(col("native") <=> col("sql"))).count() == 0)
  }

  test("xxhash64_seq == transform(sh, x -> xxhash64(x))") {
    val df = arrays.select(
      expr("xxhash64_seq(sh)").as("native"),
      expr("transform(sh, x -> xxhash64(x))").as("sql"))
    assert(df.filter(not(col("native") <=> col("sql"))).count() == 0)
  }
}
