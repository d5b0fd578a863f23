package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Round-9 tranche: the cross-engine md5 HyperLogLog and the held-out
  * n-gram novelty audit. */
class HllSpec extends AnyFunSuite with SparkFixture {

  /** Reference register computation: the exact rule the operator (and
    * its DuckDB oracle) must follow — h1 from md5 hex, j = h mod m,
    * rank = W+1 − bitlength(h div m). */
  private def refEstimate(keys: Seq[String], b: Int): Double = {
    val m = 1 << b
    val W = 60 - b
    val regs = new Array[Int](m)
    keys.foreach { s0 =>
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s0.getBytes("UTF-8"))
      var h = 0L
      (0 until 8).foreach(i => h = (h << 8) | (dig(i) & 0xffL))
      h = h >>> 4 // first 15 hex digits = 60 bits
      val j = (h % m).toInt
      val w = h / m
      val r = if (w > 0) W + 1 - (64 - java.lang.Long.numberOfLeadingZeros(w)) else W + 1
      if (r > regs(j)) regs(j) = r
    }
    val sScaled = regs.map(mj => 1L << (W + 1 - mj)).sum
    val k = Hll.alpha(m) * m * m * (1L << (W + 1)).toDouble
    val raw = k / sScaled
    val v = regs.count(_ == 0)
    // small-range linear counting, as in Hll.estimateFromRegisters
    if (raw <= 2.5 * m && v > 0) m * math.log(m.toDouble / v) else raw
  }

  test("Hll.estimateDistinct matches the reference register algebra exactly and is ~1/sqrt(m) accurate") {
    val s = spark; import s.implicits._
    val n = 5000
    // two groups with different true cardinalities; duplicates mixed in
    val rows = (0 until n).map(i => ("g1", s"key${i % 3000}")) ++
      (0 until n).map(i => ("g2", s"other${i % 800}"))
    val df = rows.toDF("grp", "k")
    val out = Hll.estimateDistinct(df, "k", Seq("grp"), b = 8)
      .select("grp", "hll_estimate")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exp1 = refEstimate((0 until 3000).map(i => s"key$i"), 8)
    val exp2 = refEstimate((0 until 800).map(i => s"other$i"), 8)
    assert(math.abs(out("g1") - math.rint(exp1 * 100) / 100) < 1e-9,
      "g1 estimate must equal the reference register algebra (rounded 2)")
    assert(math.abs(out("g2") - math.rint(exp2 * 100) / 100) < 1e-9)
    // raw HLL accuracy: within ~4 standard errors of truth (se = 1.04/16)
    assert(math.abs(out("g1") / 3000.0 - 1.0) < 0.26, s"g1 est ${out("g1")} vs 3000")
    assert(math.abs(out("g2") / 800.0 - 1.0) < 0.26, s"g2 est ${out("g2")} vs 800")
  }

  test("Hll.estimateDistinct: merge-equivalence — union of shards equals whole (register max is associative)") {
    val s = spark; import s.implicits._
    val keys = (0 until 1200).map(i => s"mk$i")
    val whole = keys.map(("g", _)).toDF("grp", "k")
    val sharded = whole.repartition(7) // any partitioning
    def est(df: org.apache.spark.sql.DataFrame): Double =
      Hll.estimateDistinct(df, "k", Seq("grp"))
        .select("hll_estimate").head().getDouble(0)
    val a = est(whole)
    val b0 = est(sharded)
    assert(a === b0, "sketch must be partitioning-invariant")
    // duplicates never move the estimate (set semantics)
    val dup = (keys ++ keys ++ keys).map(("g", _)).toDF("grp", "k")
    assert(est(dup) === a)
  }

  test("noveltyReport: planted shared span yields exact seen-count; disjoint test doc is fully novel") {
    val s = spark; import s.implicits._
    // bucket(doc_id): -1 -> 74 (train), -2 -> 90 (test), -13 -> 99 (test)
    val shared = (1 to 12).map(i => s"nv$i").mkString(" ")
    val docs = Seq(
      (-1L, s"$shared tr1 tr2 tr3"),
      (-2L, s"$shared ts1 ts2 ts3 ts4"),
      (-13L, "iso1 iso2 iso3 iso4 iso5 iso6 iso7")).toDF("doc_id", "text")
    val out = Curation.noveltyReport(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // test doc -2: 16 tokens -> 12 distinct 5-grams, 8 inside the
    // shared 12-token span are train-seen
    assert(out(-2L) === ((12L, 8L, 0.3333)))
    // test doc -13: disjoint vocabulary -> fully novel
    assert(out(-13L) === ((3L, 0L, 1.0)))
  }
}
