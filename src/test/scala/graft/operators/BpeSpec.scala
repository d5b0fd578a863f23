package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Hand-computed oracles for BPE vocabulary induction (q237): the
  * greedy-merge expression's run semantics (the l==r parity edge the
  * DuckDB oracle restates as a window rule), the false-boundary
  * guard, a fully hand-traced 4-merge training run with a tie-break
  * step, early exhaustion, and the encode fold. */
class BpeSpec extends AnyFunSuite with SparkFixture {

  private def applyMerge(toks: Seq[String], l: String, r: String): Seq[String] = {
    val s = spark; import s.implicits._
    Seq(Tuple1(toks)).toDF("toks")
      .select(expr(s"bpe_merge(toks, '$l', '$r')").as("out"))
      .collect()(0).getSeq[String](0)
  }

  test("bpe_merge: l==r run of 3 merges greedily at even offsets") {
    assert(applyMerge(Seq("a", "a", "a", "</w>"), "a", "a") ==
      Seq("aa", "a", "</w>"))
  }

  test("bpe_merge: l==r run of 4 gives two merges") {
    assert(applyMerge(Seq("a", "a", "a", "a", "</w>"), "a", "a") ==
      Seq("aa", "aa", "</w>"))
  }

  test("bpe_merge: disjoint adjacent matches all merge") {
    assert(applyMerge(Seq("x", "y", "x", "y", "</w>"), "x", "y") ==
      Seq("xy", "xy", "</w>"))
  }

  test("bpe_merge: symbol boundaries are respected (no substring match)") {
    // 'xa','b' must NOT merge under (a, b): the pair is over SYMBOLS,
    // not the concatenated character stream
    assert(applyMerge(Seq("xa", "b", "</w>"), "a", "b") ==
      Seq("xa", "b", "</w>"))
  }

  test("learnMerges: hand-traced 4-merge run with tie-break and early stop") {
    val s = spark; import s.implicits._
    // corpus → words: "aa"×2, "ab"×1; toks aa=[a,a,</w>], ab=[a,b,</w>]
    // step 1 counts: (a,a)=2, (a,</w>)=2, (a,b)=1, (b,</w>)=1
    //   tie at 2 → lexicographic r: '</w>' < 'a' → (a, </w>)
    // step 2: aa=[a,a</w>] → (a,a</w>)=2 wins
    // step 3: only ab pairs remain → (a,b)=1
    // step 4: (ab,</w>)=1; step 5: no pairs → early stop at 4 rows
    val docs = Seq("aa aa ab").toDF("text")
    val merges = Bpe.learnMerges(docs, "text", nMerges = 6, topWords = 10)
      .orderBy("step")
      .collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[String]("lsym"),
        r.getAs[String]("rsym"), r.getAs[Long]("pair_count")))
    assert(merges.toSeq == Seq(
      (1, "a", "</w>", 2L),
      (2, "a", "a</w>", 2L),
      (3, "a", "b", 1L),
      (4, "ab", "</w>", 1L)))
  }

  test("encode: folding the learned merges compresses words to single units") {
    val s = spark; import s.implicits._
    val docs = Seq("aa aa ab").toDF("text")
    val out = Bpe.encode(docs, "text",
        Seq(("a", "</w>"), ("a", "a</w>"), ("a", "b"), ("ab", "</w>")),
        topWords = 10)
      .select("word", "n_subwords").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("aa" -> 1, "ab" -> 1))
  }

  test("q287 fertility: bounds hold and accounting is internally consistent") {
    val rows = graft.queries.TextQueries2
      .q287TokenizerFertility(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val total = r.getAs[Long]("total_words")
      val covered = r.getAs[Long]("covered_words")
      assert(covered <= total && covered > 0)
      assert(r.getAs[Double]("coverage_pct") <= 100.0)
      // a word costs at least its </w> unit: fertility >= 1; and a
      // 16-merge baby tokenizer can't beat character-level by much:
      // well under the 13-unit ceiling (12-char word + </w>)
      val f = r.getAs[Double]("fertility")
      assert(f >= 1.0 && f <= 13.0, s"fertility out of range: $r")
    }
  }
}
