package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

class PqSpec extends AnyFunSuite with SparkFixture {

  private def emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")

  test("codebooks: shape m x ks x dSub, deterministic across fits") {
    val b1 = Similarity.pqFit(spark, emb, m = 8, ks = 16, maxIter = 3)
    val b2 = Similarity.pqFit(spark, emb, m = 8, ks = 16, maxIter = 3)
    assert(b1.length == 8 && b1.forall(_.length == 16) && b1.forall(_.forall(_.length == 8)))
    assert(b1.map(_.map(_.toSeq).toSeq).toSeq == b2.map(_.map(_.toSeq).toSeq).toSeq,
      "same data + params must give identical codebooks")
  }

  test("ADC lookup equals explicit reconstruction dot product") {
    val s = spark
    val books = Similarity.pqFit(s, emb, m = 8, ks = 16, maxIter = 3)
    val rows = Similarity.pqEncode(s, emb.limit(20), books)
      .select("vec_id", "embedding", "pq_code").collect()
    val q = rows.head.getSeq[Float](1).toArray
    // per-pair ADC via the expressions, against a driver-side restatement
    val queries = emb.filter(col("vec_id") === rows.head.getLong(0))
    val adc = Similarity.pqTopK(s, emb.limit(20), queries, books, k = 20)
      .select("vec_id", "adc").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.tail.foreach { r =>
      val codes = r.getSeq[Int](2)
      val expected = (0 until 8).map { sub =>
        val cen = books(sub)(codes(sub))
        (0 until 8).map(j => q(sub * 8 + j).toDouble * cen(j)).sum
      }.sum
      assert(math.abs(adc(r.getLong(0)) - expected) < 1e-6,
        s"vec ${r.getLong(0)}: adc=${adc(r.getLong(0))} expected=$expected")
    }
  }

  test("exact duplicates share codes; rerank puts them at rank 1 with sim 1") {
    val s = spark
    val q = emb.filter(col("vec_id") < 3)
    val planted = q.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(planted)
    val books = Similarity.pqFit(s, corpus, m = 8, ks = 16, maxIter = 5)
    val codes = Similarity.pqEncode(s, corpus, books)
      .filter(col("vec_id") < 3 || col("vec_id") >= 1000000L)
      .select("vec_id", "pq_code").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    (0L until 3L).foreach(i => assert(codes(i) == codes(i + 1000000L)))
    val top1 = Similarity.pqTopKRerank(s, corpus, q, books, k = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    (0L until 3L).foreach { i =>
      assert(top1(i)._1 == i + 1000000L, s"query $i top1 = ${top1(i)}")
      assert(top1(i)._2 == 1.0)
    }
  }

  test("rerank recall beats raw ADC recall and clears 0.5 per query") {
    val s = spark
    val q = emb.filter(col("vec_id") < 5)
    val books = Similarity.pqFit(s, emb, m = 8, ks = 16, maxIter = 5)
    val exact = Similarity.bruteForceTopK(s, emb, q, k = 10)
    def minRecall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallVsExact(approx, exact, 10)
        .select("recall_vs_exact").collect().map(_.getDouble(0)).min
    val raw = minRecall(Similarity.pqTopK(s, emb, q, books, k = 10))
    val rr50 = minRecall(Similarity.pqTopKRerank(s, emb, q, books, k = 10, shortlist = 50))
    val rr100 = minRecall(Similarity.pqTopKRerank(s, emb, q, books, k = 10, shortlist = 100))
    assert(rr50 > raw, s"rerank ($rr50) should beat raw ADC ($raw)")
    assert(rr100 >= rr50, s"shortlist is the recall lever: $rr100 vs $rr50")
    assert(rr100 >= 0.5, s"shortlist=100 min recall $rr100")
  }
}
