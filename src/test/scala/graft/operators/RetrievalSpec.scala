package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** RRF fusion: hand-computed scores, cross-list accumulation,
  * deterministic tie-breaks, and the top-k cut. */
class RetrievalSpec extends AnyFunSuite with SparkFixture {

  test("rrfFusion: hand-computed two-list fusion with overlap") {
    val s = spark; import s.implicits._
    val a = Seq((0L, 1L, 1), (0L, 2L, 2)).toDF("query_id", "doc_id", "rank")
    val b = Seq((0L, 2L, 1), (0L, 3L, 2)).toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFusion(Seq(a, b))
      .orderBy("fused_rank")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3), r.getInt(4)))
    def rr(ranks: Int*) = BigDecimal(ranks.map(r => 1.0 / (60 + r)).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Array(
      (2L, rr(2, 1), 2L, 1),  // in both lists: 1/62 + 1/61
      (1L, rr(1), 1L, 2),     // bm25-only rank 1: 1/61
      (3L, rr(2), 1L, 3)))    // dense-only rank 2: 1/62
  }

  test("rrfFusion: equal scores break ties by doc_id; topK cuts") {
    val s = spark; import s.implicits._
    val a = Seq((0L, 9L, 1), (0L, 5L, 2)).toDF("query_id", "doc_id", "rank")
    val b = Seq((0L, 3L, 1), (0L, 7L, 2)).toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFusion(Seq(a, b), topK = 3)
      .orderBy("fused_rank")
      .collect().map(r => (r.getLong(1), r.getInt(4)))
    // rank-1 docs 3 and 9 tie at 1/61 → doc 3 first; rank-2 docs 5, 7
    // tie at 1/62 → doc 5 takes the last slot, doc 7 cut by topK=3
    assert(out === Array((3L, 1), (9L, 2), (5L, 3)))
  }

  test("rrfFusion: queries fuse independently") {
    val s = spark; import s.implicits._
    val a = Seq((0L, 1L, 1), (1L, 2L, 1)).toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFusion(Seq(a))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).sorted
    assert(out === Array((0L, 1L, 1), (1L, 2L, 1)))
  }
}
