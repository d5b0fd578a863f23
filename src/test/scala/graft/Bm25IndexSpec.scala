package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextSearch

/** The persisted BM25 index probe's size dispatch: a small query-term
  * set prunes the term-bucketed postings with a literal IN; past
  * `pruneLimit` it must fall back to a semi-join (the unbounded-
  * literal planning stall guard shared with the LSH/IVF probes). Both
  * branches must score bit-identically to the inline [[TextSearch
  * .bm25TopK]] on the indexed corpus. */
class Bm25IndexSpec extends AnyFunSuite with SparkFixture {

  private def corpus = {
    val s = spark; import s.implicits._
    (0L until 40L).map { i =>
      (i, s"common shared w${i % 7} tok${i} tok${i}b tok${i}c extra${i % 3}")
    }.toDF("doc_id", "text")
  }

  private def queries = {
    val s = spark; import s.implicits._
    Seq((1L, "shared tok5"), (2L, "common extra1 tok12b")).toDF("query_id", "query_text")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getLong(4)))
      .toSeq

  test("literal-prune and semi-join fallback branches score identically to the inline plan") {
    val s = spark
    TextSearch.writeBm25Index(corpus, "bm25_spec_idx", buckets = 4)
    val inline = rows(TextSearch.bm25TopK(corpus, queries, k = 5))
    // 5 distinct query terms ≤ default pruneLimit → literal branch
    val pruned = TextSearch.bm25TopKFromIndex(s, "bm25_spec_idx", queries, k = 5)
    assert(pruned.queryExecution.optimizedPlan.toString.contains(" IN "),
      "small term set must take the literal bucket-prune branch")
    assert(rows(pruned) === inline)
    // pruneLimit = 2 < 5 terms → semi-join fallback, same answer
    val fallback = TextSearch.bm25TopKFromIndex(s, "bm25_spec_idx", queries, k = 5,
      pruneLimit = 2)
    assert(fallback.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
      "an over-limit term set must take the semi-join fallback, not an IN literal")
    assert(rows(fallback) === inline)
  }
}
