package graft.plans

import org.apache.spark.sql.DataFrame

/** User-facing similarity-join operator backed by the custom Catalyst
  * node [[org.apache.spark.sql.graft.SimilarityJoinPlan]]: callers
  * declare WHAT (top-k cosine neighbors of each query), the optimizer
  * rule decides HOW (multi-table multiprobe LSH + native cosine).
  *
  * {{{
  *   val knn = SimilarityJoinApi.similarityJoin(corpus, queries, k = 10)
  *   // columns: query_id, vec_id, sim, rank
  * }}}
  *
  * The rule comes with [[GraftExtensions]]; a session built without
  * that extension cannot plan the node. */
object SimilarityJoinApi {
  /** `strategy`: "auto" (default — corpus size statistics pick exact
    * brute-force, multiprobe LSH, or IVF; thresholds via the
    * `spark.graft.simjoin.{bruteMaxBytes,ivfMinBytes}` confs) or a
    * forced "brute" / "lsh" / "ivf". */
  def similarityJoin(corpus: DataFrame, queries: DataFrame,
      k: Int = 10, nBits: Int = 8, tables: Int = 4,
      strategy: String = "auto"): DataFrame =
    org.apache.spark.sql.graft.SimilarityJoinApiInternal
      .build(corpus, queries, k, nBits, tables, strategy)
}
