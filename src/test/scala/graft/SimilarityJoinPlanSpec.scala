package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.SimilarityJoinApi
import graft.operators.Similarity

/** The custom logical node + Catalyst rewrite rule: declaring a
  * similarity join must produce exactly the same result as calling the
  * LSH operator directly, and the node must disappear from the
  * optimized plan. */
class SimilarityJoinPlanSpec extends AnyFunSuite with SparkFixture {

  test("similarity join node rewrites to the LSH plan and matches the direct call") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 3)
    val viaNode = SimilarityJoinApi.similarityJoin(emb, q, k = 5, nBits = 4, tables = 4,
      strategy = "lsh")
    // the logical node must be gone after optimization
    val optimized = viaNode.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("SimilarityJoinPlan"), optimized)
    val direct = Similarity.lshTopK(spark, emb, q, k = 5, nBits = 4, tables = 4)
    val a = viaNode.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val b = direct.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("strategy selection: stats pick brute/lsh/ivf at the configured thresholds") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(spark, emb, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def planOf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan.toString
    def sane(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.collect()
      assert(rows.nonEmpty && rows.forall(r => r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0))
    }
    // thresholds are session confs: squeeze them so the same tiny corpus
    // exercises each auto branch
    val corpusBytes = emb.queryExecution.optimizedPlan.stats.sizeInBytes
    // (1) auto -> brute: corpus under bruteMax; exact result, no sketch exprs
    spark.conf.set("spark.graft.simjoin.bruteMaxBytes", (corpusBytes * 2).toString)
    spark.conf.set("spark.graft.simjoin.ivfMinBytes", (corpusBytes * 4).toString)
    val brute = SimilarityJoinApi.similarityJoin(emb, q, k = 5)
    assert(!planOf(brute).contains("lsh_bucket") && !planOf(brute).contains("ivf_cells"))
    assert(brute.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == exact)
    // (2) auto -> lsh: corpus between the thresholds
    spark.conf.set("spark.graft.simjoin.bruteMaxBytes", "1")
    spark.conf.set("spark.graft.simjoin.ivfMinBytes", (corpusBytes * 4).toString)
    val lsh = SimilarityJoinApi.similarityJoin(emb, q, k = 5, nBits = 4, tables = 4)
    assert(planOf(lsh).contains("lsh_bucket"), planOf(lsh))
    sane(lsh)
    // (3) auto -> ivf: corpus over ivfMin
    spark.conf.set("spark.graft.simjoin.ivfMinBytes", "1")
    val ivf = SimilarityJoinApi.similarityJoin(emb, q, k = 5)
    assert(planOf(ivf).contains("ivf_cells"), planOf(ivf))
    sane(ivf)
    spark.conf.unset("spark.graft.simjoin.bruteMaxBytes")
    spark.conf.unset("spark.graft.simjoin.ivfMinBytes")
  }

  test("node output supports further relational composition (filter + agg on top)") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 3)
    val topOne = SimilarityJoinApi.similarityJoin(emb, q, k = 5, nBits = 4, tables = 4,
      strategy = "lsh")
      .filter(col("rank") === 1)
      .groupBy("query_id").agg(max("sim").as("best_sim"))
    val rows = topOne.collect()
    assert(rows.length == 3)
    assert(rows.forall(r => r.getDouble(1) > 0.0 && r.getDouble(1) <= 1.0))
  }
}
