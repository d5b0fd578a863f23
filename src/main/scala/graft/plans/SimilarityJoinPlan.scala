// Lives under org.apache.spark.sql so it can use private[sql] surfaces
// (Dataset.ofRows, df.logicalPlan) — same rationale as the native
// expressions. The graft-facing API is graft.plans.SimilarityJoinApi.
package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Logical operator: approximate top-k cosine similarity join between a
  * corpus and a query set (SURVEY §4's "similarity_join logical node
  * rewritten into an LSH-bucketed equi-join plan" — the one place the
  * survey justifies a custom Catalyst node for the 100 TB extensions).
  *
  * The node itself carries only semantics (k, nBits, tables, and a
  * strategy HINT); the physical strategy — exact broadcast scoring,
  * multi-table multiprobe LSH, or IVF — is chosen by
  * [[RewriteSimilarityJoin]] at optimization time from the corpus
  * plan's size statistics, mirroring how Spark itself picks broadcast
  * vs shuffle joins from `plan.stats`. `strategy` is "auto" (stats
  * decide) or a forced "brute" / "lsh" / "ivf". */
case class SimilarityJoinPlan(
    corpus: LogicalPlan, queries: LogicalPlan,
    k: Int, nBits: Int, tables: Int, strategy: String,
    output: Seq[Attribute]) extends BinaryNode {
  override def left: LogicalPlan = corpus
  override def right: LogicalPlan = queries
  // the node GENERATES its output columns (they are not child
  // pass-throughs) — without this the analyzer flags MISSING_ATTRIBUTES
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  // ...and it CONSUMES the id/embedding columns of both children —
  // without this ColumnPruning strips the children to empty projections
  // before the rewrite rule runs
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      (corpus.output ++ queries.output).filter(a =>
        a.name == "vec_id" || a.name == "embedding"))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(corpus = newLeft, queries = newRight)
}

object SimilarityJoinPlan {
  /** Output attributes typed from the children's actual id type — a
    * hardcoded LongType would make the analyzed outer plan disagree
    * with the rewritten plan when ids are e.g. IntegerType (BoundReference
    * then reads the wrong slot width at execution). */
  def outputAttrs(idType: org.apache.spark.sql.types.DataType): Seq[AttributeReference] = Seq(
    AttributeReference("query_id", idType)(),
    AttributeReference("vec_id", idType)(),
    AttributeReference("sim", DoubleType)(),
    AttributeReference("rank", IntegerType)())
}

/** Optimizer rule: replace the logical similarity join with a
  * fully-built (and internally optimized) ANN plan, aliasing the
  * rewritten plan's output to the node's original attribute ids so
  * upstream references stay bound.
  *
  * Strategy selection (when the node's hint is "auto") is cost-based on
  * `corpus.stats.sizeInBytes` — the same statistic Spark's own join
  * planning consults:
  *   - corpus ≤ `spark.graft.simjoin.bruteMaxBytes` (default 8 MiB):
  *     exact brute-force — at broadcast-hash-join scale the exact scan
  *     is cheaper than any index and has recall 1;
  *   - corpus ≥ `spark.graft.simjoin.ivfMinBytes` (default 256 MiB):
  *     IVF — the training pass (two nCentroids-sized jobs) amortizes,
  *     and density-adapted cells probe a smaller corpus fraction than
  *     data-oblivious hyperplanes;
  *   - in between: multiprobe LSH — no training pass, bounded probe
  *     fan-out.
  * The thresholds are session confs so deployments (and the spec) can
  * tune where the cutovers sit. */
case class RewriteSimilarityJoin(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case sj: SimilarityJoinPlan =>
      val corpusDf = SimilarityJoinApiInternal.ofRows(spark, sj.corpus)
      val queriesDf = SimilarityJoinApiInternal.ofRows(spark, sj.queries)
      val chosen = sj.strategy match {
        case "auto" =>
          val bytes = sj.corpus.stats.sizeInBytes
          val bruteMax = BigInt(spark.conf.get(
            "spark.graft.simjoin.bruteMaxBytes", (8L << 20).toString))
          val ivfMin = BigInt(spark.conf.get(
            "spark.graft.simjoin.ivfMinBytes", (256L << 20).toString))
          val pick =
            if (bytes <= bruteMax) "brute"
            else if (bytes >= ivfMin) "ivf"
            else "lsh"
          logInfo(s"similarity join: corpus ~$bytes bytes -> strategy '$pick'")
          pick
        case s => s
      }
      val rewritten = (chosen match {
        case "brute" =>
          graft.operators.Similarity.bruteForceTopK(spark, corpusDf, queriesDf, sj.k)
        case "ivf" =>
          graft.operators.Similarity.ivfTopK(spark, corpusDf, queriesDf, sj.k)
        case _ =>
          graft.operators.Similarity.lshTopK(spark, corpusDf, queriesDf, sj.k, sj.nBits, sj.tables)
      }).queryExecution.optimizedPlan
      val aliases: Seq[NamedExpression] = sj.output.map { out =>
        val src = rewritten.output.find(_.name == out.name).getOrElse(
          throw new IllegalStateException(s"rewrite lost column ${out.name}"))
        Alias(src, out.name)(exprId = out.exprId)
      }
      Project(aliases, rewritten)
  }
}

/** Bridge for Dataset construction from logical plans (public so the
  * graft.plans facade can call `build`; the private[sql] machinery it
  * touches stays encapsulated here). */
object SimilarityJoinApiInternal {
  private[graft] def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  private[graft] def logicalPlan(df: DataFrame): LogicalPlan = df.queryExecution.logical

  def build(corpus: DataFrame, queries: DataFrame, k: Int, nBits: Int, tables: Int,
      strategy: String = "auto"): DataFrame = {
    require(Set("auto", "brute", "lsh", "ivf")(strategy),
      s"unknown similarity-join strategy '$strategy'")
    val spark = corpus.sparkSession
    val node = SimilarityJoinPlan(
      logicalPlan(corpus), logicalPlan(queries), k, nBits, tables, strategy,
      SimilarityJoinPlan.outputAttrs(corpus.schema("vec_id").dataType))
    ofRows(spark, node)
  }
}
