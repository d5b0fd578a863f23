package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.graft.{LogitGradLoss, LogitMargin, NativeColumn}
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions.tokens

/** Trained text-quality classifier: logistic regression over hashed
  * bag-of-words features (the CCNet/fastText shape — Wenzek et al.
  * 2020 §4.3 train a linear model over hashed n-gram counts to score
  * documents; reference `src/analysis.py` scores quality with static
  * ratios, this is the TRAINED counterpart a 100 TB curation pipeline
  * runs).
  *
  * Execution model — the same discipline as
  * [[Similarity.kmeansFitTrace]]:
  *  - features are computed ONCE (native [[org.apache.spark.sql
  *    .catalyst.expressions.graft.HashFeatures]], row-local) and cached
  *    for the duration of the GD loop (MEMORY_AND_DISK — spill, don't
  *    recompute the tokenize/hash lineage per round);
  *  - each batch-GD iteration is ONE distributed aggregate: a per-row
  *    native gradient expression (current weights riding in the
  *    expression object) folded by `vec_sum`, so gradient + loss +
  *    accuracy arrive together and only (dim+3) doubles per partition
  *    reach the shuffle;
  *  - the model itself (dim+1 doubles) is legitimate driver state,
  *    exactly like the k×d centroid table.
  * Nothing row-sized ever reaches the driver, so the loop's cost at
  * 100 TB is maxIter scans of the cached feature column. */
object Classifier {

  /** Per-row hashed-BOW features: `featCol` = array<double> of length
    * dim+1 (counts + intercept).
    * `md5Mode` swaps xxhash64 bucketing for the cross-engine md5-h1
    * family (see [[org.apache.spark.sql.catalyst.expressions.graft
    * .HashFeatures]]) — the oracle-replayable variant. */
  def featurize(docs: DataFrame, dim: Int = 256, textCol: String = "text",
      featCol: String = "features", md5Mode: Boolean = false): DataFrame = {
    val fn = if (md5Mode) "hash_features_md5" else "hash_features"
    docs.withColumn("__toks", tokens(textCol))
      .withColumn(featCol, expr(s"$fn(__toks, $dim)"))
      .drop("__toks")
  }

  /** Batch gradient descent on log-loss. Returns the trained weights
    * (length dim+1, intercept last) and the per-iteration
    * (loss_mean, accuracy) trace — loss is evaluated at the weights the
    * iteration STARTED from, so the trace is the standard monotone GD
    * certificate when lr is within the smoothness bound.
    *
    * `labelCol` must be 0.0/1.0 doubles.
    *
    * `floatCast` rounds the updated weight vector through FLOAT after
    * every iteration — the q90 centroid discipline: partial-aggregation
    * order (Spark's own run-to-run nondeterminism AND the cross-engine
    * DuckDB replay) perturbs the gradient sum only in the last double
    * ulps, and the float cast (an exactly-defined IEEE operation in
    * every engine) absorbs it, making the whole 15-round trajectory
    * machine-stable. The cast costs ~6e-8 relative weight precision per
    * round — noise against GD's own step sizes. Production training
    * keeps full doubles (default off). */
  def trainLogisticTrace(spark: SparkSession, docs: DataFrame,
      labelCol: String, dim: Int = 256, maxIter: Int = 20, lr: Double = 0.5,
      textCol: String = "text", md5Mode: Boolean = false,
      floatCast: Boolean = false): (Array[Double], Array[(Double, Double)]) = {
    val feats0 = featurize(docs, dim, textCol, md5Mode = md5Mode)
      .select(col("features"), col(labelCol).cast("double").as("label"))
    val ownCache = feats0.storageLevel == StorageLevel.NONE
    val feats = if (ownCache) feats0.persist(StorageLevel.MEMORY_AND_DISK) else feats0
    try {
      var w = new Array[Double](dim + 1)
      val trace = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      var iter = 0
      while (iter < maxIter) {
        val wNow = w
        val gradLoss = NativeColumn(col("features"), col("label"))(
          e => LogitGradLoss(e(0), e(1), wNow))
        val row = feats
          .select(call_function("vec_sum", gradLoss).as("g"),
            count(lit(1)).as("n"))
          .collect().head
        val g = row.getSeq[Double](0)
        val n = row.getLong(1).toDouble
        if (n == 0) return (w, trace.toArray)
        trace += ((g(dim + 1) / n, g(dim + 2) / n)) // (mean loss, accuracy)
        w = Array.tabulate(dim + 1) { i =>
          val wi = w(i) - lr * g(i) / n
          if (floatCast) wi.toFloat.toDouble else wi
        }
        iter += 1
      }
      (w, trace.toArray)
    } finally {
      if (ownCache) feats.unpersist(false)
    }
  }

  /** Score a corpus with FROZEN weights: adds `score` = σ(w·x) and
    * `pred` = score ≥ 0.5. One map-side pass — featurize + native
    * margin, no shuffle, no driver involvement. */
  def scoreLogistic(spark: SparkSession, docs: DataFrame, weights: Array[Double],
      dim: Int = 256, textCol: String = "text", md5Mode: Boolean = false): DataFrame = {
    val margin = NativeColumn(col("features"))(e => LogitMargin(e.head, weights))
    featurize(docs, dim, textCol, md5Mode = md5Mode)
      .withColumn("score", lit(1.0) / (lit(1.0) + exp(-margin)))
      .withColumn("pred", col("score") >= 0.5)
      .drop("features")
  }
}
