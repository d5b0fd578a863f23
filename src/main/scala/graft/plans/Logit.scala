// Same package rationale as CosineSimilarity.scala / Sketches.scala:
// native expressions live under org.apache.spark.sql so they can use
// catalyst internals (XXH64, UTF8String buffers). hash_features is in
// the graft.plans.GraftExtensions table; graft.operators.Classifier
// builds the weight-bound expressions as columns.
package org.apache.spark.sql.catalyst.expressions.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Hashed bag-of-words feature vector (the "hashing trick", Weinberger
  * et al. 2009, as used by fastText/Vowpal Wabbit): token counts folded
  * into `dim` buckets by xxhash64 of the token string, plus a trailing
  * constant-1 intercept slot — output length is `dim + 1`. Row-local
  * O(tokens + dim); the per-token string is hashed ONCE (same
  * [[SketchHash]] discipline as the MinHash/SimHash sketches — the
  * `transform`+`aggregate` higher-order-function formulation would be
  * an interpreted O(tokens × dim) array rebuild per row).
  *
  * This is the feature layer of the reference-class quality-classifier
  * pipeline (CCNet trains exactly this shape: linear model over hashed
  * n-gram counts — Wenzek et al. 2020 §4.3). At 100 TB the vector stays
  * a per-row map-side product; nothing about it shuffles.
  *
  * `md5Mode` buckets by [[Md5Hash.h1]] (the first 60 md5 hex bits)
  * instead of xxhash64 — the same cross-engine hash family the MinHash
  * (`minhash_sig_md5`) and count-min oracles use: any engine that can
  * md5 a string recomputes the buckets exactly
  * (`('0x' || substr(md5(t), 1, 15))::BIGINT % dim` in DuckDB), which
  * is what lets the q107 training loop carry a full hash oracle.
  * xxhash64 (default) is ~5× faster and right for production runs. */
case class HashFeatures(child: Expression, dim: Int, md5Mode: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  require(dim > 0, s"hash_features dim must be positive, got $dim")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = if (md5Mode) "hash_features_md5" else "hash_features"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = new Array[Double](dim + 1)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h =
        if (md5Mode) Md5Hash.h1(arr.getUTF8String(i)) // ≥ 0 by construction
        else SketchHash.hash(arr.getUTF8String(i), 7L)
      val b = ((h % dim) + dim) % dim
      out(b.toInt) += 1.0
      i += 1
    }
    out(dim) = 1.0 // intercept
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-row logistic-regression gradient + diagnostics against the
  * CURRENT weight vector, which rides in the expression OBJECT like
  * [[NearestCells]]' centroid table (constructor data shipped with the
  * serialized plan — a literal-array formulation would bloat the plan
  * string and re-parse per analysis).
  *
  * Output length = |w| + 2:
  *   [0, |w|)   : (σ(w·x) − y) · x   — the batch-gradient summand
  *   [|w|]      : log-loss  −y·log p − (1−y)·log(1−p)  (clamped)
  *   [|w|+1]    : 1.0 if sign-prediction (p ≥ 0.5) matches y else 0.0
  * so ONE `vec_sum` aggregate per GD iteration yields the full
  * gradient, the total loss AND the training accuracy — the same
  * one-pass-per-round discipline as Lloyd's in
  * [[graft.operators.Similarity.kmeansFitTrace]]. Only |w|+2 doubles
  * per partition reach the shuffle. */
case class LogitGradLoss(left: Expression, right: Expression, weights: Array[Double])
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "logit_grad_loss"
  override def stringArgs: Iterator[Any] =
    Iterator(left, right, s"nWeights=${weights.length}")

  override def nullSafeEval(feat: Any, label: Any): Any = {
    val x = feat.asInstanceOf[ArrayData]
    val y = label.asInstanceOf[Double]
    val d = weights.length
    val n = math.min(x.numElements(), d)
    var margin = 0.0
    var i = 0
    while (i < n) { margin += weights(i) * x.getDouble(i); i += 1 }
    val p = 1.0 / (1.0 + math.exp(-margin))
    val out = new Array[Double](d + 2)
    val diff = p - y
    i = 0
    while (i < n) { out(i) = diff * x.getDouble(i); i += 1 }
    // clamp: p can round to exactly 0/1 in double; keep the loss finite
    val pc = math.max(1e-15, math.min(1.0 - 1e-15, p))
    out(d) = -y * math.log(pc) - (1.0 - y) * math.log(1.0 - pc)
    out(d + 1) = if ((p >= 0.5) == (y >= 0.5)) 1.0 else 0.0
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Raw decision margin w·x of a feature vector against a FROZEN weight
  * vector (scoring path — σ and thresholds stay in plain SQL so the
  * score/probability/decision split is visible in the plan). Same
  * weights-in-object discipline as [[LogitGradLoss]]. */
case class LogitMargin(child: Expression, weights: Array[Double])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "logit_margin"
  override def stringArgs: Iterator[Any] = Iterator(child, s"nWeights=${weights.length}")

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), weights.length)
    var margin = 0.0
    var i = 0
    while (i < n) { margin += weights(i) * x.getDouble(i); i += 1 }
    margin
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
