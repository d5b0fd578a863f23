// Same package rationale as CosineSimilarity.scala: native expressions
// live under org.apache.spark.sql so they can use catalyst internals.
// Its SQL name is in the graft.plans.GraftExtensions table.
package org.apache.spark.sql.catalyst.expressions.graft

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Maximal-marginal-relevance selection (Carbonell & Goldstein, SIGIR
  * 1998) over a per-query candidate list: greedily pick `k` items
  * maximizing `lambda·relevance − (1−lambda)·max_cosine_to_selected` —
  * the diversity re-rank that keeps a retrieval result from returning
  * k near-copies of the same document (for RAG context assembly, the
  * failure mode is real: near-dup corpus chunks otherwise fill the
  * whole context window).
  *
  * Input: `array<struct<id: bigint, emb: array<float>, score:
  * double>>` — the candidate set ALREADY reduced to per-query top-N by
  * a (distributed) ANN/exact ranker; this expression is the row-local
  * O(k·N·d) greedy tail, which is exactly where it belongs at scale —
  * MMR is inherently sequential in k, so the distributed part of the
  * plan produces candidates and the expression folds them per query
  * row with no further shuffle. Output: `array<struct<id, mmr, rank>>`
  * in selection order.
  *
  * Deterministic: the first pick is the pure-relevance argmax, ties
  * break on the lower id; embeddings are L2-normalized once so the
  * inner loop is a dot product. `lambda = 1` degenerates to plain
  * relevance top-k (the equivalence the spec asserts against the
  * exact ranker). */
case class MmrSelect(child: Expression, k: Int, lambda: Double)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("mmr", DoubleType, nullable = false),
    StructField("rank", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "mmr_select"
  override def stringArgs: Iterator[Any] = Iterator(child, k, lambda)

  // emb may arrive as array<float> (raw embeddings) or array<double>
  // (e.g. dequantized vectors) — a float-only read would silently
  // reinterpret doubles at the wrong stride
  @transient private lazy val embIsDouble: Boolean = child.dataType match {
    case ArrayType(StructType(fields), _) if fields.length >= 2 =>
      fields(1).dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val ids = new Array[Long](n)
    val scores = new Array[Double](n)
    val embs = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val r = arr.getStruct(i, 3)
      ids(i) = r.getLong(0)
      val e = r.getArray(1)
      val d = e.numElements()
      val v = new Array[Double](d)
      var j = 0
      while (j < d) {
        v(j) = if (embIsDouble) e.getDouble(j) else e.getFloat(j).toDouble
        j += 1
      }
      var nrm = 0.0
      j = 0
      while (j < d) { nrm += v(j) * v(j); j += 1 }
      if (nrm > 0) { nrm = math.sqrt(nrm); j = 0; while (j < d) { v(j) /= nrm; j += 1 } }
      embs(i) = v
      // NaN relevance ranks LAST (NaN fails every comparison, which
      // would otherwise leave the argmax empty and crash the loop)
      val s = r.getDouble(2)
      scores(i) = if (s.isNaN) Double.NegativeInfinity else s
      i += 1
    }
    var nOut = math.min(k, n)
    val used = new Array[Boolean](n)
    // max cosine to any selected item; initialized to cosine's true
    // lower bound so anti-correlated candidates keep their (negative)
    // diversity bonus instead of being clamped to 0 — and so a NaN dot
    // (bad embedding) cannot grant an unbounded bonus
    val maxSim = Array.fill(n)(-1.0)
    val out = new Array[Any](nOut)
    var sel = 0
    while (sel < nOut) {
      var best = -1
      var bestVal = Double.NegativeInfinity
      var c = 0
      while (c < n) {
        if (!used(c)) {
          // first pick: pure-relevance argmax (the conventional seed of
          // the greedy — at lambda=0 the formula alone would tie at 0)
          val v =
            if (sel == 0) scores(c)
            else lambda * scores(c) - (1.0 - lambda) * maxSim(c)
          if (v > bestVal || (v == bestVal && (best < 0 || ids(c) < ids(best)))) {
            best = c; bestVal = v
          }
        }
        c += 1
      }
      // every remaining candidate can be objective-NaN (e.g. lambda = 0
      // with a -Inf-mapped NaN relevance: 0 * -Inf = NaN, which no
      // comparison admits) — emit the shorter ranking instead of
      // indexing used(-1)
      if (best < 0) { nOut = sel } else {
      used(best) = true
      // emitted value is the MMR objective on a single scale: for the
      // first pick the selected-set max is empty (taken as 0), so the
      // value is lambda·relevance like every later rank — not the raw
      // relevance, which would mix scales within one output column
      val emitVal = if (sel == 0) lambda * scores(best) else bestVal
      out(sel) = new GenericInternalRow(Array[Any](ids(best), emitVal, sel + 1))
      val bv = embs(best)
      c = 0
      while (c < n) {
        if (!used(c)) {
          val cv = embs(c)
          val d = math.min(bv.length, cv.length)
          var dot = 0.0
          var j = 0
          while (j < d) { dot += bv(j) * cv(j); j += 1 }
          if (dot > maxSim(c)) maxSim(c) = dot
        }
        c += 1
      }
      sel += 1
      }
    }
    new GenericArrayData(if (nOut < out.length) out.take(nOut) else out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
