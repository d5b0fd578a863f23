// Same package rationale as Sketches.scala: native expressions live
// under org.apache.spark.sql so they can use catalyst internals.
// Its SQL name is in the graft.plans.GraftExtensions table.
package org.apache.spark.sql.catalyst.expressions.graft

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One BPE merge step applied to a symbol sequence (Sennrich et al.,
  * ACL 2016 — the open-vocabulary subword algorithm behind GPT/Llama
  * tokenizers): every GREEDY LEFT-TO-RIGHT non-overlapping occurrence
  * of the adjacent pair (l, r) collapses into the single symbol l||r.
  *
  * Greedy semantics matter only when l == r: in a run of k identical
  * symbols the scan merges at offsets 0, 2, 4, … (⌊k/2⌋ merges) — the
  * behavior of the reference BPE implementations. For l ≠ r two
  * matches can never overlap (a match at i and i+1 would force
  * toks[i+1] = r = l), so every match merges. This equivalence —
  * "greedy scan = all matches, except even offsets within runs of
  * consecutive match positions" — is what lets the driver's DuckDB
  * oracle restate the scan as window functions (see
  * `TextQueries2.bpeOracle`); `BpeSpec` pins both the l==r run edge
  * and the adjacent-disjoint case.
  *
  * Row-local single pass, no allocation beyond the output array;
  * CodegenFallback like the other graft sketch expressions (the loop
  * body is the work; dispatch overhead is amortized over the array). */
case class BpeMerge(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_merge"

  override def nullSafeEval(toksAny: Any, lAny: Any, rAny: Any): Any = {
    val toks = toksAny.asInstanceOf[ArrayData]
    val l = lAny.asInstanceOf[UTF8String]
    val r = rAny.asInstanceOf[UTF8String]
    val n = toks.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      if (i + 1 < n && toks.getUTF8String(i) == l && toks.getUTF8String(i + 1) == r) {
        out.add(UTF8String.concat(l, r))
        i += 2 // consume both symbols: the greedy non-overlap rule
      } else {
        out.add(toks.getUTF8String(i))
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}
