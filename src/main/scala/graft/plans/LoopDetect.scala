// Same package rationale as Sketches.scala: native expressions live
// under org.apache.spark.sql so they can use catalyst internals.
// Its SQL name is in the graft.plans.GraftExtensions table.
package org.apache.spark.sql.catalyst.expressions.graft

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Periodic-repetition match counts for the degenerate-loop detector
  * (q260): for p ∈ 1..maxP, count positions i with toks[i] == toks[i+p]
  * — the repeated-n-gram pathology signal of sampled/boilerplate text.
  *
  * Exists because the higher-order-function formulation
  * (`transform(sequence(1, n-p), i -> element_at(toks,i) =
  * element_at(toks,i+p))`) evaluates a Catalyst lambda PER ELEMENT —
  * three interpreted expression-tree walks and three boolean arrays
  * allocated per row. The r10 full-registry sf10 audit measured that at
  * 106 s for ~27 M tokens; this single fused primitive-equality loop
  * does the same Σp(n−p) comparisons with no per-element dispatch and
  * one small int array of output. CodegenFallback like the other graft
  * sketch expressions — the loop body is the work. */
case class PeriodMatches(child: Expression, maxP: Int)
    extends UnaryExpression with CodegenFallback {

  require(maxP >= 1, "maxP must be >= 1")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "period_matches"

  override def nullSafeEval(toksAny: Any): Any = {
    val toks = toksAny.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val counts = new Array[Int](maxP)
    var p = 1
    while (p <= maxP) {
      var c = 0
      var i = 0
      val lim = n - p
      while (i < lim) {
        // SQL equality semantics: a comparison with a null element is
        // NULL → not a match. Scala == on two null refs is true, which
        // would silently diverge from the HOF formulation this replaced
        // (unreachable from q260's split(), but the function is
        // registered for general array<string> input — r10 ADVICE).
        // UTF8String.equals is a primitive byte compare — no boxing;
        // isNullAt guards both array encodings (Unsafe leaves the
        // value slot undefined for null elements)
        if (!toks.isNullAt(i) && !toks.isNullAt(i + p) &&
            toks.getUTF8String(i) == toks.getUTF8String(i + p)) c += 1
        i += 1
      }
      counts(p - 1) = c
      p += 1
    }
    new GenericArrayData(counts.map(Int.box))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
