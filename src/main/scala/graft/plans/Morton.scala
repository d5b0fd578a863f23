// Declared inside org.apache.spark.sql.* because ExpectsInputTypes'
// signature uses AbstractDataType, which is private[sql] — the standard
// pattern for third-party native expressions. Its SQL name is in the
// graft.plans.GraftExtensions table.
package org.apache.spark.sql.catalyst.expressions.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType}

/** Bit-spreading helpers for 2-D Morton (Z-order) codes, shared by the
  * interpreted and codegen paths. Public so generated Java can call the
  * static forwarder `graft spread16(long)` directly.
  *
  * The spreading sequence is the classic "Interleave bits by Binary
  * Magic Numbers" from the public-domain Bit Twiddling Hacks page
  * (Sean Eron Anderson, Stanford) — each step doubles the gap between
  * occupied bit positions.
  */
object Morton {
  /** Spread the low 16 bits of v so bit i lands at position 2i. */
  def spread16(v: Long): Long = {
    var x = v & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    (x | (x << 1)) & 0x55555555L
  }

  def interleave(x: Long, y: Long): Long =
    spread16(x) | (spread16(y) << 1)
}

/** Native Catalyst expression: 32-bit 2-D Morton (Z-order) code from the
  * low 16 bits of two long columns — x's bits at even positions, y's at
  * odd. The code's HIGH bits are a quadtree cell address: `morton >> k`
  * groups rows into 2^(32-k) spatial cells whose per-cell min/max column
  * stats are tight on BOTH dimensions, which is what makes Z-order file
  * layout skippable for probes on either column (the reference's
  * city+date slicing pattern, generalized; see Layout.layoutPruningStats).
  *
  * A native expression (not an SQL mega-expression of 32 shift terms):
  * the spread runs as 8 straight-line long ops inside whole-stage
  * codegen, and the semantics are pinned here once for both the operator
  * and its DuckDB oracle restatement.
  */
case class Morton2(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "morton2"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    Morton.interleave(l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val spread = ctx.addNewFunction("graftSpread16",
        s"""
           |private long graftSpread16(long v) {
           |  long x = v & 0xFFFFL;
           |  x = (x | (x << 8)) & 0x00FF00FFL;
           |  x = (x | (x << 4)) & 0x0F0F0F0FL;
           |  x = (x | (x << 2)) & 0x33333333L;
           |  return (x | (x << 1)) & 0x55555555L;
           |}
         """.stripMargin)
      s"${ev.value} = $spread($x) | ($spread($y) << 1);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
