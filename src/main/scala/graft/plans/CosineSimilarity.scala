// Declared inside org.apache.spark.sql.* because ExpectsInputTypes'
// signature uses AbstractDataType, which is private[sql] — the standard
// pattern for third-party native expressions. Its SQL name is in the
// graft.plans.GraftExtensions table.
package org.apache.spark.sql.catalyst.expressions.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, TypeCollection}

/** Native Catalyst expression: cosine similarity of two `array<float>`
  * or `array<double>` embedding columns (each side independently),
  * with whole-stage-codegen support.
  *
  * Preferred over a Scala UDF (ser/de per row, codegen barrier) and over
  * `aggregate`/`zip_with` higher-order functions (interpreted lambda per
  * element): this compiles to a tight primitive loop over the two
  * `ArrayData` buffers inside the generated stage, which is what makes
  * brute-force re-ranking viable at 100 TB (the inner loop of any
  * similarity-search operator). The double-array side exists for
  * DEQUANTIZED vectors (int8 code · scale — see
  * `Similarity.quantizeInt8`), which are exact doubles a float cast
  * would corrupt.
  *
  * Accumulates in double (float inputs widen exactly), sequential order —
  * deterministic across runs and engines.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // def, not val: TypeCollection is not Serializable and must not
  // become a field of the (serialized) expression instance
  private def floatOrDoubleArray: AbstractDataType =
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType))

  override def inputTypes: Seq[AbstractDataType] =
    Seq(floatOrDoubleArray, floatOrDoubleArray)

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  private def isDouble(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (da, db) = (isDouble(left), isDouble(right))
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (da) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (db) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val getX = if (isDouble(left)) s"$a.getDouble($i)" else s"(double) $a.getFloat($i)"
      val getY = if (isDouble(right)) s"$b.getDouble($i)" else s"(double) $b.getFloat($i)"
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $x = $getX;
         |  final double $y = $getY;
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

