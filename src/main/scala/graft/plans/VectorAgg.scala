// Declared inside org.apache.spark.sql.* because the aggregate base
// classes use private[sql] types — same placement rationale as
// CosineSimilarity/Sketches. Its SQL name ("vec_sum") is in the
// graft.plans.GraftExtensions table.
package org.apache.spark.sql.catalyst.expressions.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, TypeCollection}

/** Native vector-sum aggregate: element-wise sum of an embedding
  * column (`array<float>` or `array<double>`) into one `array<double>`
  * per group — the custom-UDAF path (SURVEY §2.11) for centroid
  * computation WITHOUT the ×dim posexplode fan-out.
  *
  * Why an aggregate expression and not explode+sum: at 100 TB, a
  * d-dimensional explode multiplies the shuffled row count by d (64×
  * here, 1536× for production embedding sizes). `vec_sum` keeps one
  * d-length buffer per group per partition: the map side folds every
  * vector into the buffer locally and the shuffle carries
  * `groups × d` doubles instead of `rows × d` index pairs —
  * the same partial-aggregation contract as built-in sum, applied to a
  * vector type. TypedImperativeAggregate is the right base: the buffer
  * is an opaque JVM object (primitive double array, no per-element
  * boxing), serialized compactly only when a partial crosses the
  * shuffle.
  *
  * Ragged inputs zero-extend: the buffer grows to the LONGEST vector
  * seen and every vector contributes to its own prefix. max-length and
  * per-dimension sums are both order- and partitioning-independent, so
  * the result is deterministic across runs and cluster layouts (a
  * first-vector-sized buffer would truncate later, longer vectors —
  * making the answer depend on row order). NULL vectors are ignored
  * (same as built-in sum over NULLs). Empty groups yield NULL.
  */
case class VectorSum(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] with ExpectsInputTypes {

  // def, not val: TypeCollection is not Serializable (see CosineSimilarity)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "vec_sum"

  private def childIsDouble: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(buffer: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) buffer
    else {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val buf = if (buffer.length >= n) buffer
                else java.util.Arrays.copyOf(buffer, n) // zero-extends
      val dbl = childIsDouble
      var i = 0
      while (i < n) {
        buf(i) += (if (dbl) arr.getDouble(i) else arr.getFloat(i).toDouble)
        i += 1
      }
      buf
    }
  }

  override def merge(buffer: Array[Double], other: Array[Double]): Array[Double] = {
    if (other.isEmpty) buffer
    else if (buffer.isEmpty) other
    else {
      val (long, short) =
        if (buffer.length >= other.length) (buffer, other) else (other, buffer)
      var i = 0
      while (i < short.length) { long(i) += short(i); i += 1 }
      long
    }
  }

  override def eval(buffer: Array[Double]): Any =
    if (buffer.isEmpty) null else new GenericArrayData(buffer)

  override def serialize(buffer: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.length)
    bb.putInt(buffer.length)
    var i = 0
    while (i < buffer.length) { bb.putDouble(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = bb.getDouble(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSum =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): VectorSum =
    copy(inputAggBufferOffset = newOffset)

  override def children: Seq[Expression] = Seq(child)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
