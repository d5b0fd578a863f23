// Declared inside org.apache.spark.sql.* because the aggregate base
// classes use private[sql] types — same placement rationale as
// VectorAgg/CosineSimilarity. Its SQL name ("topk_agg") is in the
// graft.plans.GraftExtensions table.
package org.apache.spark.sql.catalyst.expressions.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: (score, id) pairs kept sorted best-first by
  * (score DESC, id ASC) — the deterministic tie order. Capacity k;
  * inserts past capacity evict the worst. Arrays + memmove insertion:
  * O(log k) search + O(k) shift per accepted row, and rows worse than
  * the current k-th are rejected with ONE comparison — the hot path
  * for skewed groups. */
final class TopKBuffer(val k: Int) {
  var size: Int = 0
  // arrays grow geometrically toward k instead of pre-allocating k
  // slots: with millions of tiny groups (the LSH bucket-collect path,
  // where most buckets hold 1-2 ids under a 100+ cap) a full-k buffer
  // per group is the dominant allocation cost of the whole aggregate
  var scores: Array[Double] = new Array[Double](math.min(k, 4))
  var ids: Array[Long] = new Array[Long](math.min(k, 4))

  private def ensureRoom(): Unit = {
    if (size == scores.length && size < k) {
      val cap = math.min(k, math.max(4, scores.length * 2))
      scores = java.util.Arrays.copyOf(scores, cap)
      ids = java.util.Arrays.copyOf(ids, cap)
    }
  }

  // true when (s1, id1) ranks strictly better than (s2, id2)
  @inline private def better(s1: Double, id1: Long, s2: Double, id2: Long): Boolean =
    s1 > s2 || (s1 == s2 && id1 < id2)

  def insert(s: Double, id: Long): Unit = {
    if (size == k && !better(s, id, scores(size - 1), ids(size - 1))) return
    ensureRoom()
    // binary search for the insertion point (first slot this row beats)
    var lo = 0; var hi = math.min(size, k - 1)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (better(s, id, scores(mid), ids(mid))) hi = mid else lo = mid + 1
    }
    val at = lo
    val newSize = math.min(size + 1, k)
    var i = newSize - 1
    while (i > at) { scores(i) = scores(i - 1); ids(i) = ids(i - 1); i -= 1 }
    scores(at) = s; ids(at) = id
    size = newSize
  }
}

/** Native per-group top-k aggregate: `topk_agg(score, id, k)` returns
  * the group's k best `(score, id)` pairs as `array<struct<score, id>>`
  * best-first, ties broken by ascending id (deterministic across runs,
  * partitionings, and engines).
  *
  * Why a native aggregate and not `row_number() <= k`: the window
  * formulation shuffles EVERY row of every group to its reducer and
  * sorts there — at 100 TB a hot group's billion rows land on one
  * partition. This aggregate keeps a k-slot buffer per group per
  * partition (the same partial/merge contract as built-in `max`):
  * map-side, each partition reduces its slice of a group to ≤ k pairs,
  * the shuffle carries `groups × k` pairs instead of every row, and
  * skew becomes a non-event — the hot group's rows are rejected with
  * one comparison each against the local k-th best. The plan shows the
  * partial/final ObjectHashAggregate pair where the window plan shows
  * a full-data Exchange + Sort (spec-asserted).
  *
  * Null policy: rows with a null score or id are ignored (built-in
  * aggregate convention). Empty groups yield an empty array.
  */
case class TopKAgg(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] with ExpectsInputTypes {

  require(k >= 1 && k <= 65536, s"topk_agg k out of range: $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, LongType)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "topk_agg"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = scoreExpr.eval(input)
    val id = idExpr.eval(input)
    if (s != null && id != null)
      buffer.insert(s.asInstanceOf[Double], id.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) { buffer.insert(other.scores(i), other.ids(i)); i += 1 }
    buffer
  }

  override def eval(buffer: TopKBuffer): Any = {
    val rows = new Array[Any](buffer.size)
    var i = 0
    while (i < buffer.size) {
      rows(i) = InternalRow(buffer.scores(i), buffer.ids(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 16 * buffer.size)
    bb.putInt(buffer.k); bb.putInt(buffer.size)
    var i = 0
    while (i < buffer.size) {
      bb.putDouble(buffer.scores(i)); bb.putLong(buffer.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val bufK = bb.getInt(); val n = bb.getInt()
    val out = new TopKBuffer(bufK)
    if (n > out.scores.length) { // lazily-grown arrays: size to the payload
      out.scores = new Array[Double](n)
      out.ids = new Array[Long](n)
    }
    out.size = n
    var i = 0
    while (i < n) { out.scores(i) = bb.getDouble(); out.ids(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}
