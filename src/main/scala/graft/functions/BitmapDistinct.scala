package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}

/** Exact distinct count over a bounded non-negative integer domain via a
  * bitmap accumulation buffer — a custom TypedImperativeAggregate.
  *
  * Why custom: `COUNT(DISTINCT x)` plans an extra shuffle of the distinct
  * values (expand + two aggregates); `approx_count_distinct` is, well,
  * approximate. For bounded id domains (user ids, device ids, enum codes —
  * ubiquitous in a training-data pipeline) a fixed-size bitmap gives the
  * EXACT answer in one aggregation pass: partial bitmaps OR-merge
  * map-side, and the shuffle carries one bitmap per group instead of the
  * distinct value stream. At 100 TB that turns the heaviest distinct
  * rollups into ordinary one-shuffle aggregations.
  *
  * The aggregation buffer is a java.util.BitSet serialized to its long[]
  * words (Spark spills/transports buffers through serialize/deserialize).
  */
case class BitmapDistinct(
    child: Expression,
    maxId: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.BitSet] {

  override def createAggregationBuffer(): java.util.BitSet = new java.util.BitSet()

  override def update(buf: java.util.BitSet, input: InternalRow): java.util.BitSet = {
    val v = child.eval(input) match {
      case null => -1L
      case i: Int => i.toLong
      case l: Long => l
      case other => other.toString.toLong
    }
    if (v >= 0 && v <= maxId) buf.set(v.toInt)
    buf
  }

  override def merge(a: java.util.BitSet, b: java.util.BitSet): java.util.BitSet = {
    a.or(b); a
  }

  override def eval(buf: java.util.BitSet): Any = buf.cardinality().toLong

  override def serialize(buf: java.util.BitSet): Array[Byte] = {
    val words = buf.toLongArray
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.BitSet = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val words = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong(); i += 1 }
    java.util.BitSet.valueOf(words)
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "bitmap_distinct"

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapDistinct =
    copy(child = newChildren.head)
}

object BitmapDistinct {
  /** Column wrapper for `bitmap_distinct(col, maxId)`. */
  def apply(c: Column, maxId: Int): Column =
    call_function("bitmap_distinct", c, org.apache.spark.sql.functions.lit(maxId))
}
