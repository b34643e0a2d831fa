package org.apache.spark.sql.graftnative

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType}

import graft.xscale.XHash.{minhashA, minhashB, P}

/** MinHash signature as a GROUP aggregate: element i of the result is
  * `min over rows of (a_i * (h mod P) + b_i) mod P` for the input 60-bit
  * hash column — the same permutation family the per-row
  * [[MinHashSig]] expression and the DuckDB oracles inline, but computed
  * ACROSS rows, so a group's signature sketches the union of its members'
  * shingle sets (per-source vocabulary sketches, streaming accumulation
  * over exploded shingles).
  *
  * Aggregation state is a primitive long[k]; partial merge is elementwise
  * min — commutative and associative, so the result is independent of
  * partitioning and task order (map-side partials compose freely, and the
  * value is deterministic enough to hash-compare against DuckDB). Empty
  * groups evaluate to null.
  */
case class MinHashAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_agg"

  // sentinel: no row seen yet for this lane (P is larger than any
  // (a*h+b) mod P value, so min() never returns it after one update)
  private val Empty = Long.MaxValue

  override def createAggregationBuffer(): Array[Long] = Array.fill(k)(Empty)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val hp = v.asInstanceOf[Long] % P
      var i = 0
      while (i < k) {
        val x = (minhashA(i) * hp + minhashB(i)) % P
        if (x < buf(i)) buf(i) = x
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    if (buf(0) == Empty) null else ArrayData.toArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * k)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(k)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashAgg =
    copy(child = newChildren.head)
}

object MinHashAgg {
  /** Column-level API: `minhashAgg(hashCol, k)` usable in `agg(...)`. */
  def apply(hashes: Column, k: Int): Column =
    ExpressionUtils.column(
      new MinHashAgg(ExpressionUtils.expression(hashes), k).toAggregateExpression())
}
