package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Element-wise SUM of long-array rows — the vector form of `sum`,
  * for the k-means M-step.
  *
  * The previous M-step shape was `posexplode(q)` →
  * `groupBy(cell, pos).agg(sum, count)`: a d-times row fan-out (d=64 ⇒
  * 64× the rows) where EVERY element pays the hash-aggregate's
  * per-row path (hash of (cell,pos), probe, branch) — the dominant
  * remaining term of the distributed SemDeDup trainer after the
  * round-19 E-step fix (ladder rung n=2.4M/k=4688/d=64: 168.8 s
  * distributed vs 100.8 s driver). This aggregate consumes the UNFANNED
  * (cell, q) rows: one hash probe per ROW, then a tight primitive loop
  * adding d longs into the group's single mutable long-array buffer —
  * no per-element hashing, no temporary arrays, no row explosion.
  *
  * Exactness: long addition is associative and commutative, so the
  * per-position sums are bit-identical to the exploded
  * `sum(col)` under any partitioning or row order — the same
  * determinism argument the integer-quantized Lloyd already rests on
  * (SemDedupSpec's distributed ≡ driver equality and the KMeans oracle
  * pin it end to end). Overflow behavior is that of Long addition,
  * unchanged from `sum(LongType)` which also accumulates in a Long.
  *
  * Null/shape contract: null arrays and null elements are rejected
  * loudly ([[KMeans.quantCol]] already guarantees neither exists), and
  * all rows of a group must share one length — a silent min/max-length
  * blend would drag centroid coordinates toward zero.
  */
case class LongVecSum(child: Expression,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def prettyName: String = "long_vec_sum"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  /** Sized on the first row (d is data-dependent); empty = "no rows
    * yet" sentinel, distinguishable from any real input because a
    * zero-length vector sums to a zero-length buffer anyway. */
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null)
      throw new IllegalStateException("long_vec_sum: null input array")
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (buf.isEmpty && n > 0) {
      val fresh = new Array[Long](n)
      add(fresh, a)
      fresh
    } else {
      if (n != buf.length && !(buf.isEmpty && n == 0))
        throw new IllegalStateException(
          s"long_vec_sum: ragged input (buffer d=${buf.length}, row d=$n)")
      add(buf, a)
      buf
    }
  }

  private def add(buf: Array[Long], a: ArrayData): Unit = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalStateException("long_vec_sum: null array element")
      buf(i) += a.getLong(i)
      i += 1
    }
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
    if (buf.isEmpty) other
    else if (other.isEmpty) buf
    else {
      if (buf.length != other.length)
        throw new IllegalStateException(
          s"long_vec_sum: ragged merge (${buf.length} vs ${other.length})")
      var i = 0
      while (i < buf.length) { buf(i) += other(i); i += 1 }
      buf
    }

  /** Groups exist only when ≥1 row was aggregated, and every input row
    * carries a d-length array — an empty buffer therefore means "all
    * rows were zero-length arrays", which sums to the empty array. */
  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): LongVecSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): LongVecSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): LongVecSum =
    copy(child = newChild)
}

object LongVecSum {
  /** Aggregate column: element-wise long sum of `vec` rows. */
  def sumCol(vec: Column): Column =
    ColumnBridge.column(
      LongVecSum(ColumnBridge.expression(vec)).toAggregateExpression())
}
