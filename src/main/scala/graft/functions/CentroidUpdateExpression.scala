package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The integer k-means M-step of one group as one aggregate: the
  * group's next centroids from its points and its previous model.
  *
  * Input rows are of two kinds. A point row carries its quantized
  * vector `q` (longs at the KMeans point scale) and the index `idx` of
  * its nearest centroid; its vector is added element-wise into that
  * cell's d-long sum (one buffer probe per row, a tight primitive loop,
  * no d-fold row fan-out). The group's one model row has `q` NULL and
  * carries the previous centroids `prev` (at point·cscale), copied
  * once. The result is, per cell in index order, `sum·cscale / count`
  * with truncating long division, or the previous centroid for a cell
  * no point chose.
  *
  * One aggregate per group, where per-(group, cell) sums would need a
  * second aggregate to gather each group's cells into its model row,
  * and the previous model a second read: every Lloyd iteration is one
  * shuffle of partial buffers (≤ the group's cells × d longs per
  * partition and group).
  *
  * Exactness: long addition is associative and commutative, so the
  * sums, and the means, are bit-identical under any partitioning or
  * row order. Null vectors and elements are rejected loudly
  * ([[graft.ext.KMeans.quantCol]] already guarantees neither exists),
  * and all vectors of a cell must share one length.
  */
case class CentroidUpdate(q: Expression, idx: Expression, prev: Expression,
                          cscale: Long,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CentroidUpdate.Buf]
    with TernaryLike[Expression] {

  import CentroidUpdate.Buf

  override def first: Expression = q
  override def second: Expression = idx
  override def third: Expression = prev
  override def prettyName: String = "centroid_update"
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): Buf = new Buf

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = q.eval(input)
    if (v == null) {
      val p = prev.eval(input)
      if (p == null)
        throw new IllegalStateException("centroid_update: row with neither point nor model")
      if (buf.prev == null) {
        val a = p.asInstanceOf[ArrayData]
        buf.prev = Array.tabulate(a.numElements())(i => a.getArray(i).toLongArray())
      }
    } else {
      val a = v.asInstanceOf[ArrayData]
      val c = buf.cell(idx.eval(input).asInstanceOf[Int], a.numElements())
      c(0) += 1
      var j = 0
      while (j < a.numElements()) {
        if (a.isNullAt(j))
          throw new IllegalStateException("centroid_update: null vector element")
        c(j + 1) += a.getLong(j)
        j += 1
      }
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    if (buf.prev == null) buf.prev = other.prev
    for (i <- other.cells.indices if other.cells(i) != null) {
      val o = other.cells(i)
      val c = buf.cell(i, o.length - 1)
      for (j <- o.indices) c(j) += o(j)
    }
    buf
  }

  override def eval(buf: Buf): Any =
    if (buf.prev == null) null
    else new GenericArrayData(Array.tabulate[Any](buf.prev.length) { i =>
      val cell = if (i < buf.cells.length) buf.cells(i) else null
      // positive operands: Scala `/`, Spark `div`, DuckDB `//` agree;
      // an emptied cell keeps its centroid
      UnsafeArrayData.fromPrimitiveArray(
        if (cell == null) buf.prev(i) else cell.tail.map(_ * cscale / cell(0)))
    })

  override def serialize(buf: Buf): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(buf.prev)
    out.writeObject(buf.cells)
    out.close()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new ObjectInputStream(new ByteArrayInputStream(bytes))
    val buf = new Buf
    buf.prev = in.readObject().asInstanceOf[Array[Array[Long]]]
    buf.cells = in.readObject().asInstanceOf[Array[Array[Long]]]
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CentroidUpdate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CentroidUpdate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): CentroidUpdate =
    copy(q = newFirst, idx = newSecond, prev = newThird)
}

object CentroidUpdate {

  /** Per cell, dense by cell index, `[count, sum…]` (null for a cell
    * no point chose here), and the previous model. */
  final class Buf {
    var prev: Array[Array[Long]] = null
    var cells: Array[Array[Long]] = Array.empty

    /** Cell `i`'s row for d-long vectors, allocated on first use. */
    def cell(i: Int, d: Int): Array[Long] = {
      if (cells.length <= i) cells = java.util.Arrays.copyOf(cells, i + 1)
      if (cells(i) == null) cells(i) = new Array[Long](d + 1)
      else if (cells(i).length != d + 1)
        throw new IllegalStateException(
          s"centroid_update: ragged input (d=${cells(i).length - 1} vs $d)")
      cells(i)
    }
  }

  /** Aggregate column: the next centroids of a group. */
  def updateCol(q: Column, idx: Column, prev: Column, cscale: Long): Column =
    ColumnBridge.column(CentroidUpdate(ColumnBridge.expression(q),
      ColumnBridge.expression(idx), ColumnBridge.expression(prev), cscale)
      .toAggregateExpression())
}
