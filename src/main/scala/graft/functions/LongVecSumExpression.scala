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

  /** Run `body` with ObjectHashAggregateExec's sort-fallback threshold
    * sized for aggregations whose per-partition group count and
    * per-group buffer size are KNOWN.
    *
    * Object-buffered aggregates (TypedImperativeAggregate like
    * [[LongVecSum]], and DeclarativeAggregates with non-primitive
    * buffers like `min(struct(...))` / `first(array)`) plan through
    * ObjectHashAggregateExec, which abandons its hash map for
    * SORT-based aggregation once a partition holds more than
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` keys —
    * default 128, sized for arbitrary-payload aggregates like
    * collect_list whose buffers grow with the data. A Lloyd iteration's
    * aggregates have BOUNDED buffers (the M-step: one d-long sum per
    * cell; the E-step: one (min-struct, q) pair per point id), so the
    * default turns every partition into a full sort of its rows per
    * iteration (measured at the n=2.4M/k=4688/d=64 ladder rung, same
    * window: 403 s with the default vs 237 s with the threshold sized
    * to the group counts). The threshold is raised to `keys` while
    * keys·bufBytes — the per-partition worst-case map payload — stays
    * within a 256 MB budget; past that cap the sort fallback is
    * genuinely the memory-safe path and is left in place (a
    * scale-parameterised bound, not a local tuning). Conf restored on
    * exit. */
  def withGroupBudget[T](spark: org.apache.spark.sql.SparkSession,
                         keys: Long, bufBytes: Long)(body: => T): T = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val maxKeys = math.max(128L, (256L << 20) / math.max(1L, bufBytes))
    val thresh = math.max(128L, math.min(keys, maxKeys))
      .min(Int.MaxValue.toLong)
    // getAll holds only the keys set on the session; getOption would
    // return the default of an unset key and the restore would set it
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, thresh.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
