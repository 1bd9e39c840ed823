package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

/** The integer k-means E-step: the nearest of an array of centroids
  * to one quantized point, as `struct<idx: int, dist: long>`. `dist`
  * is the exact long Σ(aᵢ·cscale − cᵢ)² (points at the KMeans point
  * scale, centroids at point·cscale); ties go to the lowest index. An
  * empty centroid array has no nearest and gives NULL.
  *
  * One expression whatever the number of centroids: they arrive as one
  * `array<array<long>>` value — a literal model ([[graft.ext.KMeans]]'
  * map-only assignment) or a joined model row (the grouped trainer) —
  * so the generated code does not grow with k, and nothing is
  * allocated per candidate beyond the array view. A candidate's sum
  * stops once it reaches the best distance so far: every term is
  * non-negative, so it could no longer win, and the winner's sum is
  * always complete.
  */
case class QuantArgmin(left: Expression, right: Expression, cscale: Long)
    extends BinaryExpression {

  override def dataType: DataType = QuantArgmin.Type
  override def nullable: Boolean = true
  override def prettyName: String = "quant_argmin"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    QuantArgmin.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      cscale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.QuantArgmin.compute($a, $b, ${cscale}L);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object QuantArgmin {

  val Type: StructType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("dist", LongType, nullable = false)))

  /** Shared by interpreted eval and generated code (static forwarder).
    * A candidate's distance runs over min(len(a), len(c)) elements —
    * every call site compares d-length points with d-length centroids
    * — and stops once it reaches the best so far. */
  def compute(a: ArrayData, cents: ArrayData, cscale: Long): InternalRow = {
    var best = -1
    var bestD = Long.MaxValue
    for (i <- 0 until cents.numElements()) {
      val c = cents.getArray(i)
      val n = math.min(a.numElements(), c.numElements())
      var s = 0L
      var j = 0
      while (j < n && s < bestD) {
        val d = a.getLong(j) * cscale - c.getLong(j)
        s += d * d
        j += 1
      }
      if (s < bestD) { bestD = s; best = i }
    }
    if (best < 0) null else new GenericInternalRow(Array[Any](best, bestD))
  }

  def argminCol(point: Column, cents: Column, cscale: Long): Column =
    ColumnBridge.column(QuantArgmin(ColumnBridge.expression(point),
      ColumnBridge.expression(cents), cscale))
}
