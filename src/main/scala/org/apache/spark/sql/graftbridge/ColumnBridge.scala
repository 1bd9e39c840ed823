package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}

/** Column ⇄ Expression bridge. Spark 4 moved `Column.expr` behind
  * `private[sql] classic.ExpressionUtils`; third-party expression
  * libraries access it from inside the org.apache.spark.sql namespace
  * (the same technique Spark connectors use). This is the only file in
  * the repo outside the graft package.
  */
object ColumnBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
}

/** Dataset ⇄ session bridge (`classic.Dataset.ofRows` is `private[sql]`). */
object DatasetBridge {

  /** `df`'s logical plan as a new DataFrame of `session`: planned,
    * optimized and compiled there, under that session's conf. A
    * streaming micro-batch arrives on the stream's own clone of the
    * session, and Spark keys its generated-code cache by the session's
    * class loader as well as by the code, so every new stream would
    * otherwise compile its batch bodies afresh. */
  def onSession(session: SparkSession, df: DataFrame): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(session),
      df.queryExecution.logical)
}
