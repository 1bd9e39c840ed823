package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q_token_budget: the banded (no-global-window) plan must reach the
  * SAME verdicts as the direct global-cumsum definition. q_scd2: the
  * validity intervals must tile each user's timeline without overlap
  * and close exactly once.
  */
class BudgetScdSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("banded token-budget cut equals the global-cumsum definition") {
    val banded = graft.SparkEntry.queries("q_token_budget")(spark, sf)
      .select(col("doc_id"), col("kept"))
    val t = coalesce(col("text"), lit(""))
    val scored = Tables.documents(spark, sf).select(col("doc_id"),
      graft.ext.TextStats.qualityIntCol(t).cast("long").as("q_fp"),
      graft.ext.TextStats.wsTokensCol(t).cast("long").as("n_tok"))
    val b = scored.agg(expr("sum(n_tok) div 2")).collect()(0).getLong(0)
    val w = Window.orderBy(col("q_fp").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = scored.withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("doc_id"), (col("cum") <= b).as("kept"))
    assert(banded.exceptAll(ref).isEmpty && ref.exceptAll(banded).isEmpty)
    // and the cut is non-trivial: both kept and dropped docs exist
    val kepts = banded.groupBy(col("kept")).count().collect()
    assert(kepts.length == 2)
  }

  test("scd2 intervals tile each user's change timeline") {
    val rows = graft.SparkEntry.queries("q_scd2")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      // versions dense from 1
      assert(sorted.map(_.getInt(1)).sameElements(1 to sorted.length))
      // exactly one open (is_current) interval per user — the last
      assert(sorted.count(_.getBoolean(5)) == 1 && sorted.last.getBoolean(5))
      // each interval closes exactly where the next opens
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(!a.isNullAt(4) && a.getLong(4) == b.getLong(3))
          // consecutive versions carry different states
          assert(a.getString(2) != b.getString(2))
        case _ =>
      }
    }
  }
}
