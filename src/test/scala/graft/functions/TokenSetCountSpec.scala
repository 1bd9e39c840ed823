package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** TokenSetCount must match the higher-order-`filter()` form it
  * replaced exactly — `split(lower(text), " ")` token semantics,
  * including empty tokens from repeated spaces — and must stay inside
  * whole-stage codegen (the reason it exists). */
class TokenSetCountSpec extends AnyFunSuite with SparkSuite {
  private val words = Seq("fast", "good", "bad")

  test("expression agrees with the higher-order filter() form") {
    import spark.implicits._
    val texts = Seq(
      "fast good bad", "FAST Good x", "fastgood", "", " ", "fast  fast",
      "a fast, day", "fast fast fast", "the quick brown fox", null)
    val df = texts.toDF("text")
    val oldForm = size(filter(split(lower(col("text")), " "),
      t => t.isin(words: _*)))
    val rows = df.select(
      TokenSetCount.token_set_count(col("text"), words).as("expr"),
      oldForm.as("old")).collect()
    rows.foreach { r =>
      val e = if (r.isNullAt(0)) null else r.getInt(0)
      val o = if (r.isNullAt(1)) null else r.getInt(1)
      assert(e == o, s"expr=$e old=$o")
    }
  }

  test("interpreted eval matches codegen (direct expression eval)") {
    import org.apache.spark.unsafe.types.UTF8String
    val set = new java.util.HashSet[String]()
    words.foreach(set.add)
    assert(TokenSetCount.count(UTF8String.fromString("Fast  good x"), set) == 2)
    assert(TokenSetCount.count(UTF8String.fromString(""), set) == 0)
    assert(TokenSetCount.count(UTF8String.fromString("fast"), set) == 1)
  }

  test("sentiment/lang-id projections stay inside whole-stage codegen") {
    // parquet-backed (a local relation would be constant-folded away)
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (c <- Seq(Sentiment.sentimentCol(col("text")),
                  graft.ext.TextStats.langIdCol(col("text")))) {
      val q = df.select(c.as("v"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("*(1)"), s"no whole-stage codegen span:\n$plan")
      q.collect() // and the generated code actually compiles and runs
    }
  }
}
