package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The codegen'd DetectMime expression must agree with the UDF form and
  * stay inside a WholeStageCodegen span (the point of having it). */
class DetectMimeExprSpec extends AnyFunSuite with SparkSuite {
  private def fixtures = graft.Fixtures.dir

  test("expression and UDF agree on the fixtures; SQL registration works") {
    val docs = spark.read.format("binaryFile").load(fixtures)
      .withColumn("filename", element_at(split(col("path"), "/"), -1))
    val both = docs.select(
      col("filename"),
      DetectMime.detect_mime(col("content"), col("filename")).as("expr_mime"),
      Udfs.detect_mime(col("content"), col("filename")).as("udf_mime"))
    val rows = both.collect()
    assert(rows.length == 4)
    rows.foreach(r => assert(r.getString(1) == r.getString(2), r.toString))

    DetectMime.register(spark)
    docs.createOrReplaceTempView("docs_v")
    val viaSql = spark.sql(
      "SELECT detect_mime(content, filename) AS m FROM docs_v WHERE filename = 'simple.pdf'")
    assert(viaSql.head().getString(0) == "application/pdf")
  }

  test("expression stays inside whole-stage codegen") {
    val docs = spark.read.format("binaryFile").load(fixtures)
    val plan = docs.select(DetectMime.detect_mime(col("content"), col("path")))
      .queryExecution.executedPlan.toString
    // compact plan form marks whole-stage-codegen'd operators with "*(id)"
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1) Project"), plan)
  }
}
