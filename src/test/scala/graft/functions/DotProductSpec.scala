package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The codegen'd dot product must be bit-identical to the reference
  * left-to-right UDF summation it replaced (oracle contracts depend on
  * the exact fp order), null-safe, and reachable from SQL through the
  * session extensions.
  */
class DotProductSpec extends AnyFunSuite with SparkSuite {
  private val refUdf = udf((a: Seq[Double], b: Seq[Double]) => {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  })

  test("lockstep with the reference UDF, bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(200) { i =>
      val d = 1 + rnd.nextInt(64)
      (i.toLong, Seq.fill(d)(rnd.nextDouble() * 2 - 1),
        Seq.fill(d)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val mismatch = df.select(
        DotProduct.dotCol(col("a"), col("b")).as("got"),
        refUdf(col("a"), col("b")).as("want"))
      // exact comparison: same summation order ⇒ same bits
      .filter(col("got") =!= col("want"))
      .count()
    assert(mismatch == 0)
  }

  test("length mismatch uses the shorter array; nulls propagate") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(10.0, 20.0))).toDF("a", "b")
    assert(df.select(DotProduct.dotCol(col("a"), col("b")))
      .as[Double].head() == 50.0)
    val withNull = df.select(
      DotProduct.dotCol(lit(null).cast("array<double>"), col("b")).as("d"))
    assert(withNull.filter(col("d").isNull).count() == 1)
  }

  test("registered in SQL via GraftExtensions, float arrays auto-cast") {
    import spark.implicits._
    Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
      .createOrReplaceTempView("dp_v")
    val got = spark.sql("SELECT dot_product(a, b) AS d FROM dp_v")
      .as[Double].head()
    assert(got == 11.0)
  }
}
