package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** int8 quantization: range/rounding invariants, exactness on
  * representable inputs, reconstruction quality, and the no-shuffle
  * plan shape.
  */
class QuantizeSpec extends AnyFunSuite with SparkSuite {
  test("quantized values stay in [-127, 127] and max|v| maps to ±127") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = Seq.tabulate(100) { i =>
      (i.toLong, Seq.fill(32)((rnd.nextDouble() * 2 - 1).toFloat))
    }.toDF("vec_id", "embedding")
    val q = Quantize.int8(df, "embedding")
      .select($"vec_id", $"qvec").as[(Long, Seq[Int])].collect()
    q.foreach { case (id, qv) =>
      assert(qv.forall(x => x >= -127 && x <= 127), s"vec $id out of range")
      assert(qv.exists(x => math.abs(x) == 127), s"vec $id max not saturated")
    }
  }

  test("exact on representable inputs; zero vector quantizes to zeros") {
    import spark.implicits._
    // v = k/127 quantizes back to exactly k
    val ks = Seq(-127, -64, -1, 0, 1, 63, 127)
    val df = Seq((1L, ks.map(k => (k / 127.0).toFloat)),
      (2L, Seq.fill(4)(0.0f))).toDF("vec_id", "embedding")
    val out = Quantize.int8(df, "embedding")
      .select($"vec_id", $"qvec", $"scale").as[(Long, Seq[Int], Double)]
      .collect().sortBy(_._1)
    // float(k/127) * (127/maxabs-as-double) lands within 1e-6 of k —
    // the +0.5 floor absorbs it
    assert(out(0)._2 == ks, s"got ${out(0)._2}")
    assert(out(1)._2 == Seq(0, 0, 0, 0) && out(1)._3 == 0.0)
  }

  test("reconstruction cosine ≥ 0.999 on random unit-scale vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val df = Seq.tabulate(200) { i =>
      (i.toLong, Seq.fill(64)((rnd.nextGaussian() * 0.2).toFloat))
    }.toDF("vec_id", "embedding")
    val bad = Quantize.int8(df, "embedding")
      .select(Quantize.reconCosine("embedding", "qvec").as("cos"))
      .filter($"cos" < 0.999).count()
    assert(bad == 0)
  }

  test("quantization plans with no shuffle") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = Quantize.int8(emb, "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("jlProject of a one-hot vector reads out the sign matrix exactly") {
    import spark.implicits._
    // e_0 quantizes to [2^20, 0, ...]: every projection is
    // sign(0, k) · 2^20 — the sign matrix made directly observable
    val oneHot = Seq((1L, 1.0f +: Array.fill(63)(0.0f))).toDF("vec_id", "embedding")
    val p = Quantize.jlProject(oneHot, "vec_id", "embedding", 64, 16)
      .orderBy("k").collect().map(_.getLong(2))
    assert(p.length == 16)
    assert(p.forall(v => v == 1048576L || v == -1048576L), p.mkString(","))
    // both signs occur over 16 draws (chance of not: ≈ 2·2^-16)
    assert(p.exists(_ > 0) && p.exists(_ < 0))
  }

  test("jlProject approximately preserves cosine structure") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    // plant a near-duplicate of vector 0 and project everything
    val base = emb.select(col("vec_id"), transform(col("embedding"),
      x => x.cast("double")).as("embedding"))
    val dup = base.filter(col("vec_id") === 0)
      .select(lit(1000000L).as("vec_id"),
        transform(col("embedding"), x => x + 0.05).as("embedding"))
    val p = Quantize.jlProject(base.unionByName(dup), "vec_id", "embedding", 64, 16)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getInt(1)).map(_.getLong(2).toDouble) }
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val near = cos(p(0L), p(1000000L))
    // JL at 16 dims distorts, but a planted near-dup (cos ≈ 0.93 in
    // 64d) must stay far above the random-pair noise floor
    assert(near > 0.7, s"projected near-dup cosine $near")
    val noise = p.keys.filter(k => k != 0L && k != 1000000L).take(20)
      .map(k => math.abs(cos(p(0L), p(k)))).max
    assert(near > noise, s"near $near vs noise $noise")
  }
}
