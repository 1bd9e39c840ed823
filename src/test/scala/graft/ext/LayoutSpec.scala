package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The Morton interleave's defining properties, checked against a
  * Scala reference implementation and on real data.
  */
class LayoutSpec extends AnyFunSuite with SparkSuite {
  private def mortonRef(a: Long, b: Long): Long = {
    var z = 0L
    var i = 0
    while (i < Layout.Bits) {
      z |= ((a >> i) & 1L) << (2 * i + 1)
      z |= ((b >> i) & 1L) << (2 * i)
      i += 1
    }
    z
  }

  test("column interleave matches the scala reference bit-for-bit") {
    import spark.implicits._
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (40000L, 3L), (255L, 256L))
    val got = pairs.toDF("a", "b")
      .select(Layout.zorderCol(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    assert(got.sameElements(pairs.map { case (a, b) => mortonRef(a, b) }))
  }

  test("interleave is injective over the masked domain and order-preserving on tiles") {
    // same 14-bit prefix ⇒ both dims within a 2^9 span (the pruning
    // contract q_zorder_layout asserts per tile)
    val samples = for (a <- 0L until 64L; b <- 0L until 64L) yield (a * 711L % 65536L, b * 997L % 65536L)
    val zs = samples.map { case (a, b) => (mortonRef(a, b), a, b) }
    assert(zs.map(_._1).distinct.size == zs.map(t => (t._2, t._3)).distinct.size)
    zs.groupBy(_._1 >> 18).foreach { case (_, g) =>
      assert(g.map(_._2).max - g.map(_._2).min < 512)
      assert(g.map(_._3).max - g.map(_._3).min < 512)
    }
  }

  test("sql mirror text encodes the same bit positions") {
    val sql = Layout.zorderSql("a", "b")
    // spot bits: a's bit 0 at position 1, b's bit 15 at position 30
    assert(sql.contains("(((a) >> 0) & 1) << 1"))
    assert(sql.contains("(((b) >> 15) & 1) << 30"))
    assert(!sql.contains("<< 32"))
  }
}
