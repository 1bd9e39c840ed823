package graft.ext

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.SparkSuite

/** ScalaCheck laws for the round's model-building operators, checked
  * against independent driver-side REFERENCE implementations of the
  * same integer algebra (not against Spark's own expressions): random
  * corpora through KMeans.fit and CountMin must reproduce a 20-line
  * Scala Lloyd / sketch exactly. Deterministic seeds, no scalatestplus
  * bridge (the ArchivePropertySpec pattern). */
class SketchPropertySpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  // ---- k-means vs a driver-side reference Lloyd --------------------

  private def refQuant(v: Seq[Float]): Array[Long] =
    v.map(x => math.floor((x.toDouble + KMeans.Shift) * KMeans.Quant).toLong).toArray

  private def refLloyd(pts: Seq[(Long, Array[Long])], k: Int, iters: Int): Map[Long, Int] = {
    def dist(q: Array[Long], c: Array[Long]): Long =
      q.indices.map { j => val d = q(j) * KMeans.CScale - c(j); d * d }.sum
    def assign(cents: Array[Array[Long]]): Map[Long, Int] =
      pts.map { case (id, q) =>
        id -> cents.indices.minBy(i => (dist(q, cents(i)), i))
      }.toMap
    var cents = pts.sortBy(_._1).take(k).map(_._2.map(_ * KMeans.CScale)).toArray
    for (_ <- 1 to iters) {
      val a = assign(cents)
      val next = cents.map(_.clone())
      pts.groupBy { case (id, _) => a(id) }.foreach { case (c, members) =>
        next(c) = next(c).indices.map { j =>
          members.map(_._2(j)).sum * KMeans.CScale / members.length
        }.toArray
      }
      cents = next
    }
    assign(cents)
  }

  test("∀ random corpora: KMeans.fit equals the reference Lloyd") {
    val gen = for {
      dim <- Gen.chooseNum(1, 4)
      n <- Gen.chooseNum(3, 18)
      k <- Gen.chooseNum(1, 3)
      iters <- Gen.chooseNum(0, 3)
      vecs <- Gen.listOfN(n,
        Gen.listOfN(dim, Gen.chooseNum(-390, 390).map(_ / 100.0f)))
    } yield (k, iters, vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) })
    samples(gen, 12).foreach { case (k, iters, rows) =>
      val df = rows.toDF("vec_id", "embedding")
      val got = KMeans.fit(df, "vec_id", "embedding", k, iters)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = refLloyd(rows.map { case (id, v) => (id, refQuant(v)) }, k, iters)
      assert(got == want, s"k=$k iters=$iters rows=$rows")
    }
  }

  test("∀ random grouped corpora: KMeans.lloyd equals the reference Lloyd per group") {
    // the grouped case (SemDeDup's distributed trainer): every group
    // trains its own allocation, seeded from its own lowest ids, and a
    // point's label is its group's offset (allocations summed in group
    // order) plus its reference cluster index — whether the model is
    // broadcast to the points or the points shuffle to it
    val gen = for {
      dim <- Gen.chooseNum(1, 3)
      n <- Gen.chooseNum(3, 18)
      groups <- Gen.chooseNum(1, 3)
      iters <- Gen.chooseNum(0, 3)
      bc <- Gen.oneOf(true, false)
      grps <- Gen.listOfN(n, Gen.chooseNum(0, groups - 1))
      allocs <- Gen.listOfN(groups, Gen.chooseNum(1, 4))
      vecs <- Gen.listOfN(n,
        Gen.listOfN(dim, Gen.chooseNum(-390, 390).map(_ / 100.0f)))
    } yield (iters, bc, allocs, vecs.zip(grps).zipWithIndex.map {
      case ((v, g), i) => (i.toLong, v, g)
    })
    samples(gen, 12).foreach { case (iters, bc, allocs, rows) =>
      val live = rows.map(_._3).distinct.sorted
      val alloc = live.map(g => g -> allocs(g))
      val offs = live.zip(alloc.scanLeft(0)(_ + _._2)).toMap
      val pts = rows.toDF("id", "embedding", "grp")
        .select(col("id"), KMeans.quantCol(col("embedding")).as("q"), col("grp"))
      val got = KMeans.nearest(pts, KMeans.lloyd(pts, alloc, bc, iters), bc)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = rows.groupBy(_._3).flatMap { case (g, members) =>
        refLloyd(members.map { case (id, v, _) => (id, refQuant(v)) },
          allocs(g), iters).map { case (id, c) => id -> (offs(g) + c) }
      }
      assert(got == want, s"iters=$iters bc=$bc alloc=$alloc rows=$rows")
    }
  }

  // ---- count-min vs a driver-side reference sketch -----------------

  private def refBucket(r: Int, tok: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(s"$r:$tok".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(8), 16) % CountMin.Width
  }

  test("∀ random token multisets: sketch and estimates equal the reference") {
    val tokGen = Gen.chooseNum(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'z')).map(_.mkString))
    val corpusGen = Gen.chooseNum(1, 60).flatMap(n => Gen.listOfN(n, tokGen))
    samples(corpusGen, 15).foreach { toks =>
      val docs = toks.grouped(7).zipWithIndex
        .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
        .toDF("doc_id", "text")
      val tdf = CountMin.tokens(docs, "text")
      // reference sketch: exact counts folded into (r, bucket) cells
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val refSketch = (for {
        (tok, n) <- exact.toSeq; r <- 0 until CountMin.Depth
      } yield (r, refBucket(r, tok)) -> n)
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val gotSketch = CountMin.sketch(tdf)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(gotSketch == refSketch, s"sketch mismatch for $toks")
      val gotEst = CountMin.estimates(
          tdf.groupBy($"tok").agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n")),
          CountMin.sketch(tdf))
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      val wantEst = exact.keys.map { tok =>
        tok -> (0 until CountMin.Depth)
          .map(r => refSketch.getOrElse((r, refBucket(r, tok)), 0L)).min
      }.toMap
      assert(gotEst == wantEst, s"estimate mismatch for $toks")
    }
  }
}
