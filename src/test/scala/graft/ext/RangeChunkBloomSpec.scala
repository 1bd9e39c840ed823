package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Round-7 operators: bucketed range join (equi-join plan for a range
  * predicate), sliding-window chunking, bloom membership screen.
  */
class RangeChunkBloomSpec extends AnyFunSuite with SparkSuite {
  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  // ---- RangeJoin ----------------------------------------------------

  test("bucketed range join == naive range join, including negatives") {
    import spark.implicits._
    // adversarial domain: points straddle bucket edges and zero
    // epoch-nanos magnitude (> 2^53) pins the integral floorDiv: a
    // double-division bucket would round here and misplace the point
    val ns = 1700000000000000000L
    val points = Seq(
      (1L, -150L, 10L), (1L, -100L, 11L), (1L, -1L, 12L), (1L, 0L, 13L),
      (1L, 99L, 14L), (1L, 100L, 15L), (1L, 101L, 16L), (2L, 50L, 17L),
      (2L, 250L, 18L), (9L, ns + 123L, 19L), (9L, ns - 1L, 20L)).toDF("k", "t", "pid")
    val intervals = Seq(
      (1L, -120L, -20L, 100L), (1L, 0L, 100L, 101L), (1L, 95L, 310L, 102L),
      (2L, 40L, 60L, 103L), (3L, 0L, 1000L, 104L),
      (9L, ns, ns + 1000L, 105L)).toDF("k", "lo", "hi", "iid")
    for (width <- Seq(7L, 64L, 100L, 1000L)) {
      val got = RangeJoin.pointInInterval(points, intervals, Seq("k"),
          "t", "lo", "hi", width)
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      val want = points.as("p").join(intervals.as("i"),
          $"p.k" === $"i.k" && $"p.t" >= $"i.lo" && $"p.t" <= $"i.hi")
        .select($"p.pid", $"i.iid").as[(Long, Long)].collect().toSet
      assert(got == want, s"width=$width")
      // one bucket per point → no duplicate pairs possible
      val n = RangeJoin.pointInInterval(points, intervals, Seq("k"),
        "t", "lo", "hi", width).count()
      assert(n == want.size, s"width=$width produced duplicate candidate rows")
    }
  }

  test("bucketed range join plans as a hash join, not a nested loop") {
    import spark.implicits._
    val points = (1L to 200L).map(i => (i % 10, i, i)).toDF("k", "t", "pid")
    val intervals = (1L to 50L).map(i => (i % 10, i * 4, i * 4 + 20, i))
      .toDF("k", "lo", "hi", "iid")

    // key-less range join: naive = nested loop (every pair compared);
    // bucketed = hash join on the bucket alone
    val naiveNoKey = planOf(points.join(intervals,
      points("t") >= intervals("lo") && points("t") <= intervals("hi")))
    assert(naiveNoKey.contains("BroadcastNestedLoopJoin") ||
      naiveNoKey.contains("CartesianProduct"), naiveNoKey)
    val bucketedNoKey = RangeJoin.pointInInterval(points, intervals, Seq.empty,
      "t", "lo", "hi", bucketWidth = 20L)
    val planNoKey = planOf(bucketedNoKey)
    assert(!planNoKey.contains("BroadcastNestedLoopJoin") &&
      !planNoKey.contains("CartesianProduct"), planNoKey)
    assert(planNoKey.contains("HashJoin") || planNoKey.contains("SortMergeJoin"),
      planNoKey)
    val wantNoKey = points.join(intervals,
      points("t") >= intervals("lo") && points("t") <= intervals("hi")).count()
    assert(bucketedNoKey.count() == wantNoKey)

    // keyed range join: Spark already hash-joins on the equi-key, but
    // evaluates the range on EVERY same-key pair — O(|P_k|·|I_k|) per
    // key, quadratic under hot keys. The rewrite must put the bucket
    // INTO the join key so candidates stay near-linear.
    val keyed = planOf(RangeJoin.pointInInterval(points, intervals, Seq("k"),
      "t", "lo", "hi", bucketWidth = 20L))
    assert(!keyed.contains("BroadcastNestedLoopJoin") &&
      !keyed.contains("CartesianProduct"), keyed)
    val joinLine = keyed.linesIterator
      .find(l => l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joinLine.exists(_.contains("__rj_bucket")),
      s"bucket not in the join key: $keyed")
  }

  // ---- Chunking ------------------------------------------------------

  test("sliding chunks cover every token with exact overlap") {
    import spark.implicits._
    val chunkSize = 8
    val overlap = 3
    val stride = chunkSize - overlap
    // doc sizes around every boundary: < chunk, == chunk, == chunk+1,
    // exact multiple of stride, and a long one
    val docs = Seq(1, 7, 8, 9, 13, 14, 40, 101).zipWithIndex.map {
      case (n, id) => (id.toLong, (1 to n).map(i => s"w$i").mkString(" "))
    }.toDF("doc_id", "text")
    val got = Chunking.slidingChunks(docs, "doc_id", "text", chunkSize, overlap)
      .select("doc_id", "chunk_idx", "chunk_tokens")
      .as[(Long, Int, Int)].collect().groupBy(_._1)
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      val n = text.split(" ", -1).length
      val chunks = got(id).sortBy(_._2)
      val expectChunks =
        if (n <= chunkSize) 1 else math.ceil((n - chunkSize).toDouble / stride).toInt + 1
      assert(chunks.length == expectChunks, s"doc $id n=$n")
      assert(chunks.map(_._2).toSeq == (0 until expectChunks), s"doc $id indices")
      // every chunk is full-size except possibly when the doc is short;
      // the last chunk ends exactly at the document end
      chunks.foreach { case (_, idx, ct) =>
        val start = idx * stride
        assert(ct == math.min(chunkSize, n - start), s"doc $id chunk $idx")
      }
      val lastStart = (expectChunks - 1) * stride
      assert(lastStart + chunks.last._3 == n, s"doc $id tail coverage")
    }
  }

  test("chunk hashes match re-slicing the token array") {
    import spark.implicits._
    val docs = Seq((1L, (1 to 25).map("t" + _).mkString(" "))).toDF("doc_id", "text")
    val rows = Chunking.slidingChunks(docs, "doc_id", "text", 10, 4)
      .select("chunk_idx", "chunk_md5").as[(Int, String)].collect().toMap
    val toks = (1 to 25).map("t" + _)
    rows.foreach { case (idx, gotMd5) =>
      val want = toks.slice(idx * 6, idx * 6 + 10).mkString(" ")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(want.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(gotMd5 == md, s"chunk $idx")
    }
  }

  test("CDC chunks tile the document and boundaries are content-local") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = Seq((1L, base), (2L, ""), (3L, "short")).toDF("doc_id", "text")
    val got = Chunking.cdcChunks(docs, "doc_id", "text")
      .select("doc_id", "chunk_idx", "start", "len", "chunk_md5")
      .as[(Long, Int, Int, Int, String)].collect().groupBy(_._1)
    // tiling: chunks are contiguous, 1-based, and cover [1, n] exactly
    val c1 = got(1L).sortBy(_._2)
    assert(c1.head._3 == 1)
    c1.sliding(2).foreach {
      case Array(a, b) => assert(b._3 == a._3 + a._4, s"gap at ${b._2}")
      case _ =>
    }
    assert(c1.last._3 + c1.last._4 - 1 == base.length)
    // chunk md5 really is the slice md5
    c1.foreach { case (_, idx, s, l, h) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(base.substring(s - 1, s - 1 + l).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(h == md, s"chunk $idx")
    }
    // empty doc emits nothing; sub-window doc is one whole-doc chunk
    assert(!got.contains(2L))
    assert(got(3L).toSeq == Seq((3L, 0, 1, 5, got(3L).head._5)))
  }

  test("CDC boundary identity survives a prefix edit (the dedup property)") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val edited = "INSERTED " + base
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val md5s = Chunking.cdcChunks(docs, "doc_id", "text")
      .select("doc_id", "chunk_md5").as[(Long, String)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    // all but the first chunk of the original survive the edit verbatim
    val shared = md5s(1L).intersect(md5s(2L))
    assert(shared.size >= md5s(1L).size - 1,
      s"expected all later chunks stable, shared=${shared.size}/${md5s(1L).size}")
  }

  test("chunking plans with no shuffle") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = planOf(Chunking.slidingChunks(docs, "doc_id", "text", 64, 16))
    assert(!plan.contains("Exchange"), plan)
    val cdcPlan = planOf(Chunking.cdcChunks(docs, "doc_id", "text"))
    assert(!cdcPlan.contains("Exchange"), cdcPlan)
  }

  // ---- Bloom ---------------------------------------------------------

  test("bloom screen has no false negatives and bounded false positives") {
    import spark.implicits._
    val all = (1L to 5000L).map(i => (i, i * 2654435761L)).toDF("id", "fp")
    val members = all.filter($"id" % 5 === 0).select("fp")
    val screened = Bloom.screenByLongKey(all, members, "fp",
      expectedItems = 1000L, fpp = 0.01)
    val rows = screened.select($"id", $"fp", $"bloom_hit")
      .as[(Long, Long, Boolean)].collect()
    val falseNeg = rows.count { case (id, _, hit) => id % 5 == 0 && !hit }
    assert(falseNeg == 0, "bloom filter produced a false negative")
    val nonMembers = rows.filter { case (id, _, _) => id % 5 != 0 }
    val fpRate = nonMembers.count(_._3).toDouble / nonMembers.length
    assert(fpRate <= 0.05, s"false-positive rate $fpRate way above fpp=0.01")
  }

  test("chained screens with distinct sketches stay correct in one stage") {
    import spark.implicits._
    // two bloom_might_contain calls with DIFFERENT sketches collapse
    // into one codegen'd stage and alternate per row — the memo must
    // hold both (a 1-entry memo re-deserializes per row; correctness
    // holds either way, this pins the composed semantics)
    val all = (1L to 2000L).map(i => (i, i * 2654435761L)).toDF("id", "fp")
    val m1 = all.filter($"id" % 5 === 0).select("fp")
    val m2 = all.filter($"id" % 7 === 0).select("fp")
    val screened = Bloom.screenByLongKey(
      Bloom.screenByLongKey(all, m1, "fp", expectedItems = 500L, hitCol = "hit1"),
      m2, "fp", expectedItems = 400L, hitCol = "hit2")
    val rows = screened.select($"id", $"hit1", $"hit2")
      .as[(Long, Boolean, Boolean)].collect()
    assert(rows.forall { case (id, h1, _) => id % 5 != 0 || h1 })
    assert(rows.forall { case (id, _, h2) => id % 7 != 0 || h2 })
  }

  test("bloom expression is in lockstep with the driver-side filter object") {
    import spark.implicits._
    // the codegen'd bloom_might_contain must return EXACTLY what the
    // filter object it serialized from returns — same hits, same
    // false positives, per key (DotProductSpec-style lockstep)
    val members = (1L to 400L).map(_ * 7919L).toDF("fp")
    val bf = members.stat.bloomFilter("fp", 400L, 0.01)
    val probe = (1L to 3000L).map(i => i * 104729L).toDF("fp")
    val got = Bloom.screenByLongKey(probe, members, "fp", expectedItems = 400L)
      .select($"fp", $"bloom_hit").as[(Long, Boolean)].collect()
    // NOTE: screenByLongKey builds its own filter from the same members
    // at the same size/fpp — Spark's bloomFilter build is deterministic
    // for identical input, so the two filters are bit-identical
    got.foreach { case (fp, hit) =>
      assert(hit == bf.mightContainLong(fp), s"lockstep break at key $fp")
    }
  }

  test("bloom screen keeps the candidate scan inside whole-stage codegen") {
    import spark.implicits._
    val all = (1L to 100L).map(i => (i, i * 31L)).toDF("id", "fp")
    val members = all.filter($"id" % 5 === 0).select("fp")
    val screened = Bloom.screenByLongKey(all, members, "fp", expectedItems = 100L)
    val plan = screened.queryExecution.executedPlan.toString
    // the old boxed UDF fenced codegen on the candidate side; the
    // expression form must not introduce BatchEvalPython/ScalaUDF nodes
    assert(!plan.contains("ScalaUDF"), plan)
  }
}
