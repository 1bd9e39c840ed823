package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Cross-document repeated-segment removal: segmentation algebra,
  * removal semantics, partition independence, and the broadcast
  * anti-join plan shape the 100 TB path depends on.
  */
class BoilerplateSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def corpus = Seq(
    // docs 1 and 2 share their FIRST 4-token segment (boilerplate);
    // tails are unique. doc 3 is entirely unique. doc 4 is ALL
    // boilerplate (the shared segment and nothing else).
    (1L, "shared header tokens here unique tail one x"),
    (2L, "shared header tokens here different ending two y"),
    (3L, "completely unrelated content in this row z w"),
    (4L, "shared header tokens here")
  ).toDF("doc_id", "text")

  test("segments are non-overlapping fixed-width windows in order") {
    val segs = Boilerplate.segments(corpus, "doc_id", "text", segTokens = 4)
      .where($"id" === 1L).orderBy($"seg")
      .select($"segtext").as[String].collect()
    assert(segs.sameElements(Array("shared header tokens here", "unique tail one x")))
  }

  test("segments of empty and null text are a single empty segment") {
    val df = Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val segs = Boilerplate.segments(df, "doc_id", "text", segTokens = 4)
      .select($"id", $"seg", $"segtext").collect()
    assert(segs.length == 2)
    assert(segs.forall(r => r.getInt(1) == 0 && r.getString(2) == ""))
  }

  test("segments shared by >= maxDf docs are cut; uniques survive in order") {
    val out = Boilerplate.dropRepeatedSegments(corpus, "doc_id", "text",
        segTokens = 4, maxDf = 2)
      .orderBy($"id")
      .collect()
    assert(out.length == 4) // row-count stability: every doc kept
    val byId = out.map(r => r.getLong(0) ->
      ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(byId(1L) == (("unique tail one x", 1L, 2L)))
    assert(byId(2L) == (("different ending two y", 1L, 2L)))
    assert(byId(3L) == (("completely unrelated content in this row z w", 2L, 2L)))
    assert(byId(4L) == (("", 0L, 1L))) // fully-boilerplate doc survives empty
  }

  test("result is independent of input partitioning") {
    val a = Boilerplate.dropRepeatedSegments(corpus, "doc_id", "text", 4, 2)
      .orderBy($"id").collect()
    val b = Boilerplate.dropRepeatedSegments(corpus.repartition(7),
        "doc_id", "text", 4, 2)
      .orderBy($"id").collect()
    assert(a.sameElements(b))
  }

  test("removal filter is a broadcast anti-join — text never shuffles for it") {
    val plan = Boilerplate.dropRepeatedSegments(corpus, "doc_id", "text", 4, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected a broadcast LEFT ANTI join in:\n$plan")
  }

  test("within-doc keep-first distinct drops later repeats, keeps order") {
    val df = Seq(
      // 4-token segments: [a b c d] [e f g h] [a b c d] [tail only] —
      // the third segment repeats the first and must be dropped
      (1L, "a b c d e f g h a b c d tail only"),
      (2L, "no repeats at all in this one")
    ).toDF("doc_id", "text")
    val out = df
      .withColumn("__toks", split($"text", " ")) // segmentArray's staged-array contract
      .select($"doc_id",
        concat_ws(" ", Boilerplate.keepFirstDistinct(
          Boilerplate.segmentArray($"__toks", 4))).as("clean"))
      .orderBy($"doc_id").as[(Long, String)].collect()
    assert(out(0)._2 == "a b c d e f g h tail only")
    assert(out(1)._2 == "no repeats at all in this one")
  }

  test("within-doc dedup is a single map-only projection — no shuffle") {
    val plan = corpus
      .withColumn("__toks", split($"text", " "))
      .select($"doc_id",
        Boilerplate.keepFirstDistinct(Boilerplate.segmentArray($"__toks", 4)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no Exchange in:\n$plan")
    assert(!plan.contains("Generate"), s"expected no Generate in:\n$plan")
  }
}
