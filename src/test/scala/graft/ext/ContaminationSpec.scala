package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Contamination-screen invariants on planted overlaps. */
class ContaminationSpec extends AnyFunSuite with SparkSuite {
  private def fixtures = {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val cands = Seq(
      (1L, "beta gamma delta epsilon"),     // fully inside the benchmark
      (2L, "zeta eta theta iota kappa"),    // disjoint vocabulary
      (3L, "alpha beta gamma zeta eta theta iota") // leading overlap only
    ).toDF("doc_id", "text")
    (cands, bench)
  }

  test("screen counts benchmark n-gram hits per candidate") {
    val (cands, bench) = fixtures
    val out = Contamination.screen(cands, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // doc 1: 2 shingles, both in benchmark
    assert(out(1L) == ((2L, 2L, true)))
    // doc 2: 3 shingles, none hit
    assert(out(2L) == ((3L, 0L, false)))
    // doc 3: 5 shingles, only "alpha beta gamma" hits → 20% ≥ 10%
    assert(out(3L) == ((5L, 1L, true)))
  }

  test("shuffle-join form equals the broadcast form") {
    val (cands, bench) = fixtures
    val a = Contamination.screen(cands, bench, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val b = Contamination.screen(cands, bench, "doc_id", "text",
        broadcastBench = false)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("threshold flag is an integer compare at the boundary") {
    import spark.implicits._
    // 10 shingles, exactly 1 hit → 10% — flagged at threshPct=10,
    // clean at threshPct=11 (no float round-off at the boundary)
    val bench = Seq((100L, "a b c")).toDF("doc_id", "text")
    val cand = Seq((1L, "a b c x1 x2 x3 x4 x5 x6 x7 x8 x9")).toDF("doc_id", "text")
    def flag(p: Int) = Contamination.screen(cand, bench, "doc_id", "text",
        threshPct = p).collect().head.getBoolean(3)
    assert(flag(10))
    assert(!flag(11))
  }

  test("excision cuts exactly the tokens covered by shared n-grams") {
    import spark.implicits._
    val cand = Seq(
      (1L, "a b c d e f g h"),      // one shared gram "c d e" → cut 3,4,5
      (2L, "p q r s t"),            // no overlap → untouched
      (3L, "c d e x y z")).toDF("doc_id", "text") // shared prefix cut only
    val bench = Seq((9L, "c d e x0 y0 z0")).toDF("doc_id", "text")
    val out = Contamination.excise(cand, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) == (("a b f g h", 3)))
    assert(out(2L) == (("p q r s t", 0)))
    assert(out(3L) == (("x y z", 3)))
  }

  test("excision of a doc fully contained in the benchmark empties it") {
    import spark.implicits._
    val cand = Seq((1L, "m n o p q")).toDF("doc_id", "text")
    val bench = Seq((9L, "m n o p q")).toDF("doc_id", "text")
    val r = Contamination.excise(cand, bench, "doc_id", "text").collect()(0)
    assert(r.getString(1) == "" && r.getInt(2) == 5)
  }

  test("selfExcise cuts cross-doc repeated grams at ANY offset, from all docs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "u1 u2 shared a b c u3 u4"),   // shared 3-gram mid-doc
      (2L, "shared a b c v1 v2 v3 v4"),   // same gram at offset 0 — alignment-free
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8")     // all unique → untouched
    ).toDF("doc_id", "text")
    val out = Contamination.selfExcise(corpus, "doc_id", "text", n = 3, minDf = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    // the 4-token window "shared a b c" holds two repeated 3-grams; the
    // cut covers every token either participates in
    assert(out(1L) == (("u1 u2 u3 u4", 4)))
    assert(out(2L) == (("v1 v2 v3 v4", 4)))
    assert(out(3L) == (("w1 w2 w3 w4 w5 w6 w7 w8", 0)))
  }

  test("selfExcise repetition WITHIN one doc does not reach minDf") {
    import spark.implicits._
    // the same 3-gram twice in ONE doc: df counts distinct docs, so it
    // survives (within-doc repetition is q_repetition's signal, not
    // dedup's)
    val corpus = Seq(
      (1L, "r s t r s t z1 z2"),
      (2L, "y1 y2 y3 y4 y5 y6")).toDF("doc_id", "text")
    val out = Contamination.selfExcise(corpus, "doc_id", "text", n = 3, minDf = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out(1L) == 0 && out(2L) == 0)
  }
}
