package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Count-min sketch contracts: the ≥-true guarantee holds for every
  * token, each row conserves total token mass, the sketch is bounded
  * by Depth·Width, and absent probes still obey the one-sided error.
  */
class CountMinSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // skewed corpus: "alpha" dominates, a long tail of near-singletons
  private def docs = (1 to 40).map { i =>
    val tail = s"tail$i word$i t${i % 7}"
    (i.toLong, if (i <= 25) s"alpha alpha beta $tail" else s"gamma $tail")
  }.toDF("doc_id", "text")

  private def toks = CountMin.tokens(docs, "text")

  test("every point estimate ≥ the true count (one-sided error)") {
    val sk = CountMin.sketch(toks)
    val exact = toks.groupBy($"tok").agg(count(lit(1)).as("n"))
    val bad = CountMin.estimates(exact, sk)
      .filter($"est" < $"n").collect()
    assert(bad.isEmpty, s"under-estimates: ${bad.mkString(", ")}")
  }

  test("each sketch row conserves total token mass; sketch ≤ Depth·Width rows") {
    val total = toks.count()
    val sk = CountMin.sketch(toks).collect()
    assert(sk.length <= CountMin.Depth * CountMin.Width)
    val perRow = sk.groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(2)).sum)
    (0 until CountMin.Depth).foreach { r =>
      assert(perRow(r) == total, s"row $r mass ${perRow.get(r)} != $total")
    }
  }

  test("the dominant token's estimate ranks first and is near-exact at this load") {
    // 4096 counters vs ~130 distinct tokens: collisions are possible
    // but the argmax token (50 occurrences vs ≤40 for everything else)
    // cannot be displaced by collision mass alone on this fixture
    val sk = CountMin.sketch(toks)
    val exact = toks.groupBy($"tok").agg(count(lit(1)).as("n"))
    val top = CountMin.estimates(exact, sk)
      .orderBy($"est".desc, $"tok").limit(1).collect().head
    assert(top.getString(0) == "alpha", s"expected alpha on top, got $top")
    assert(top.getLong(2) >= 50, s"alpha true count is 50: $top")
  }

  test("sum of split-corpus sketches equals the union sketch (mergeability)") {
    val (left, right) = (docs.filter($"doc_id" <= 20), docs.filter($"doc_id" > 20))
    val merged = CountMin.sketch(CountMin.tokens(left, "text"))
      .unionAll(CountMin.sketch(CountMin.tokens(right, "text")))
      .groupBy($"r", $"b").agg(sum($"cnt").as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = CountMin.sketch(toks)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole)
  }

  test("an absent probe token gets a 0-or-collision-mass estimate, never a drop") {
    val sk = CountMin.sketch(toks)
    val cand = Seq("neverseen").toDF("tok")
    val got = CountMin.estimates(cand, sk).collect()
    // a counter no token hashed to is a TRUE ZERO (left join +
    // coalesce): the probe must come back exactly once with est ≥ 0 —
    // an inner join would silently drop its empty rows and overestimate
    assert(got.length == 1 && got.head.getLong(1) >= 0L, got.mkString(", "))
  }
}
