package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** DSIR contracts: importance scores separate target-like from
  * non-target text, selection is exactly-k and partition-independent,
  * and the top-k boundary avoids any global window.
  */
class DsirSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // two disjoint vocabularies: target docs speak "wiki", raw noise
  // speaks "web"; mixed docs sit in between
  private def corpus = {
    val wiki = (1L to 20L).map(i =>
      (i, "en", "physics theory quantum field energy mass"))
    val web = (21L to 60L).map(i =>
      (i, "xx", "click buy cheap deal offer now sale"))
    val mixed = (61L to 70L).map(i =>
      (i, "xx", "physics theory click buy energy deal"))
    (wiki ++ web ++ mixed).toDF("doc_id", "lang", "text")
  }

  test("target-vocabulary docs outscore off-target docs") {
    val scored = Dsir.importanceScores(corpus, "text", col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val wiki = (1L to 20L).map(scored)
    val web = (21L to 60L).map(scored)
    val mixed = (61L to 70L).map(scored)
    assert(wiki.min > mixed.max, "pure target must beat mixed")
    assert(mixed.min > web.max, "mixed must beat pure off-target")
  }

  test("selectTopK marks exactly k, deterministically, without a window") {
    val scored = Dsir.importanceScores(corpus, "text", col("lang") === "en")
    val out = Dsir.selectTopK(scored, 25)
    assert(out.filter(col("selected")).count() == 25)
    // top-k under disjoint vocab = the 20 wiki docs + 5 mixed
    val sel = out.filter(col("selected")).select("doc_id").as[Long].collect().sorted
    assert(sel.take(20).sameElements(1L to 20L))
    assert(sel.drop(20).forall(id => id >= 61L && id <= 70L))
    val replanned = Dsir.selectTopK(
      Dsir.importanceScores(corpus.repartition(7), "text", col("lang") === "en"), 25)
      .filter(col("selected")).select("doc_id").as[Long].collect().sorted
    assert(replanned.sameElements(sel))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"global window leaked into:\n$plan")
  }

  test("bucket hash is stable and in range") {
    val b = corpus.select(Dsir.bucketCol(col("text"), 64).as("b"))
      .as[Long].collect()
    assert(b.forall(x => x >= 0 && x < 64))
  }
}
