package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** URL parsing + domain cap: parse correctness on the planted shapes,
  * cap semantics, and the plan contracts (parse is shuffle-free and
  * UDF-free; the cap runs on exactly one exchange). */
class UrlsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def docs = Seq(
    // doc_id, source, lang, n_chars: ids chosen to hit every branch
    (0L, "src0", "en", 100L),  // www (7|0), sub (3|0), query (5|0)
    (7L, "src0", "en", 50L),   // www only
    (9L, "src1", "de", 80L),   // sub only
    (10L, "src1", "de", 90L),  // query only (and domain -0)
    (11L, "src1", "de", 70L)   // none
  ).toDF("doc_id", "source", "lang", "n_chars")

  test("urlParse fields match the construction on every branch") {
    val rows = Urls.urlParse(docs).orderBy("doc_id").collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(0L).getString(1) ==
      "https://www.src0-0.example.com/en/sub/0?session=abc")
    assert(byId(0L).getString(2) == "src0-0.example.com") // www stripped
    assert(byId(0L).getInt(3) == 3 && byId(0L).getBoolean(4))
    assert(byId(7L).getString(2) == "src0-2.example.com")
    assert(byId(7L).getInt(3) == 2 && !byId(7L).getBoolean(4))
    assert(byId(9L).getInt(3) == 3 && !byId(9L).getBoolean(4))
    assert(byId(10L).getBoolean(4) &&
      byId(10L).getString(1).endsWith("/10?session=abc"))
    assert(byId(11L).getString(1) == "https://src1-1.example.com/de/11")
  }

  test("urlParse is map-only and UDF-free") {
    val plan = Urls.urlParse(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no Exchange in:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"expected no UDF in:\n$plan")
  }

  test("domainCap keeps k best by n_chars with deterministic ties") {
    // three docs share domain src1-0.example.com? ids 10 → -0; craft
    // a same-domain trio explicitly: ids 5,10,15 all %5==0, same
    // source+lang → same domain
    val trio = Seq(
      (5L, "srcx", "en", 10L), (10L, "srcx", "en", 30L),
      (15L, "srcx", "en", 30L), (20L, "srcx", "en", 5L)
    ).toDF("doc_id", "source", "lang", "n_chars")
    val kept = Urls.domainCap(trio, 2).orderBy("doc_id").collect()
    // rank: 10 (30), 15 (30, tie → higher id loses), then 5 (10)
    assert(kept.map(_.getLong(1)).toSeq == Seq(10L, 15L))
    assert(kept.forall(_.getLong(3) == 4L)) // domain_docs counts all
  }

  test("domainCap shuffles exactly once (both windows share the key)") {
    val plan = Urls.domainCap(docs, 3).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$plan")
  }

  private def canon(url: String): String =
    Seq(Tuple1(url)).toDF("u")
      .select(Urls.canonicalizeUrl(col("u")).as("c")).as[String].head()

  test("canonicalizeUrl: case, default port, fragment, tracking, slash") {
    assert(canon("HTTPS://WWW.Ex.COM:443/A/b/?utm_source=x&z=1&a=2#frag")
      == "https://www.ex.com/A/b?a=2&z=1")
    // path case is NOT folded (paths are case-sensitive per RFC 3986)
    assert(canon("https://ex.com/CaseSensitive") == "https://ex.com/CaseSensitive")
    // non-default port survives; http default is 80
    assert(canon("http://ex.com:8080/x") == "http://ex.com:8080/x")
    assert(canon("http://ex.com:80/x") == "http://ex.com/x")
    // utm-only query drops entirely; root path canonicalizes to empty
    assert(canon("https://ex.com/?utm_only=1") == "https://ex.com")
    assert(canon("https://ex.com/#top") == "https://ex.com")
  }

  test("domain blocklist: verdicts match the list; lookup is broadcast") {
    // id 0 is src0 with %5=0 → src0-0.example.com, ON the list; the
    // rest of the fixture docs map off-list
    val out = Urls.domainBlock(docs).orderBy("doc_id").collect()
    assert(out.map(r => r.getLong(0) -> r.getBoolean(2)).toMap ==
      Map(0L -> true, 7L -> false, 9L -> false, 10L -> false, 11L -> false))
    val plan = Urls.domainBlock(docs).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"blocklist lookup must be a broadcast join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"blocklist gate must not shuffle the probe side:\n$plan")
    // the messy spellings hit the same list entry (case/www noise)
    val messy = docs.select(col("doc_id"),
      Urls.blockKeyCol(Urls.messyUrlCol(2)(col("source"), col("lang"),
        col("doc_id"))).as("k")).orderBy("doc_id").collect()
    assert(messy.head.getString(1) == "src0-0.example.com")
  }

  test("both messy variants collapse onto one canonical for every doc") {
    val out = Urls.urlCanon(docs)
    assert(out.filter(!col("collapse_ok")).count() == 0)
    // distinct canonicals == distinct docs (ids differ in the path)
    assert(out.select("url_canon").distinct().count() == out.count())
  }
}
