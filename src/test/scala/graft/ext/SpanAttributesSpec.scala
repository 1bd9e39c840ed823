package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Span-level Dolma attributes: char-offset correctness (0-based start
  * inclusive / end exclusive under the single-space convention),
  * Luhn-gated PII spans, maximal contaminated islands, and the excise
  * mix's interval-merge semantics (overlapping spans cut their UNION,
  * never double-counted).
  */
class SpanAttributesSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val ValidCard = "4111111111111111" // Luhn-valid
  private val BadCard   = "4111111111111112" // checksum broken

  test("piiCardSpans: Luhn-valid runs span with exact char offsets; near-misses don't") {
    val docs = Seq(
      (1L, s"pay $ValidCard now"),
      (2L, s"pay $BadCard now"),          // fails checksum → no span
      (3L, "pay 411 now"),                // too short → no span
      (4L, s"$ValidCard leads"),          // span at position 1 → start 0
      (5L, null.asInstanceOf[String])     // null text → no rows, no crash
    ).toDF("doc_id", "text")
    val spans = Attributes.piiCardSpans(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(4), r.getInt(5))).toSet
    val t1 = s"pay $ValidCard now"
    assert(spans == Set(
      (1L, t1.indexOf(ValidCard), t1.indexOf(ValidCard) + ValidCard.length),
      (4L, 0, ValidCard.length)))
  }

  test("piiEmailSpans: whole-token email matches span; TLD-less near-miss doesn't") {
    val docs = Seq(
      (1L, "contact bob@example.com today"),
      (2L, "contact bob@example today"),      // no TLD → no span
      (3L, "bob@example.com"),                // whole text, start 0
      (4L, "see (bob@example.com) there")     // parens break the whole-token match
    ).toDF("doc_id", "text")
    val spans = Attributes.piiEmailSpans(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(4), r.getInt(5))).toSet
    val t1 = "contact bob@example.com today"
    assert(spans == Set(
      (1L, Attributes.TagPiiEmail, t1.indexOf("bob@"), t1.indexOf("bob@") + "bob@example.com".length),
      (3L, Attributes.TagPiiEmail, 0, "bob@example.com".length)))
  }

  test("piiPhoneSpans + piiIpSpans: whole-token matches span; near-misses don't") {
    val docs = Seq(
      (1L, "call 555-0142 or mail"),
      (2L, "call 555-014 or mail"),         // digit short → no span
      (3L, "host 10.1.2.34 up"),
      (4L, "host 10.1.2 up"),               // three octets → no span
      (5L, "5550142 and 10111234")          // no separators → neither class
    ).toDF("doc_id", "text")
    val ph = Attributes.piiPhoneSpans(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(4), r.getInt(5))).toSet
    assert(ph == Set((1L, Attributes.TagPiiPhone, 5, 5 + "555-0142".length)))
    val ip = Attributes.piiIpSpans(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(4), r.getInt(5))).toSet
    assert(ip == Set((3L, Attributes.TagPiiIp, 5, 5 + "10.1.2.34".length)))
  }

  test("contaminatedSpans: overlapping gram coverage merges to one maximal island") {
    // bench shares the 4-token run "b c d e" with doc 1: grams (b c d)
    // and (c d e) both hit → covered tokens 2..5 must merge to ONE span
    val cand  = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val bench = Seq((9L, "x b c d e y")).toDF("doc_id", "text")
    val rows = Attributes.contaminatedSpans(cand, bench, "doc_id", "text", n = 3)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getInt(2), r.getInt(3)) == (2, 5))          // token span
    assert((r.getInt(4), r.getInt(5)) == (2, 9))          // "b c d e" in "a b c d e f"
    assert(r.getDouble(6) == 4.0)                          // 4 covered tokens
  }

  test("exciseSpans: overlapping spans cut their union; disjoint spans cut right-to-left") {
    val docs = Seq(
      (1L, "0123456789"),   // overlapping [2,5) + [4,7) → union [2,7)
      (2L, "0123456789"),   // disjoint [0,2) + [8,10) → ends cut
      (3L, "0123456789")    // no spans → untouched
    ).toDF("doc_id", "text")
    val spans = Seq(
      (1L, 2, 5), (1L, 4, 7),
      (2L, 0, 2), (2L, 8, 10)
    ).toDF("doc_id", "start", "end")
    val out = Attributes.exciseSpans(docs, spans)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("01789", 1, 5)))   // ONE merged span, 5 chars cut
    assert(out(2L) == (("234567", 2, 4)))
    assert(out(3L) == (("0123456789", 0, 0)))
  }

  test("a span re-mix reads the persisted relation — no tagger re-runs") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("text"))
    // own scratch dir: the production spansFor(…, d) store belongs to
    // the q_span_* queries' PLANTED input — same corpus key, different
    // tagged frame
    val dir = java.nio.file.Files.createTempDirectory("graft_spanmix")
      .toString + "/" + Attributes.SpanStoreVersion + "_spec"
    val cand = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    Attributes.ensureSpanAttributes(cand, bench, dir)
    // a DIFFERENT policy over the same store: plan must read the
    // artifact and carry none of the tagger fingerprints — xxhash64
    // (gram hashing) or luhn_redact (the card check). The cut fold's
    // own lambdas are expected; re-tagging markers are not.
    val mix = Attributes.exciseSpans(cand,
      spark.read.parquet(s"$dir/spans").filter(col("score") >= 2.0))
    val plan = mix.queryExecution.executedPlan.toString
    assert(plan.contains(Attributes.SpanStoreVersion),
      "span mix does not read the artifact")
    assert(!plan.contains("xxhash64") && !plan.toLowerCase.contains("luhn"),
      s"tagger re-run in a span mix plan:\n${plan.take(2000)}")
    // and the store agrees with a fresh tagging of the same corpus
    val fresh = Attributes.spanTagFrame(cand, bench, "doc_id", "text")
      .orderBy("doc_id", "tag", "start").collect()
    val stored = spark.read.parquet(s"$dir/spans")
      .orderBy("doc_id", "tag", "start").collect()
    assert(fresh.sameElements(stored))
  }

  test("exciseSpans: adjacent spans merge; full-cover span empties the text") {
    val docs = Seq((1L, "abcdef"), (2L, "abc")).toDF("doc_id", "text")
    val spans = Seq((1L, 0, 3), (1L, 3, 6), (2L, 0, 3))
      .toDF("doc_id", "start", "end")
    val out = Attributes.exciseSpans(docs, spans)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("", 1, 6)))  // touching [0,3)+[3,6) merge to one
    assert(out(2L) == (("", 1, 3)))
  }
}
