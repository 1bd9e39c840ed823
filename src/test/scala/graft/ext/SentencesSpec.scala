package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The pinned sentence rule table, the codegen'd boundary expression,
  * and the greedy sentence-chunker — including every '.'-suppression
  * branch and the no-shuffle plan shape.
  */
class SentencesSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("isSentenceEnd: terminals, closers, and all suppression branches") {
    assert(Sentences.isSentenceEnd("end."))
    assert(Sentences.isSentenceEnd("done!"))
    assert(Sentences.isSentenceEnd("why?"))
    assert(Sentences.isSentenceEnd("quoted.\""))   // closer after terminal
    assert(Sentences.isSentenceEnd("nested.\")]")) // several closers
    assert(!Sentences.isSentenceEnd("word"))       // no terminal
    assert(!Sentences.isSentenceEnd("Dr."))        // abbreviation
    assert(!Sentences.isSentenceEnd("e.g."))       // abbreviation w/ dots
    assert(!Sentences.isSentenceEnd("J."))         // single-letter initial
    assert(!Sentences.isSentenceEnd("42."))        // enumeration number
    assert(!Sentences.isSentenceEnd("3.5"))        // no trailing terminal
    assert(!Sentences.isSentenceEnd("\""))         // closers only
    assert(!Sentences.isSentenceEnd(""))
  }

  test("sentences: splits on terminals, honors suppressions, exact offsets") {
    val text = "Hello world. Dr. Smith said hi! Really? trailing tail"
    val rows = Chunking.sentences(Seq((1L, text)).toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy(col("sent_idx"))
      .collect()
      .map(r => (r.getInt(2), r.getInt(3), r.getString(5)))
    val expected = Seq("Hello world.", "Dr. Smith said hi!", "Really?",
      "trailing tail")
    assert(rows.map(_._3).toSeq == expected)
    // offsets index the original text exactly
    rows.foreach { case (s, e, sent) => assert(text.substring(s, e) == sent) }
    // empty / null docs emit nothing
    assert(Chunking.sentences(
      Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0)
  }

  test("sentences plan: single codegen pass, no shuffle") {
    val df = Chunking.sentences(
      Seq((1L, "a. b c. d")).toDF("doc_id", "text"), "doc_id", "text")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("sentenceChunks: greedy token budget, never splits a sentence") {
    // sentences of 3, 4, 2, 7 tokens (multi-letter words — single-letter
    // "c." would hit the initial suppression); budget 5:
    //   s0(3) → chunk 0; s1(4): 3+4>5 → chunk 1; s2(2): 4+2>5 → chunk 2;
    //   s3(7): over budget alone → chunk 3 (own chunk, never split)
    val text = "aa bb cc. dd ee ff gg! hh ii. jj kk ll mm nn oo pp"
    val out = Chunking.sentenceChunks(Seq((1L, text)).toDF("doc_id", "text"),
        "doc_id", "text", maxTokens = 5)
      .orderBy(col("chunk_idx"))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(out.toSeq == Seq((0, 1, 3), (1, 1, 4), (2, 1, 2), (3, 1, 7)))
    // budget 9 packs the first THREE sentences (3+4+2 = 9, not >9)
    val out2 = Chunking.sentenceChunks(Seq((1L, text)).toDF("doc_id", "text"),
        "doc_id", "text", maxTokens = 9)
      .orderBy(col("chunk_idx"))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(out2.toSeq == Seq((0, 3, 9), (1, 1, 7)))
  }
}
