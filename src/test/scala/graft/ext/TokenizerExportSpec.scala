package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Interchange round trips: export → re-import → IDENTICAL encode for
  * all three tokenizer families, plus golden-file byte checks of the
  * published formats.
  */
class TokenizerExportSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def docs = Seq(
    (1L, "interstellar inter internal stellar ally"),
    (2L, "internally stellar inter ally tell"),
    (3L, "all all all inter tell banana"),
  ).toDF("doc_id", "text")

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def fileBytes(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)

  private def tokSet(toks: org.apache.spark.sql.DataFrame) =
    toks.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet

  test("BPE: export → import → identical encode") {
    val dir = tmp("bpe_export")
    CacheScope.withScope {
      val merges = Bpe.trainMerges(docs, "text", 24)
      val (toks, vocab) = Bpe.encodeIdsWithVocab(docs, "doc_id", "text", 24)
      val vocabRows = vocab.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      TokenizerExport.exportBpe(spark, dir, merges, vocabRows)
      val mIn = TokenizerExport.importBpeMerges(spark, dir)
      val vIn = TokenizerExport.importBpeVocab(spark, dir)
      assert(mIn == merges.map(m => (m._2, m._3)))
      assert(vIn == vocabRows.sortBy(_._2))
      val widsIn = Bpe.wordIdRelationFrom(docs, "text", mIn, vIn)
      val toksIn = Bpe.encodeIdsAgainst(docs, "doc_id", "text", widsIn)
      assert(tokSet(toksIn) == tokSet(toks) && tokSet(toks).nonEmpty)
    }
  }

  test("unigram: export → import → identical encode") {
    val dir = tmp("uni_export")
    CacheScope.withScope {
      val model = Unigram.trainModel(docs, "text")
      TokenizerExport.exportUnigram(spark, dir, model)
      val mIn = TokenizerExport.importUnigram(spark, dir)
      assert(mIn.toSet == model.toSet)
      val (widsMem, _) = Unigram.wordPieceRelation(docs, "text")
      val (widsIn, _) = Unigram.freezeModel(mIn, docs, "text")
      val a = Bpe.encodeIdsAgainst(docs, "doc_id", "text", widsMem)
      val b = Bpe.encodeIdsAgainst(docs, "doc_id", "text", widsIn)
      assert(tokSet(a) == tokSet(b) && tokSet(a).nonEmpty)
    }
  }

  test("WordPiece: export → import → identical encode") {
    val dir = tmp("wp_export")
    CacheScope.withScope {
      val model = WordPiece.trainModel(docs, "text")
      TokenizerExport.exportWordPiece(spark, dir, model)
      val mIn = TokenizerExport.importWordPiece(spark, dir)
      assert(mIn == WordPiece.tidOrdered(model))
      val (widsMem, _) = WordPiece.wordPieceRelation(docs, "text")
      val (widsIn, _) = WordPiece.freezeModel(mIn, docs, "text")
      val a = Bpe.encodeIdsAgainst(docs, "doc_id", "text", widsMem)
      val b = Bpe.encodeIdsAgainst(docs, "doc_id", "text", widsIn)
      assert(tokSet(a) == tokSet(b) && tokSet(a).nonEmpty)
    }
  }

  test("golden files: exact bytes of each published format") {
    val dir = tmp("golden_export")
    TokenizerExport.exportBpe(spark, dir,
      merges = Seq((1, "a", "b", 5L), (2, "ab", "c", 3L)),
      vocab = Seq(("a", 1L), ("ab", 2L), ("abc", 3L)))
    assert(fileBytes(s"$dir/merges.txt") ==
      "#version: graft_bpe_v1\na b\nab c\n")
    assert(fileBytes(s"$dir/vocab.tsv") == "a\t1\nab\t2\nabc\t3\n")

    // micro-log scores: total=8, score(p) = round(ln(c)·1e6) −
    // round(ln(8)·1e6) — the engine's exact fixed-point numbers
    TokenizerExport.exportUnigram(spark, dir, Seq(("a", 2L), ("b", 6L)))
    assert(fileBytes(s"$dir/pieces.tsv") ==
      "a\t-1386295\t2\nb\t-287683\t6\n")

    TokenizerExport.exportWordPiece(spark, dir, Seq(
      WordPiece.Piece("b", cont = true), WordPiece.Piece("a", cont = true),
      WordPiece.Piece("a", cont = false), WordPiece.Piece("ab", cont = false)))
    assert(fileBytes(s"$dir/vocab.txt") == "a\n##a\nab\n##b\n")
  }

  test("imported vocab with pieces past the training bound encodes faithfully") {
    // a real BERT vocab.txt carries pieces well past MaxPieceLen=4;
    // the greedy window must follow the MODEL's longest piece, not the
    // training constant — otherwise an 8-char piece silently never
    // matches and the segmentation diverges from HF's
    val dir = tmp("wp_longpiece")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/vocab.txt"),
      // singles cover the alphabet of "interally"; one 8-char initial
      Seq("interall", "i", "n", "t", "e", "r", "a", "l", "y",
        "##n", "##t", "##e", "##r", "##a", "##l", "##y")
        .mkString("\n") + "\n")
    val mIn = TokenizerExport.importWordPiece(spark, dir)
    assert(mIn.exists(p => p.surface == "interall" && !p.cont))
    CacheScope.withScope {
      val one = Seq((1L, "interally")).toDF("doc_id", "text")
      val (wids, vocab) = WordPiece.freezeModel(mIn, one, "text")
      val pieces = wids.join(vocab, Seq("tid"))
        .orderBy(col("spos")).select(col("sym"))
        .collect().map(_.getString(0)).toSeq
      // greedy longest-match: the 8-char piece wins at position 1
      assert(pieces == Seq("interall", "y"), s"got $pieces")
    }
  }

  test("CRLF files are classified from raw terminators, not line content") {
    val dir = tmp("wp_crlf")
    // an external tool's CRLF vocab — including the single-line case
    // the old forall-over-lines heuristic could not distinguish
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/vocab.txt"),
      "abc\r\n##de\r\n".getBytes("UTF-8"))
    assert(TokenizerExport.importWordPiece(spark, dir) == Seq(
      WordPiece.Piece("abc", cont = false),
      WordPiece.Piece("de", cont = true)))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/vocab.txt"),
      "abc\r\n".getBytes("UTF-8"))
    assert(TokenizerExport.importWordPiece(spark, dir) == Seq(
      WordPiece.Piece("abc", cont = false)))
    // a MIXED-terminator file is NOT CRLF: the lone \r stays content
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/vocab.txt"),
      "abc\r\nde\n".getBytes("UTF-8"))
    assert(TokenizerExport.importWordPiece(spark, dir) == Seq(
      WordPiece.Piece("abc\r", cont = false),
      WordPiece.Piece("de", cont = false)))
    // in a CRLF file whose FINAL line is unterminated, a content-
    // trailing \r on that tail is CONTENT — only \n-terminated lines
    // had a terminator to strip (byte-exactness for external files)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/vocab.txt"),
      "abc\r\nde\r".getBytes("UTF-8"))
    assert(TokenizerExport.importWordPiece(spark, dir) == Seq(
      WordPiece.Piece("abc", cont = false),
      WordPiece.Piece("de\r", cont = false)))
  }

  test("export refuses control characters that cannot round-trip the line format") {
    val dir = tmp("wp_ctl_export")
    val ex = intercept[RuntimeException] {
      TokenizerExport.exportWordPiece(spark, dir,
        Seq(WordPiece.Piece("a\r", cont = false)))
    }
    assert(ex.getMessage.contains("\\r"))
  }

  test("exportWordPiece refuses the ##-initial ambiguity loudly") {
    val dir = tmp("wp_bad_export")
    val ex = intercept[IllegalArgumentException] {
      TokenizerExport.exportWordPiece(spark, dir,
        Seq(WordPiece.Piece("##x", cont = false)))
    }
    assert(ex.getMessage.contains("##"))
  }
}
