package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer semantics: Viterbi optimality + tie-breaks,
  * the long-word / unreachable fallbacks, model coverage (every
  * training word encodes), and decode∘encode identity.
  */
class UnigramSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("viterbi picks the max-score segmentation; ties keep the longest final piece") {
    // scores: 'ab' and 'c' sum beats 'a'+'bc' and chars
    val sc = Map("a" -> -10L, "b" -> -10L, "c" -> -2L,
      "ab" -> -3L, "bc" -> -9L)
    assert(Unigram.viterbi("abc", sc).toSeq == Seq("ab", "c"))
    // exact tie between 'ab'+'c' and 'a'+'bc': both -5. The DP keeps
    // the SMALLEST predecessor at the final position = the longer
    // final piece → 'a'+'bc'... predecessor j=1 ('bc', j smaller) wins
    // over j=2 ('c').
    val tie = Map("a" -> -2L, "b" -> -2L, "c" -> -2L,
      "ab" -> -3L, "bc" -> -3L)
    assert(Unigram.viterbi("abc", tie).toSeq == Seq("a", "bc"))
  }

  test("viterbi falls back to code points for long or unreachable words") {
    val sc = Map("a" -> -1L)
    // length > MaxDpWordLen → char split even though 'a' spans exist
    val long = "a" * (Unigram.MaxDpWordLen + 1)
    assert(Unigram.viterbi(long, sc).toSeq == long.map(_.toString))
    // a char missing from the model → unreachable → char split
    assert(Unigram.viterbi("ax", sc).toSeq == Seq("a", "x"))
    assert(Unigram.viterbi("", sc).isEmpty)
  }

  test("trained model covers every training word; encode/decode round-trips") {
    val docs = Seq(
      (1L, "the data the table"),
      (2L, "data scan merges the table"),
      (3L, "scan scan scan data"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val (wids, vocab) = Unigram.wordPieceRelation(docs, "text")
    // every distinct word has ≥ 1 piece row and concatenates back
    val rebuilt = wids.join(vocab, "tid")
      .groupBy(col("w"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("spos"), col("sym")))),
        s => s.getField("sym")), "").as("r"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rebuilt.nonEmpty && rebuilt.forall { case (w, r) => w == r })
    val toks = Bpe.encodeIdsAgainst(docs, "doc_id", "text", wids)
    val dec = Bpe.decodeIds(toks, vocab, "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(dec(1L) == "the data the table")
    assert(dec(2L) == "data scan merges the table")
    assert(dec(3L) == "scan scan scan data")
    assert(!dec.contains(4L)) // null text → only the EOS row → no words
    // frequent multi-char pieces actually get used: 'scan' (x5) and
    // 'the' (x3-as-word) should each be a single piece, not chars
    val pieces = rebuilt.toMap
    assert(wids.filter(col("w") === "scan").count() < 4,
      "frequent word should segment into fewer pieces than its chars")
  }

  test("vocab_size cap keeps every single, cuts multis, still round-trips") {
    val docs = Seq(
      (1L, "the data the table scan scan"),
      (2L, "data scan merges the table data")
    ).toDF("doc_id", "text")
    val alphabet = docs.selectExpr("explode(split(text, ' ')) AS w")
      .selectExpr("explode(split(w, '')) AS ch").distinct().count()
    val cap = alphabet.toInt + 2 // room for exactly two multi pieces
    val model = Unigram.trainModel(docs, "text", vocabSize = cap)
    assert(model.length <= cap)
    assert(model.count(_._1.length == 1) == alphabet,
      "every alphabet single must survive the cap")
    // a cap below the alphabet keeps the whole alphabet, nothing else
    val tiny = Unigram.trainModel(docs, "text", vocabSize = 1)
    assert(tiny.forall(_._1.length == 1) && tiny.length == alphabet)
    // and the capped model still encodes + decodes every word
    val (wids, vocab) = Unigram.wordPieceRelation(docs, "text", vocabSize = cap)
    val dec = Bpe.decodeIds(
        Bpe.encodeIdsAgainst(docs, "doc_id", "text", wids), vocab, "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(dec(1L) == "the data the table scan scan")
    assert(dec(2L) == "data scan merges the table data")
  }

  test("ensureModel is idempotent; the loaded model encodes identically") {
    val docs = Seq(
      (1L, "the data the table scan"),
      (2L, "data scan merges the table")
    ).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("unimodel").toString
    val dir = s"$root/${Unigram.ModelStoreVersion}_spec"
    Unigram.ensureModel(docs, "text", dir)
    val m1 = spark.read.parquet(s"$dir/model")
      .collect().map(_.toString).sorted.toSeq
    Unigram.ensureModel(docs, "text", dir) // must no-op (_SUCCESS guard)
    assert(spark.read.parquet(s"$dir/model")
      .collect().map(_.toString).sorted.toSeq == m1)
    // loaded-model encode == in-memory-trained encode, row for row
    val (wTrain, _) = Unigram.wordPieceRelation(docs, "text")
    val (wLoad, _) = Unigram.wordPieceRelationFrom(spark, dir, docs, "text")
    assert(wLoad.collect().map(_.toString).sorted.toSeq ==
      wTrain.collect().map(_.toString).sorted.toSeq)
    // closed vocabulary: a word with a character the model never saw
    // contributes NO rows (whole-word drop, never a partial encoding)
    val novel = Seq((9L, "the zzzqx")).toDF("doc_id", "text")
    val (wNovel, _) = Unigram.wordPieceRelationFrom(spark, dir, novel, "text")
    val ws = wNovel.select(col("w")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(ws == Set("the"), s"novel-char word must drop whole: $ws")
  }

  test("model constants stay in the oracle-replayable range") {
    // the oracle unrolls MaxDpWordLen DP positions with MaxPieceLen
    // fan-in — a constant bump must be deliberate (SQL size scales
    // with both)
    assert(Unigram.MaxPieceLen == 4 && Unigram.MaxDpWordLen == 16)
    assert(Unigram.tokenizeOracleSql().contains("MATERIALIZED"),
      "DP CTEs must be materialized — DuckDB inlines plain CTEs and the" +
        " 16-level 4-way lattice explodes combinatorially")
  }
}
