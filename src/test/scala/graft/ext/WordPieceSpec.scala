package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** WordPiece semantics: greedy longest-match-first with continuation
  * roles, closed-vocabulary whole-word drop, long-word fallback,
  * coverage (every training word encodes), decode identity, and the
  * family-agnostic (w, spos, tid) plumbing.
  */
class WordPieceSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def P(s: String, c: Boolean) = WordPiece.Piece(s, c)

  test("greedy takes the longest piece at each position, role-aware") {
    val v = Set(P("a", false), P("ab", false), P("abc", false),
      P("b", true), P("c", true), P("bc", true))
    // initial 'abc' wins over 'ab'+'##c' and 'a'+'##bc'
    assert(WordPiece.greedy("abc", v).toSeq ==
      Seq(P("abc", false)))
    // with no initial 'abc': 'ab' (longest initial) then '##c'
    val v2 = v - P("abc", false)
    assert(WordPiece.greedy("abc", v2).toSeq ==
      Seq(P("ab", false), P("c", true)))
    // roles matter: continuation 'bc' only matches at position > 0
    assert(WordPiece.greedy("abcbc", v2).toSeq ==
      Seq(P("ab", false), P("c", true), P("bc", true)))
  }

  test("greedy drops the whole word on a no-match position") {
    val v = Set(P("a", false), P("b", true))
    assert(WordPiece.greedy("ab", v).toSeq == Seq(P("a", false), P("b", true)))
    // 'x' unknown as continuation → null, not a partial encode
    assert(WordPiece.greedy("ax", v) == null)
    // 'b' unknown as INITIAL even though known as continuation
    assert(WordPiece.greedy("ba", v) == null)
    assert(WordPiece.greedy("", v).toSeq == Seq.empty)
  }

  test("words beyond MaxWordLen take the per-code-point fallback") {
    val long = "ab" * ((WordPiece.MaxWordLen / 2) + 1)
    val v = Set(P("a", false), P("a", true), P("b", true),
      P("ab", false), P("ab", true))
    val got = WordPiece.greedy(long, v)
    // fallback = singles with roles, NOT the greedy multi pieces
    assert(got.length == long.length)
    assert(got.head == P("a", false) && got.tail.forall(_.cont))
    // fallback still drops whole on novel code points
    val longX = long.dropRight(1) + "x"
    assert(WordPiece.greedy(longX, v) == null)
  }

  test("training coverage: every training word encodes; roundtrip is identity") {
    val docs = Seq(
      (1L, "interstellar inter internal stellar ally"),
      (2L, "internally stellar inter ally tell"),
      (3L, "all all all inter tell"),
    ).toDF("doc_id", "text")
    CacheScope.withScope {
      val (wids, vocab) = WordPiece.wordPieceRelation(docs, "text")
      val toks = Bpe.encodeIdsAgainst(docs, "doc_id", "text", wids)
      // every word of every doc contributes rows: per-doc token count
      // ≥ word count (plus the EOS row)
      val perDoc = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perDoc.values.forall(_ >= 5))
      val decoded = Bpe.decodeIds(toks, vocab, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val orig = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(decoded == orig)
    }
  }

  test("tid order is (surface, initial-before-continuation), 1-based") {
    val m = Seq(P("b", true), P("a", true), P("a", false), P("ab", false))
    assert(WordPiece.tidOrdered(m) ==
      Seq(P("a", false), P("a", true), P("ab", false), P("b", true)))
  }

  test("vocab_size cap: singles always survive; multis trim to the cap") {
    val docs = Seq(
      (1L, "abab abab cdcd"),
      (2L, "abab cdcd cd ab"),
    ).toDF("doc_id", "text")
    CacheScope.withScope {
      // uncapped: singles (a,b,c,d in their roles) + multi pieces
      val (_, vFull) = WordPiece.wordPieceRelation(docs, "text")
      val full = vFull.count()
      assert(full > 7)
      // a cap below the singles count keeps ALL singles, zero multis
      val (widsMin, vMin) = WordPiece.wordPieceRelation(docs, "text",
        vocabSize = 2)
      // a/init, a/cont, b/cont, c/init, c/cont, d/cont
      val nSingles = vMin.count()
      assert(nSingles == 6L && nSingles < full)
      // coverage holds: every word still encodes (per-cp worst case)
      val toks = Bpe.encodeIdsAgainst(docs, "doc_id", "text", widsMin)
      val n1 = toks.filter(col("doc_id") === 1L && col("tid") =!= 0L).count()
      assert(n1 == 12L) // 3 words x 4 code points, no multis to merge
      // an intermediate cap keeps singles + exactly cap-singles multis
      val cap = nSingles.toInt + 1
      val (_, vMid) = WordPiece.wordPieceRelation(docs, "text",
        vocabSize = cap)
      assert(vMid.count() == cap.toLong)
    }
  }

  test("model store: ensureModel + wordPieceRelationFrom encode equals in-memory") {
    val docs = Seq(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma alpha"),
    ).toDF("doc_id", "text")
    CacheScope.withScope {
      val dir = java.nio.file.Files
        .createTempDirectory("wp_store_spec").toString
      WordPiece.ensureModel(docs, "text", dir)
      val (widsMem, _) = WordPiece.wordPieceRelation(docs, "text")
      val (widsLoad, _) = WordPiece.wordPieceRelationFrom(spark, dir, docs, "text")
      val a = widsMem.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      val b = widsLoad.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      assert(a == b && a.nonEmpty)
    }
  }
}
