package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** UAX #15 normalization expression: composition/decomposition law
  * checks, the compatibility folds NFKC adds, the zero-copy ASCII
  * fast path, and codegen/DataFrame agreement with direct eval. */
class UnicodeNormalizeSpec extends AnyFunSuite with SparkSuite {
  private def u(s: String) = UTF8String.fromString(s)

  test("NFC composes decomposed sequences; precomposed is a fixpoint") {
    assert(UnicodeNormalize.normalize(u("é"), "NFC") == u("é"))
    assert(UnicodeNormalize.normalize(u("Å"), "NFC") == u("Å"))
    assert(UnicodeNormalize.normalize(u("ñ"), "NFC") == u("ñ"))
    assert(UnicodeNormalize.normalize(u("é"), "NFC") == u("é"))
    // NFD is the inverse direction
    assert(UnicodeNormalize.normalize(u("é"), "NFD") == u("é"))
  }

  test("NFKC adds the compatibility folds NFC must NOT make") {
    assert(UnicodeNormalize.normalize(u("ﬁle"), "NFKC") == u("file")) // ﬁ ligature
    assert(UnicodeNormalize.normalize(u("Ａ"), "NFKC") == u("A"))     // fullwidth A
    assert(UnicodeNormalize.normalize(u("①"), "NFKC") == u("1"))     // circled one
    assert(UnicodeNormalize.normalize(u("ﬁ"), "NFC") == u("ﬁ")) // NFC keeps ﬁ
  }

  test("ASCII fast path returns the SAME UTF8String (no copy)") {
    val in = u("plain ascii stays put")
    assert(UnicodeNormalize.normalize(in, "NFC") eq in)
  }

  test("DataFrame path (codegen) agrees with direct eval; nulls pass") {
    import spark.implicits._
    val df = Seq("é Å", "é", "ascii", null)
      .toDF("t")
    val got = df.select(UnicodeNormalize.nfc(col("t")).as("n"))
      .collect().map(r => Option(r.getString(0)))
    assert(got.toSeq == Seq(Some("é Å"), Some("é"),
      Some("ascii"), None))
  }

  test("asciiFold merges precomposed and decomposed spellings to bare ASCII") {
    import spark.implicits._
    val df = Seq(
      ("résumé", "resume"),          // precomposed
      ("résumé", "resume"),        // decomposed — same fold
      ("Ångström", "Angstrom"),
      ("ascii only", "ascii only")).toDF("t", "want")
    val wrong = df.select(UnicodeNormalize.asciiFold(col("t")).as("got"), col("want"))
      .filter(col("got") =!= col("want")).collect()
    assert(wrong.isEmpty, wrong.mkString(", "))
  }

  test("a bad form name fails at analysis, not per row") {
    intercept[IllegalArgumentException] {
      UnicodeNormalize(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit("x")),
        "NOPE")
    }
  }
}
