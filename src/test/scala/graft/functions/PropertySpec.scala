package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.extract.{Bounded, MimeDetect, TextExtractor}

/** ScalaCheck properties from SURVEY.md §5.2: extraction length bounds,
  * cap equivalences, detection stability, label-set closure. Driven by
  * deterministic seeds (no scalatestplus bridge in the offline cache).
  */
class PropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int = 100): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(graft.Fixtures.dir, name))

  test("∀ text, len ≥ 0: bounded append length ≤ len") {
    for ((s, len) <- samples(Gen.asciiPrintableStr).zip(samples(Gen.chooseNum(0, 500)))) {
      val b = new Bounded(len)
      b.append(s)
      assert(b.result().length <= len, s"len=$len input=${s.take(30)}")
    }
  }

  test("∀ doc: extract(doc, -1) == extract(doc, MaxValue)") {
    for (f <- Seq("simple.pdf", "simple.doc", "simple.docx")) {
      val unlimited = TextExtractor.extract(fixture(f), f, -1)
      val maxed = TextExtractor.extract(fixture(f), f, Int.MaxValue)
      assert(unlimited.text == maxed.text, f)
    }
  }

  test("∀ len: extract(doc, len) is a prefix of extract(doc, -1)") {
    val full = TextExtractor.extract(fixture("simple.pdf"), "simple.pdf", -1).text
    for (len <- samples(Gen.chooseNum(1, 2000), 50)) {
      val capped = TextExtractor.extract(fixture("simple.pdf"), "simple.pdf", len).text
      assert(capped.length <= len)
      // trim happens after capping, so compare ignoring edge whitespace
      assert(full.startsWith(capped) || full.trim.startsWith(capped.trim),
        s"len=$len")
    }
  }

  test("detection is stable under filename renames for magic-byte formats") {
    val pdf = fixture("simple.pdf")
    val docx = fixture("simple.docx")
    for (name <- samples(Gen.alphaNumStr, 50) if name.nonEmpty) {
      assert(MimeDetect.detect(pdf, name + ".anything") == "application/pdf")
      assert(MimeDetect.detect(docx, name) ==
        "application/vnd.openxmlformats-officedocument.wordprocessingml.document")
    }
  }

  test("sentiment label is always in the contract set") {
    val wordGen = Gen.listOf(Gen.oneOf("fast", "slow", "big", "small", "data", "x"))
    for (words <- samples(wordGen)) {
      val label = Sentiment.label(words.mkString(" "))
      assert(Set("POSITIVE", "NEGATIVE", "NEUTRAL").contains(label))
    }
    assert(Sentiment.label(null) == "NEUTRAL")
  }

  test("bounded append never splits a surrogate pair") {
    val emoji = "ab😀cd" // 😀 is a surrogate pair
    for (len <- 1 to emoji.length) {
      val b = new Bounded(len)
      b.append(emoji)
      val r = b.result()
      assert(r.isEmpty || !Character.isHighSurrogate(r.last), s"len=$len")
    }
  }

  test("cleanAttrName emits legal identifiers, idempotently") {
    for (s <- samples(Gen.asciiPrintableStr)) {
      val c = Udfs.cleanAttrName(s)
      assert(c.nonEmpty)
      assert(Character.isJavaIdentifierStart(c.head), s"in=$s out=$c")
      assert(c.forall(ch => ch == '_' || Character.isLetterOrDigit(ch)), s"in=$s out=$c")
      assert(Udfs.cleanAttrName(c) == c, s"not idempotent: $s → $c")
    }
  }
}
