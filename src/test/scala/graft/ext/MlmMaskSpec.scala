package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** MLM masking contracts: positions are preserved, targets record the
  * original tokens, non-selected positions pass through verbatim,
  * replacements come from the document's own tokens, and the selection
  * rate lands near the configured 15%.
  */
class MlmMaskSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def docs = (1 to 50).map { i =>
    (i.toLong, (0 until 40).map(j => s"w${(i * 7 + j) % 23}").mkString(" "))
  }.toDF("doc_id", "text")

  private def rows =
    MlmMask.maskFrame(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  test("masking preserves token positions and targets record the originals") {
    val orig = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (id, masked, targets) =>
      val o = orig(id).split(" ")
      val m = masked.split(" ")
      assert(m.length == o.length, s"doc $id length changed")
      val tgt = targets.split(" ").filter(_.nonEmpty).map { t =>
        val Array(i, tok) = t.split("=", 2); (i.toInt, tok)
      }
      tgt.foreach { case (i, tok) =>
        assert(o(i) == tok, s"doc $id target $i records '$tok' != '${o(i)}'")
      }
      val selected = tgt.map(_._1).toSet
      o.indices.filterNot(selected).foreach { i =>
        assert(m(i) == o(i), s"doc $id unselected pos $i changed")
      }
      // selected positions are [MASK], a token of THIS document, or kept
      val vocab = o.toSet
      selected.foreach { i =>
        assert(m(i) == "[MASK]" || vocab.contains(m(i)),
          s"doc $id pos $i replacement '${m(i)}' not from the document")
      }
    }
  }

  test("selection rate lands near 15% and all three ops occur corpus-wide") {
    val orig = docs.collect().map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    var nTok = 0; var nSel = 0; var nMask = 0; var nKept = 0
    rows.foreach { case (id, masked, targets) =>
      val o = orig(id); val m = masked.split(" ")
      val sel = targets.split(" ").filter(_.nonEmpty)
        .map(_.split("=", 2)(0).toInt)
      nTok += o.length; nSel += sel.length
      sel.foreach { i =>
        if (m(i) == "[MASK]") nMask += 1 else if (m(i) == o(i)) nKept += 1
      }
    }
    val rate = nSel.toDouble / nTok
    assert(rate > 0.10 && rate < 0.20, s"selection rate $rate off 15%")
    assert(nMask > 0 && nKept > 0 && nSel - nMask - nKept >= 0,
      s"ops missing: sel=$nSel mask=$nMask kept=$nKept")
    // ~80% of selected slots must be [MASK]
    val maskFrac = nMask.toDouble / nSel
    assert(maskFrac > 0.65 && maskFrac < 0.92, s"mask fraction $maskFrac off 80%")
  }

  test("deterministic: two runs are byte-identical, partition count irrelevant") {
    val a = rows.sortBy(_._1).toSeq
    val b = MlmMask.maskFrame(docs.repartition(7), "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    assert(a == b)
  }
}
