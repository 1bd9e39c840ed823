package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** FIM contracts: the PSM string reassembles to the original document
  * exactly, cuts are ordered and in range, short docs still transform,
  * and the output is partition-count invariant.
  */
class FimSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def docs = ((1 to 40).map { i =>
    (i.toLong, (0 until (i % 9) + 2).map(j => s"t${i}_$j").mkString(" "))
  } :+ (100L, "solo")).toDF("doc_id", "text")

  private def parsePsm(s: String): (Seq[String], Seq[String], Seq[String]) = {
    val pre = s.indexOf("<PRE>"); val suf = s.indexOf("<SUF>"); val mid = s.indexOf("<MID>")
    assert(pre == 0 && suf > pre && mid > suf, s"sentinel order broken: $s")
    def toks(t: String) = t.trim.split(" ").filter(_.nonEmpty).toSeq
    (toks(s.substring(5, suf)), toks(s.substring(suf + 5, mid)), toks(s.substring(mid + 5)))
  }

  test("PSM reassembles to the original: prefix ++ middle ++ suffix == tokens") {
    val orig = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Fim.psmFrame(docs, "doc_id", "text").collect().foreach { r =>
      val (id, fim, c1, c2) = (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
      val o = orig(id).split(" ").toSeq
      val (p, s2, m) = parsePsm(fim)
      assert(p ++ m ++ s2 == o, s"doc $id does not reassemble: $fim")
      assert(0 <= c1 && c1 <= c2 && c2 <= o.length, s"doc $id cuts out of range: $c1 $c2")
      assert(p.length == c1 && m.length == c2 - c1, s"doc $id span lengths vs cuts")
    }
  }

  test("cut positions vary across documents (not degenerate)") {
    val rows = Fim.psmFrame(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(rows.distinct.length > 5, s"cuts look degenerate: ${rows.toSeq}")
  }

  test("partition-count invariant") {
    val a = Fim.psmFrame(docs.repartition(3), "doc_id", "text")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString).toSeq
    val b = Fim.psmFrame(docs.repartition(11), "doc_id", "text")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString).toSeq
    assert(a == b)
  }
}
