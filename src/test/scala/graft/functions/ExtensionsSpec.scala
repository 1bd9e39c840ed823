package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** GraftExtensions must install detect_mime into a session built with
  * .withExtensions — the cluster-deployment registration path
  * (spark.sql.extensions). `GraftSession` installs them in every
  * session, so the shared one serves.
  */
class ExtensionsSpec extends AnyFunSuite with SparkSuite {

  test("withExtensions(new GraftExtensions) registers detect_mime for SQL") {
    val mime = spark.sql(
      "SELECT detect_mime(cast('%PDF-1.4 fake' AS BINARY), 'x.pdf') AS m")
      .head().getString(0)
    assert(mime == "application/pdf")
    val txt = spark.sql(
      "SELECT detect_mime(cast('just some text' AS BINARY), 'note.txt') AS m")
      .head().getString(0)
    assert(txt == "text/plain")
    val sim = spark.sql("SELECT simhash64('spark rows data') AS s")
      .head().getLong(0)
    assert(sim == SimHash64.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("spark rows data")))
    val tsc = spark.sql(
      "SELECT token_set_count('the cat and the dog', 'the,and') AS c")
      .head().getInt(0)
    assert(tsc == 3)
    val nfc = spark.sql(
      "SELECT unicode_normalize('e\u0301', 'NFC') AS n").head().getString(0)
    assert(nfc == "\u00E9")
    val moj = spark.sql(
      "SELECT fix_mojibake('caf\u00C3\u00A9') AS f").head().getString(0)
    assert(moj == "caf\u00E9")
    // bloom_might_contain over a real serialized sketch: member keys
    // hit (no false negatives), a clear non-member misses
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    Seq(1L, 2L, 3L).foreach(bf.putLong)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val hex = bos.toByteArray.map("%02x".format(_)).mkString
    val hits = spark.sql(
      s"SELECT bloom_might_contain(unhex('$hex'), k) AS hit " +
        "FROM VALUES (1L), (2L), (999999L) AS t(k)")
      .collect().map(_.getBoolean(0)).toSeq
    assert(hits(0) && hits(1) && !hits(2))
    // an INT literal key must widen through the build-time Cast (a
    // foldable call constant-folds through nullSafeEval — unwrapped,
    // the boxed Integer classcasts during optimization)
    val folded = spark.sql(
      s"SELECT bloom_might_contain(unhex('$hex'), 2) AS hit")
      .head().getBoolean(0)
    assert(folded)
  }
}
