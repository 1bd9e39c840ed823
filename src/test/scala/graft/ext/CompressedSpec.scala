package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Gzip ingestion: real-codec round trip, trailer-verified corruption
  * handling, the decompression-bomb guard, and the map-only plan
  * shape. */
class CompressedSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("gzip → gunzip round-trips bytes exactly") {
    val payload = "the quick brown fox".getBytes("UTF-8")
    assert(Compressed.gunzip(Compressed.gzip(payload)).get.sameElements(payload))
    assert(Compressed.gunzip(Compressed.gzip(Array.emptyByteArray)).get.isEmpty)
  }

  test("a flipped byte is caught by CRC verification, not a crash") {
    val g = Compressed.gzip("some document text that is long enough".getBytes("UTF-8"))
    val bad = g.clone(); bad(12) = (bad(12) ^ 0xff).toByte
    assert(Compressed.gunzip(bad).isEmpty)
    assert(Compressed.gunzip("not gzip at all".getBytes("UTF-8")).isEmpty)
    assert(Compressed.gunzip(g.take(g.length - 4)).isEmpty) // truncated trailer
  }

  test("decompression bomb is refused at the inflate cap") {
    val bomb = Compressed.gzip(new Array[Byte](Compressed.MaxInflatedBytes + (1 << 20)))
    assert(bomb.length < (1 << 20)) // the point of a bomb: tiny on the wire
    assert(Compressed.gunzip(bomb).isEmpty)
  }

  test("multi-member stream splits exactly; trailer damage is isolated per member") {
    val parts = Seq("alpha", "beta part", "gamma tail").map(_.getBytes("UTF-8"))
    val stream = Compressed.gzipMembers(parts)
    val clean = Compressed.splitInflateMembers(stream)
    assert(clean.length == 3 &&
      clean.zip(parts).forall { case (m, p) => m.get.sameElements(p) })

    // flip member 1's first CRC byte: member 1 errors, 0 and 2 survive
    val g0 = Compressed.gzip(parts(0))
    val g1 = Compressed.gzip(parts(1))
    val g2 = Compressed.gzip(parts(2))
    g1(g1.length - 8) = (g1(g1.length - 8) ^ 0xff).toByte
    val damaged = g0 ++ g1 ++ g2
    val got = Compressed.splitInflateMembers(damaged)
    assert(got.length == 3 && got(0).isDefined && got(1).isEmpty &&
      got(2).get.sameElements(parts(2)))
  }

  test("deflate-body damage loses sync: one error member, no garbage splice") {
    val parts = Seq("first member text", "second member text").map(_.getBytes("UTF-8"))
    val stream = Compressed.gzipMembers(parts)
    val bad = stream.clone()
    bad(12) = (bad(12) ^ 0xff).toByte // inside member 0's deflate data
    val got = Compressed.splitInflateMembers(bad)
    // either the damaged inflate throws (1 error member ends the walk)
    // or it inflates to wrong bytes the CRC rejects and the walk may
    // continue — in NO case does a clean-looking wrong member appear
    assert(got.nonEmpty && got.head.isEmpty)
    assert(got.flatten.forall(m => parts.exists(p => m.sameElements(p))))
  }

  test("memberMeta explodes 1→N with per-member error rows, shuffle-free") {
    val df = Seq((101L, "abcdefghij"), (7L, "0123456789x")).toDF("doc_id", "text")
      .withColumn("payload",
        Compressed.gzipMembersPlantedCol($"text", $"doc_id", 3, 101))
    val ds = Compressed.memberMeta(df, "doc_id", "payload")
    val rows = ds.collect().sortBy(r => (r.doc_id, r.member_idx))
    assert(rows.length == 6)
    val d101 = rows.filter(_.doc_id == 101L)
    assert(d101(0).ok && d101(0).n_bytes == 3) // "abc"
    assert(!d101(1).ok && d101(1).n_bytes == 0L && d101(1).text_md5 == "")
    assert(d101(2).ok && d101(2).n_bytes == 4) // "ghij"
    val d7 = rows.filter(_.doc_id == 7L)
    assert(d7.forall(_.ok) && d7.map(_.n_bytes).sum == 11)
    val plan = ds.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no Exchange in:\n$plan")
  }

  test("gunzipMeta emits ok/error rows and a shuffle-free plan") {
    val df = Seq((1L, "hello world"), (2L, "second doc")).toDF("doc_id", "text")
      .withColumn("payload", Compressed.gzipPlantedCol($"text", $"doc_id", 2))
    val ds = Compressed.gunzipMeta(df, "doc_id", "payload")
    val rows = ds.collect().sortBy(_.doc_id)
    assert(rows(0).doc_id == 1L && rows(0).ok &&
      rows(0).n_bytes == "hello world".length)
    assert(!rows(1).ok && rows(1).n_bytes == 0L && rows(1).text_md5 == "")
    val plan = ds.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no Exchange in:\n$plan")
  }
}
