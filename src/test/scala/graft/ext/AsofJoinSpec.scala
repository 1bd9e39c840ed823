package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

class AsofJoinSpec extends AnyFunSuite with SparkSuite {
  test("asof join is inclusive at equal times and null before any right row") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 10L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 15L, 150.0))
      .toDF("k", "t", "v")
    val out = AsofJoin.asofJoin(left, right, "k", "t", Seq("v"))
      .select("tag", "asof_v").collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out("a") == 100.0) // equal time matches (inclusive)
    assert(out("b") == 150.0) // latest at-or-before wins
    assert(out("c") == null)  // before any right row → left-join null
    assert(out("d") == null)  // other key, no right rows
  }

  test("asof join plan has exactly one exchange (single shuffle on the key)") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a")).toDF("k", "t", "tag")
    val right = Seq((1L, 5L, 1.0)).toDF("k", "t", "v")
    val plan = AsofJoin.asofJoin(left, right, "k", "t", Seq("v"))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
  }

  test("asof join matches a naive per-row reference on random inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val left = Seq.fill(60)((rnd.nextInt(5).toLong, rnd.nextInt(50).toLong, rnd.nextInt))
      // unique (key, time) on the right, as the operator contract requires
      val right = rnd.shuffle(
        (for (k <- 0L to 4L; t <- 0L to 49L) yield (k, t)).toVector)
        .take(40).map { case (k, t) => (k, t, rnd.nextDouble()) }
      val got = AsofJoin.asofJoin(
          left.toDF("k", "t", "tag"), right.toDF("k", "t", "v"), "k", "t", Seq("v"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      for ((k, t, tag) <- left) {
        val expected = right.filter(r => r._1 == k && r._2 <= t)
          .sortBy(_._2).lastOption.map(_._3)
        assert(got((k, t, tag)) == expected, s"trial=$trial k=$k t=$t")
      }
    }
  }

  test("forward asof matches a naive per-row reference on random inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val left = Seq.fill(60)((rnd.nextInt(5).toLong, rnd.nextInt(50).toLong, rnd.nextInt))
      val right = rnd.shuffle(
        (for (k <- 0L to 4L; t <- 0L to 49L) yield (k, t)).toVector)
        .take(40).map { case (k, t) => (k, t, rnd.nextDouble()) }
      val got = AsofJoin.asofJoin(
          left.toDF("k", "t", "tag"), right.toDF("k", "t", "v"), "k", "t",
          Seq("v"), direction = "forward")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      for ((k, t, tag) <- left) {
        // earliest right row at-or-after the left time (inclusive)
        val expected = right.filter(r => r._1 == k && r._2 >= t)
          .sortBy(_._2).headOption.map(_._3)
        assert(got((k, t, tag)) == expected, s"trial=$trial k=$k t=$t")
      }
    }
  }

  test("nearest asof matches a naive argmin reference; still one exchange") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 5) {
      val left = Seq.fill(60)((rnd.nextInt(5).toLong, rnd.nextInt(50).toLong, rnd.nextInt))
      val right = rnd.shuffle(
        (for (k <- 0L to 4L; t <- 0L to 49L) yield (k, t)).toVector)
        .take(40).map { case (k, t) => (k, t, rnd.nextDouble()) }
      val got = AsofJoin.asofJoinNearest(
          left.toDF("k", "t", "tag"), right.toDF("k", "t", "v"), "k", "t", Seq("v"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      for ((k, t, tag) <- left) {
        // argmin |Δt|; equal distance → the EARLIER right row
        val expected = right.filter(_._1 == k)
          .sortBy(r => (math.abs(r._2 - t), r._2)).headOption.map(_._3)
        assert(got((k, t, tag)) == expected, s"trial=$trial k=$k t=$t")
      }
    }
    val plan = AsofJoin.asofJoinNearest(
        Seq((1L, 10L, "a")).toDF("k", "t", "tag"),
        Seq((1L, 5L, 1.0)).toDF("k", "t", "v"), "k", "t", Seq("v"))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
  }

  test("salted join equals the plain join") {
    import spark.implicits._
    val fact = Seq.tabulate(100)(i => (s"k${i % 3}", i.toLong)).toDF("key", "x")
    val dim = Seq(("k0", "A"), ("k1", "B"), ("k2", "C")).toDF("key", "attr")
    val salted = Skew.saltedJoin(fact, dim, "key", saltBuckets = 8)
      .select("key", "x", "attr").collect().map(_.toString).sorted
    val plain = fact.join(dim, "key")
      .select("key", "x", "attr").collect().map(_.toString).sorted
    assert(salted.sameElements(plain))
  }
}
