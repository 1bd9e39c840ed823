package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.DataFrame

/** The build-once entry point: [[GenerationStore.ensure]] serves the
  * current generation while its `_SOURCE` matches, publishes a new one
  * otherwise, and never deletes or rewrites a generation a reader may
  * hold before the age gate.
  */
class GenerationEnsureSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (0L, "alpha beta gamma"), (1L, "alpha alpha delta"),
    (2L, "beta beta beta"), (3L, "gamma delta epsilon"),
    (4L, "alpha epsilon"), (5L, "delta delta gamma"))

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def exists(dir: String): Boolean = new java.io.File(dir).exists()

  private def manifestEntries(root: String): Int =
    Option(new java.io.File(s"$root/manifest").list()).map(_.length).getOrElse(0)

  private def topK(dir: String): Seq[String] = {
    val q = Seq((0L, "alpha"), (0L, "delta"), (3L, "gamma")).toDF("qid", "tok")
    Bm25.topK(spark, dir, q, 3).collect().map(_.toString).toSeq
  }

  private def freshTopK(df: DataFrame): Seq[String] = {
    val dir = tmp("ensure_fresh") + "/idx"
    Bm25.ensureIndex(df, "doc_id", "text", dir)
    topK(dir)
  }

  test("the same source twice returns the same dir and adds no manifest entry") {
    val root = tmp("ensure_same") + "/store"
    val df = docs.toDF("doc_id", "text")
    val first = GenerationStore.ensure(spark, root, "src1")(
      Bm25.ensureIndex(df, "doc_id", "text", _))
    val entries = manifestEntries(root)
    val again = GenerationStore.ensure(spark, root, "src1") { _ =>
      fail("a matching source must not build again")
    }
    assert(again == first)
    assert(manifestEntries(root) == entries && entries == 1)
  }

  test("a build that throws after writing stats/ leaves nothing resolvable") {
    val root = tmp("ensure_crash") + "/store"
    val df = docs.toDF("doc_id", "text")
    // a BM25 build killed between its sub-writes: stats/ landed
    // complete with its own _SUCCESS, df/ never did
    intercept[IllegalStateException] {
      GenerationStore.ensure(spark, root, "src1") { dir =>
        Seq((6L, 17L)).toDF("n_docs", "tot_dl").write.parquet(s"$dir/stats")
        throw new IllegalStateException("killed before df/")
      }
    }
    assert(GenerationStore.currentGenDir(spark, root).isEmpty)
    // the next ensure publishes a whole build beside the debris
    val dir = GenerationStore.ensure(spark, root, "src1")(
      Bm25.ensureIndex(df, "doc_id", "text", _))
    assert(GenerationStore.currentGenDir(spark, root).contains(dir))
    assert(exists(s"$dir/df/_SUCCESS"))
    assert(topK(dir) == freshTopK(df) && topK(dir).nonEmpty)
    // the debris ages out; the served generation stays
    val gone = GenerationStore.gc(spark, root, GenerationStore.MinAgeMs,
      nowMs = System.currentTimeMillis() + 2 * GenerationStore.MinAgeMs)
    assert(gone.length == 1 && !gone.head.endsWith(new java.io.File(dir).getName))
    assert(topK(dir) == freshTopK(df))
  }

  test("a changed corpus publishes a new generation; the held one serves until the gate") {
    val corpus = tmp("ensure_corpus")
    val all = docs.toDF("doc_id", "text")
    all.filter($"doc_id" < 4).coalesce(1).write.mode("append").parquet(corpus)
    val held = Bm25.indexFor(spark.read.parquet(corpus), corpus)
    val heldTopK = topK(held)
    assert(heldTopK == freshTopK(all.filter($"doc_id" < 4)))
    // one file added: a new content signature, so a new generation
    all.filter($"doc_id" >= 4).coalesce(1).write.mode("append").parquet(corpus)
    val cur = Bm25.indexFor(spark.read.parquet(corpus), corpus)
    assert(cur != held)
    assert(topK(cur) == freshTopK(all))
    // that ensure's gc left the held generation readable
    assert(exists(held) && topK(held) == heldTopK)
    // past the gate it is collected; the current one stays
    val root = new java.io.File(cur).getParentFile.getParent
    val gone = GenerationStore.gc(spark, root, GenerationStore.MinAgeMs,
      nowMs = System.currentTimeMillis() + 2 * GenerationStore.MinAgeMs)
    assert(gone.map(new org.apache.hadoop.fs.Path(_).getName) ==
      Seq(new java.io.File(held).getName))
    assert(!exists(held) && topK(cur) == freshTopK(all))
  }

  test("two threads ensuring one root both get a complete generation") {
    val root = tmp("ensure_race") + "/store"
    val df = docs.toDF("doc_id", "text")
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] {
          def call(): String = {
            start.await()
            GenerationStore.ensure(spark, root, "src1")(
              Bm25.ensureIndex(df, "doc_id", "text", _))
          }
        }))
      start.countDown()
      val dirs = futures.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      val expect = freshTopK(df)
      dirs.foreach { d =>
        Seq("tf", "df", "stats").foreach(sub => assert(exists(s"$d/$sub/_SUCCESS")))
        assert(topK(d) == expect)
      }
    } finally pool.shutdown()
  }
}
