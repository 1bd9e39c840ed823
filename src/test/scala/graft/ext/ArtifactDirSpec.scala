package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The build-once marker: [[ArtifactDir.ensure]] declares an artifact
  * built only after its whole build returned, never on the strength of
  * one sub-relation's `_SUCCESS`.
  */
class ArtifactDirSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (0L, "alpha beta gamma"), (1L, "alpha alpha delta"),
    (2L, "beta beta beta"), (3L, "gamma delta epsilon"),
    (4L, "alpha epsilon"), (5L, "delta delta gamma"))

  private def tmpIdx(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/idx"

  private def topK(dir: String): Seq[String] = {
    val q = Seq((0L, "alpha"), (0L, "delta"), (3L, "gamma")).toDF("qid", "tok")
    Bm25.topK(spark, dir, q, 3).collect().map(_.toString).toSeq
  }

  test("a build that dies after writing stats is rebuilt by the next ensure") {
    val df = docs.toDF("doc_id", "text")
    val dir = tmpIdx("artifact_crash")
    // a BM25 build killed between its parallel sub-writes: stats/ landed
    // complete with its own _SUCCESS, df/ never did
    intercept[IllegalStateException] {
      ArtifactDir.ensure(spark, dir, "^(graft_bm25_v1_[0-9a-f]+_).*".r) {
        Seq((6L, 17L)).toDF("n_docs", "tot_dl").write.parquet(s"$dir/stats")
        throw new IllegalStateException("killed before df/")
      }
    }
    assert(new java.io.File(s"$dir/stats/_SUCCESS").exists())
    assert(!new java.io.File(s"$dir/${ArtifactDir.Marker}").exists())
    // the next ensure sees an unfinished build and rebuilds it whole
    Bm25.ensureIndex(df, "doc_id", "text", dir)
    assert(new java.io.File(s"$dir/${ArtifactDir.Marker}").exists())
    assert(new java.io.File(s"$dir/df/_SUCCESS").exists())
    val fresh = tmpIdx("artifact_fresh")
    Bm25.ensureIndex(df, "doc_id", "text", fresh)
    assert(topK(dir) == topK(fresh) && topK(dir).nonEmpty)
    // a finished build is never touched again
    val tfFiles = new java.io.File(s"$dir/tf").list().sorted.toSeq
    Bm25.ensureIndex(df.filter(col("doc_id") < 2), "doc_id", "text", dir)
    assert(new java.io.File(s"$dir/tf").list().sorted.toSeq == tfFiles)
    assert(topK(dir) == topK(fresh))
  }
}
