package graft.ext

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The staged commit's crash contract: a batch whose write fails
  * midway is invisible to every listing, read and fold, and a retry
  * under the same key clears the debris and commits it exactly once. */
class StagedBatchesSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String = Files.createTempDirectory(tag).toString

  private def base: DataFrame =
    Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "gamma delta")).toDF("doc_id", "text")
  private def batch: DataFrame =
    Seq((10L, "alpha alpha zeta"), (11L, "zeta beta")).toDF("doc_id", "text")
  private def qterms: DataFrame =
    Seq((1, "alpha"), (1, "zeta"), (2, "beta")).toDF("qid", "tok")
  private def served(dir: String): Seq[String] =
    Bm25.topK(spark, dir, qterms, 5).collect().map(_.toString).sorted.toSeq

  test("a write that fails midway stays invisible; a retry with its key commits once") {
    val root = tmp("staged_crash") + "/store"
    val g0 = GenerationStore.publish(spark, root)(Bm25.ensureIndex(base, "doc_id", "text", _))
    val before = served(g0)
    // the batch's tf relation is written, then the write fails before
    // its df and stats
    val e = intercept[IllegalStateException](StagedBatches.stage(spark, g0, "k1") { bd =>
      batch.select($"text".as("tok"), $"doc_id", $"doc_id".as("tf"), $"doc_id".as("dl"))
        .write.parquet(s"$bd/tf")
      throw new IllegalStateException("injected write failure")
    })
    assert(e.getMessage == "injected write failure")
    assert(Files.exists(java.nio.file.Paths.get(s"$g0/batches/b_k1/tf")))
    assert(StagedBatches.committedDirs(spark, g0).isEmpty)
    assert(served(g0) == before)
    // a fold neither reads the debris nor records its key
    val g1 = Compaction.compactBm25ToGeneration(spark, root)
    assert(StagedBatches.committedDirs(spark, g1).isEmpty)
    assert(StagedBatches.foldedKeys(spark, g1).isEmpty)
    assert(served(g1) == before)
    // the retry deletes the debris (a parquet write into the existing
    // tf dir would fail) and commits the batch once
    Bm25.ingestIntoIndex(spark, g0, batch, "doc_id", "text", key = "k1")
    assert(StagedBatches.committedDirs(spark, g0).map(StagedBatches.keyOf) == Seq("k1"))
    val clean = tmp("staged_clean") + "/idx"
    Bm25.ensureIndex(base, "doc_id", "text", clean)
    Bm25.ingestIntoIndex(spark, clean, batch, "doc_id", "text")
    assert(served(g0) == served(clean))
    assert(served(g0) != before)
    // and the key, once committed, never writes again
    assert(!StagedBatches.stage(spark, g0, "k1")(_ => fail("a committed key staged again")))
    assert(StagedBatches.committedDirs(spark, g0).length == 1)
  }

  test("a second commit of one key reports it already committed") {
    val dir = tmp("staged_claim")
    assert(StagedBatches.stage(spark, dir, "k") { bd =>
      Seq(1L).toDF("v").write.parquet(s"$bd/v")
    })
    val Seq(bd) = StagedBatches.committedDirs(spark, dir)
    val e = intercept[RuntimeException](StagedBatches.commit(spark, bd))
    assert(e.getMessage.contains("already committed"), e.getMessage)
  }
}
