package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.ext._

/** Redelivery is a no-op in every file-fed store: a second, fresh
  * query (no checkpoint) over the same source files stages nothing, so
  * the served output, the committed-batch count and the folded-key
  * count all stay as the first query left them. */
class RedeliverySpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("text"))
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_redeliver_$tag").toString

  /** A copy of `df` with ids shifted past the corpus, split by id
    * parity into `files` one-file parts under a fresh dir; returns a
    * maker of fresh streams over them, one file per micro-batch. */
  private def source(df: DataFrame, idCol: String, files: Int): () => DataFrame = {
    val dir = tmp("src")
    val copies = df.withColumn(idCol, col(idCol) + 1000000L)
    (0 until files).foreach { i =>
      copies.filter(col(idCol) % files === i).coalesce(1).write.parquet(s"$dir/f$i")
    }
    () => spark.readStream.schema(copies.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(dir)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** (committed batches, folded keys) of the store at `dir`. */
  private def counts(dir: String): (Int, Int) =
    (StagedBatches.committedDirs(spark, dir).length,
      StagedBatches.foldedKeys(spark, dir).size)

  /** Runs `ingest` as two fresh queries over the same files; `observe`
    * must see the same thing after each. */
  private def redeliver[A](ingest: () => Long)(observe: => A): A = {
    assert(ingest() >= 2)
    val first = observe
    assert(ingest() >= 2)
    assert(observe == first)
    first
  }

  private lazy val qterms = docs.orderBy(col("doc_id")).limit(3)
    .select(col("doc_id").as("qid"), explode(split(col("text"), " ")).as("tok"))
    .filter(col("tok") =!= "")

  test("bm25: a fresh query over the same files stages nothing") {
    val dir = tmp("bm25") + "/idx"
    Bm25.ensureIndex(docs, "doc_id", "text", dir)
    val stream = source(docs, "doc_id", 2)
    val (_, seen) = redeliver(() => StreamPipeline.bm25Ingest(spark, stream(), dir,
      "doc_id", "text")) {
      (rows(Bm25.topK(spark, dir, qterms, 5)), counts(dir))
    }
    assert(seen == ((2, 0)))
  }

  test("bm25 generation: a redelivered batch stays a no-op after its fold") {
    val root = tmp("bm25gen") + "/store"
    GenerationStore.publish(spark, root)(Bm25.ensureIndex(docs, "doc_id", "text", _))
    val stream = source(docs, "doc_id", 3)
    def cur = GenerationStore.currentGenDir(spark, root).get
    val (_, seen) = redeliver(() => StreamPipeline.bm25IngestGen(spark, stream(), root,
      "doc_id", "text", autoCompactEvery = 2)) {
      (rows(Bm25.topK(spark, cur, qterms, 5)), counts(cur))
    }
    // two batches folded into a new generation, the third staged there
    assert(seen == ((1, 2)))
  }

  test("ivf: a fresh query over the same files stages nothing") {
    val dir = tmp("ivf") + "/idx"
    Ivf.buildIndex(emb, "vec_id", "embedding", dir, k = 4, iters = 2)
    val stream = source(emb, "vec_id", 2)
    redeliver(() => StreamPipeline.ivfIngest(spark, stream(), dir,
      "vec_id", "embedding")) {
      (Ivf.readCorpus(spark, dir).count(),
        rows(Ivf.topKIndexed(spark, dir, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 3, nProbe = 2)),
        counts(dir))
    }
  }

  test("kmeans: a fresh query over the same files stages nothing") {
    val dir = tmp("km") + "/shards"
    val cents = KMeans.fitCentroids(emb, "vec_id", "embedding", k = 3, iters = 2)
    val stream = source(emb, "vec_id", 2)
    redeliver(() => StreamPipeline.kmeansIngest(spark, stream(), dir, cents,
      "vec_id", "embedding")) {
      (rows(KMeans.readShards(spark, dir).select(col("vec_id"), col("cluster"))),
        counts(dir))
    }
  }

  test("cms: a fresh query over the same files stages nothing") {
    val dir = tmp("cms") + "/store"
    val stream = source(docs, "doc_id", 2)
    redeliver(() => StreamPipeline.cmsIngest(spark, stream(), dir, "text")) {
      (rows(CountMin.storeSketch(spark, dir)), counts(dir))
    }
  }

  test("attrs: a fresh query over the same files stages nothing") {
    val dir = tmp("attrs") + "/store"
    Attributes.ensureAttributes(docs, dir)
    val stream = source(docs, "doc_id", 2)
    redeliver(() => StreamPipeline.attrsIngest(spark, stream(), dir)) {
      (rows(Attributes.readAttrs(spark, dir)), counts(dir))
    }
  }

  private lazy val bench = docs.filter(col("doc_id") % 10 === 0)

  test("spans: a fresh query over the same files stages nothing") {
    val dir = tmp("spans") + "/store"
    Attributes.ensureSpanAttributes(docs, bench, dir, n = 3)
    val stream = source(docs, "doc_id", 2)
    redeliver(() => StreamPipeline.spanIngest(spark, stream(), dir, bench, n = 3)) {
      (rows(Attributes.readSpans(spark, dir)), counts(dir))
    }
  }

  test("spans generation: a redelivered batch stays a no-op after its fold") {
    val root = tmp("spansgen") + "/store"
    GenerationStore.publish(spark, root)(
      Attributes.ensureSpanAttributes(docs, bench, _, n = 3))
    val stream = source(docs, "doc_id", 3)
    def cur = GenerationStore.currentGenDir(spark, root).get
    val (_, seen) = redeliver(() => StreamPipeline.spanIngestGen(spark, stream(), root,
      bench, n = 3, autoCompactEvery = 2)) {
      (rows(Attributes.readSpans(spark, cur)), counts(cur))
    }
    assert(seen == ((1, 2)))
  }

  test("semdedup: a fresh query over the same files stages nothing") {
    val root = tmp("semdedup")
    SemDedup.initStream(spark, root, emb, "vec_id", "embedding", k = 4, iters = 2)
    val stream = source(emb, "vec_id", 2)
    redeliver(() => StreamPipeline.semDedupIngest(spark, stream(), root,
      "vec_id", "embedding", tau = 0.9)) {
      (rows(SemDedup.readStreamVerdicts(spark, root)), counts(root))
    }
  }

  private lazy val wids = Bpe.wordIdRelation(docs, "text", 16)

  test("pack: a fresh query over the same files stages nothing") {
    val out = tmp("pack") + "/seqs"
    val stream = source(docs, "doc_id", 2)
    redeliver(() => StreamPipeline.packIngest(spark, stream(), out, wids,
      "doc_id", "text", seqLen = 64)) {
      (rows(StreamPipeline.packSeqs(spark, out)), counts(out))
    }
  }

  test("pack carry: a fresh query over the same files stages nothing") {
    val out = tmp("packcarry") + "/seqs"
    val stream = source(docs, "doc_id", 2)
    redeliver(() => StreamPipeline.packIngestCarry(spark, stream(), out, wids,
      "doc_id", "text", seqLen = 64)) {
      (rows(StreamPipeline.packCarryServe(spark, out, 64)), counts(out))
    }
  }

  test("near-dup: a fresh query over the same files stages nothing") {
    val base = tmp("neardup")
    // each doc twice, so verified pairs exist
    val twice = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 2000000L))
    val stream = source(twice, "doc_id", 2)
    val corpus = twice.withColumn("doc_id", col("doc_id") + 1000000L)
    var pairs: DataFrame = null
    // incrementalNearDups returns its pairs, not a batch count
    redeliver { () =>
      pairs = StreamPipeline.incrementalNearDups(spark, stream(), corpus,
        s"$base/bands", s"$base/pairs")
      StagedBatches.committedDirs(spark, s"$base/pairs").length.toLong
    } {
      (rows(pairs), counts(s"$base/bands"), counts(s"$base/pairs"))
    }
    assert(pairs.count() > 0)
  }
}
