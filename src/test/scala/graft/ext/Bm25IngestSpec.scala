package graft.ext

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.streaming.StreamPipeline

/** A staged BM25 batch: its tf, df and stats rows equal the self-join
  * formula that `Bm25.postings` replaced, and a streaming drain reuses
  * the code an earlier drain compiled and stages a small batch in a few
  * jobs. */
class Bm25IngestSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): Path = Files.createTempDirectory(tag)

  /** The posting formula `Bm25.postings` replaced: tf and dl as two
    * aggregates over one token relation (so two tokenize passes),
    * joined on doc_id; df and stats derived as `ingestIntoIndex` does. */
  private def reference(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val toks = TextStats.tokenRows(docs, "doc_id", "text")
      .select(col("doc_id").cast(LongType).as("doc_id"), col("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tfdl = tf.join(dl, Seq("doc_id"))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
    (tfdl,
      tfdl.groupBy(col("tok")).agg(count(lit(1)).as("df")),
      tfdl.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n_docs"), coalesce(sum(col("dl")), lit(0L)).as("tot_dl")))
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** A doc_id two rows share, an empty and a blank text, a null id,
    * and repeated tokens. */
  private val batchRows = Seq(
    Row(1L, "alpha beta alpha"), Row(2L, "beta gamma"),
    Row(2L, "gamma delta gamma"), Row(3L, ""), Row(4L, "  "),
    Row(null, "alpha omega"), Row(5L, "epsilon alpha zeta zeta zeta"))
  private val batchSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def parquetFiles(dir: String): Seq[Path] = {
    val s = Files.list(Path.of(new org.apache.hadoop.fs.Path(dir).toUri.getPath))
    try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq
    finally s.close()
  }

  test("a staged batch's tf, df and stats equal the self-join formula's") {
    val local = spark.createDataFrame(batchRows.asJava, batchSchema)
    // an RDD-backed batch has no size estimate: writerWidth falls back
    // to the session width, so the batch stages through repartition(n, tok)
    val wide = spark.createDataFrame(spark.sparkContext.parallelize(batchRows, 3),
      batchSchema)
    assert(Compaction.writerWidth(local) == 1)
    assert(Compaction.writerWidth(wide) > 1)
    for (batch <- Seq(local, wide)) {
      val dir = tmp("bm25_postings").resolve("idx").toString
      Bm25.ensureIndex(Seq((100L, "base doc")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
      Bm25.ingestIntoIndex(spark, dir, batch, "doc_id", "text")
      val Seq(staged) = Bm25.committedBatchDirs(spark, dir)
      val (tf, df, stats) = reference(batch)
      val gotTf = spark.read.schema(Bm25.TfSchema).parquet(s"$staged/tf")
      assert(sorted(gotTf) == sorted(tf))
      assert(sorted(spark.read.schema(Bm25.DfSchema).parquet(s"$staged/df")) == sorted(df))
      assert(sorted(spark.read.schema(Bm25.StatsSchema).parquet(s"$staged/stats")) ==
        sorted(stats))
      // each tf file holds whole tokens, sorted by (tok, doc_id)
      val files = parquetFiles(s"$staged/tf")
      if (batch eq local) assert(files.length == 1, files)
      val byFile = files.map(f => spark.read.schema(Bm25.TfSchema).parquet(f.toString)
        .collect().toSeq.map(r => (r.getString(0), r.getLong(1))))
      byFile.foreach(rows => assert(rows == rows.sortBy(identity)))
      val toks = byFile.map(_.map(_._1).toSet)
      assert(toks.flatten.length == toks.map(_.size).sum, "a token spans files")
    }
    // the generation-0 build runs the same postings over its corpus
    val dir = tmp("bm25_postings_base").resolve("idx").toString
    val corpus = spark.createDataFrame(batchRows.asJava, batchSchema)
    Bm25.ensureIndex(corpus, "doc_id", "text", dir)
    assert(sorted(spark.read.schema(Bm25.TfSchema).parquet(s"$dir/tf")) ==
      sorted(reference(corpus)._1))
  }

  /** A fresh one-file stream of `n` documents; `seed` varies ids and
    * text, not the shape. */
  private def oneFileStream(seed: Int, n: Int): DataFrame = {
    val src = tmp(s"bm25_stream_$seed")
    (0 until n).map(i => (seed * 100000L + i, s"w${i % 7} w${(i + seed) % 11} x$seed"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(src.resolve("in").toString)
    spark.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(src.resolve("in").toString)
  }

  test("a second drain compiles nothing and stages a plain batch in at most 7 jobs") {
    val dir = tmp("bm25_compile").resolve("idx").toString
    Bm25.ensureIndex(Seq((1L, "w1 w2"), (2L, "w3")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val Seq(first, second) = Seq(1, 2).map(oneFileStream(_, 40))
    def drain(stream: DataFrame): Long =
      StreamPipeline.bm25Ingest(spark, stream, dir, "doc_id", "text")
    assert(drain(first) == 1) // warm: the first drain compiles the body
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var n = 0L
    val jobs = ListenerBusDrain.jobsOf(spark.sparkContext) { n = drain(second) }
    assert(n == 1)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0,
      "the second query re-planned on the caller's session must hit the code cache")
    assert(jobs.length <= 7, jobs)
    assert(Bm25.committedBatchDirs(spark, dir).length == 2)
  }
}
