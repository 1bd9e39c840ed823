package graft.pipeline

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{EndsWith, ScalaUDF}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import graft.extract.{SynthDocs, SynthHeavyDocs}

/** The document flow (ingest → enrich → successFailure → toLines → tag
  * → toJsonRecords → sentiment routes) over a corpus generated in a
  * temp dir, so it runs on any host: heavy and easy synthetic
  * documents, one truncated docx zip, plus one null-content row. Every
  * success text is checked against its planted text, the failures
  * against their cause, and the coalesced scan against a plain one.
  */
class DocFlowSpec extends AnyFunSuite with AdaptiveSparkPlanHelper with SparkSuite {
  // enough files that binaryFile's per-file open cost packs them into
  // more scan partitions than the coalesced width
  private val heavy = 0L until 40L
  private val easy = 1000L until 1280L
  private val TruncatedName = "truncated.docx"
  private val NullName = "null_content.pdf"

  private lazy val corpus: Path = {
    val d = Files.createTempDirectory("graft_docflow")
    d.toFile.deleteOnExit()
    heavy.foreach(i => Files.write(d.resolve(SynthHeavyDocs.fileName(i)), SynthHeavyDocs.bytesFor(i)))
    easy.foreach(i => Files.write(d.resolve(SynthDocs.fileName(i)), SynthDocs.bytesFor(i)))
    val docx = SynthDocs.bytesFor(easy.find(SynthDocs.formatFor(_) == "docx").get)
    Files.write(d.resolve(TruncatedName), docx.take(docx.length / 2))
    d
  }

  private def nDocs: Long = heavy.size + easy.size

  private def expectedText(filename: String): String = {
    val i = filename.drop(4).takeWhile(_.isDigit).toLong
    if (heavy.contains(i)) SynthHeavyDocs.expectedText(i) else SynthDocs.expectedText(i)
  }

  /** The binaryFile row a source can never produce: no content. */
  private def nullRow: DataFrame =
    spark.range(1).select(lit(s"file:/nowhere/$NullName").as("path"),
      timestamp_seconds(lit(0L)).as("modificationTime"), lit(0L).as("length"),
      lit(null).cast("binary").as("content"))

  private def docs: DataFrame =
    DocPipeline.ingest(spark, corpus.toString).unionByName(nullRow)

  private def plainScan: DataFrame = spark.read.format("binaryFile").load(corpus.toString)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("no row is dropped: success text is exact, failures carry their error") {
    val enriched = DocPipeline.enrich(docs)
    val (ok, bad) = DocPipeline.successFailure(enriched)
    val okRows = ok.select("filename", "text", "mime_type").collect()
    val badRows = bad.select("filename", "text", "error", "meta").collect()
    assert(docs.count() == nDocs + 2)
    assert(okRows.length + badRows.length == nDocs + 2)
    assert(okRows.length == nDocs)
    okRows.foreach { case Row(f: String, text, mime) =>
      assert(text == expectedText(f), f)
      assert(mime != null, f)
    }
    assert(badRows.map(_.getString(0)).toSet == Set(TruncatedName, NullName))
    badRows.foreach { r =>
      assert(r.getString(1) == null, r)
      assert(r.getString(2) != null, r)
    }
    // metadata stays error-as-data too: the damaged zip keeps its
    // generic attributes, the null content has none
    val meta = badRows.map(r => r.getString(0) -> r.getMap[String, String](3)).toMap
    assert(meta(TruncatedName)("Content-Length").toLong ==
      Files.size(corpus.resolve(TruncatedName)))
    assert(meta(NullName) == null)
  }

  test("ExtractConfig(maxTextLength) caps the text") {
    val n = 100
    val full = DocPipeline.enrich(docs).select(col("filename"), col("text").as("full"))
    val capped = DocPipeline.enrich(docs, DocPipeline.ExtractConfig(maxTextLength = n))
      .filter(col("error").isNull).select("filename", "text")
      .join(full, "filename").collect()
    assert(capped.length == nDocs)
    capped.foreach { case Row(f: String, text: String, whole: String) =>
      assert(text.length <= n && whole.startsWith(text), f)
    }
    assert(capped.exists(_.getString(1).length == n))
  }

  test("the three sentiment routes partition the lines") {
    val (ok, _) = DocPipeline.successFailure(DocPipeline.enrich(docs))
    val recs = DocPipeline.toJsonRecords(DocPipeline.tag(DocPipeline.toLines(ok)),
      Seq("filename", "mime_type", "line_no", "sentence", "sentiment"))
    val expectedLines = (heavy.map(SynthHeavyDocs.expectedText) ++ easy.map(SynthDocs.expectedText))
      .map(_.split("\n").count(_.trim.nonEmpty).toLong).sum
    Router.withRoutes(recs, Router.SentimentRoutes, includeZeroRecordRoutes = true) { routes =>
      val keys = routes.values.toSeq.map(_.select("filename", "line_no").collect().toSeq)
      assert(keys.map(_.size.toLong).sum == expectedLines)
      assert(keys.flatten.distinct.size.toLong == expectedLines)
    }
  }

  test("the coalesced scan yields the rows of a plain binaryFile scan") {
    val viaIngest = DocPipeline.enrich(docs)
    val viaPlain = DocPipeline.enrich(plainScan.unionByName(nullRow))
    assert(sortedRows(viaIngest) == sortedRows(viaPlain))
  }

  test("enrich under the streaming engine returns the batch rows") {
    val stream = spark.readStream.format("binaryFile")
      .schema(plainScan.schema) // streaming sources don't infer
      .load(corpus.toString)
    val q = DocPipeline.enrich(stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("docflow_stream").start()
    try {
      q.processAllAvailable()
      val batch = DocPipeline.enrich(DocPipeline.ingest(spark, corpus.toString))
      assert(sortedRows(spark.table("docflow_stream")) == sortedRows(batch))
    } finally q.stop()
  }

  private def planOf(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  /** `extract_doc` calls in a plan: ScalaUDFs returning its 4-field struct. */
  private def extractDocCalls(plan: SparkPlan): Int =
    collect(plan) { case p => p.expressions.map(_.collect {
      case u: ScalaUDF if u.children.size == 4 && (u.dataType match {
        case s: StructType => s.fieldNames.toSeq == Seq("_1", "_2", "_3", "_4")
        case _ => false
      }) => u
    }.size).sum }.sum

  test("plan: one extract_doc call, filename predicate in the scan, scan width") {
    val ok = DocPipeline.successFailure(
      DocPipeline.enrich(DocPipeline.ingest(spark, corpus.toString)))._1
    assert(extractDocCalls(planOf(ok)) == 1)

    val byName = planOf(ok.filter(col("filename").endsWith("_z.pdf")))
    val scan = collect(byName) { case s: FileSourceScanExec => s }
    assert(scan.size == 1)
    assert(scan.head.dataFilters.exists(_.find(_.isInstanceOf[EndsWith]).isDefined),
      scan.head.dataFilters)
    assert(extractDocCalls(byName) == 1)

    // tiny corpus: two tasks per core; the plain scan is wider
    val width = 2 * spark.sparkContext.defaultParallelism
    assert(collect(planOf(ok)) { case c: CoalesceExec => c.numPartitions } == Seq(width))
    assert(plainScan.rdd.getNumPartitions > width)
    assert(ok.rdd.getNumPartitions == width)
  }
}
