package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.{SynthDocs, SynthHeavyDocs}
import graft.pipeline.{DocPipeline, Router}
import DocsFlow.Counts

/** The paper's own path, closed loop with one client: full passes of
  * the template flow over an on-disk corpus of heavy (FlateDecode PDF,
  * OLE2 .doc, AES PDF; ~7 KB of text) and easy (PDF, DOCX, ODT, HTML,
  * TXT; ~0.5 KB) documents. One pass is
  * ingest → enrich → successFailure → toLines → tag → toJsonRecords
  * → Router.routes(SentimentRoutes), each route counted (noop sink).
  * The flow output is cached once per pass so the three routes share
  * one scan, as `Router.withRoutes` does. A pass's latency is its
  * commit latency; each route's count is one query. */
final class DocsFlow extends Workload {

  private var nHeavy = 600
  private var nEasy = 1200
  private var corpus: Path = _
  private var base = 0L
  private var expectedLines = 0L

  private val JsonCols = Seq("filename", "mime_type", "line_no", "sentence", "sentiment")

  private def writeDoc(dir: Path, name: String, bytes: Array[Byte], i: Long): Unit = {
    val sub = dir.resolve(f"d${i % 16}%02d")
    Files.createDirectories(sub)
    Files.write(sub.resolve(name), bytes)
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    if (ctx.args.smoke) { nHeavy = 30; nEasy = 60 }
    base = ctx.seed * 100000L
    if (corpus != null) Probes.deleteTree(corpus)
    corpus = ctx.work.resolve(s"corpus_$rep")
    Probes.deleteTree(corpus)
    var i = base
    while (i < base + nHeavy) {
      writeDoc(corpus.resolve("heavy"), SynthHeavyDocs.fileName(i), SynthHeavyDocs.bytesFor(i), i)
      i += 1
    }
    i = base
    while (i < base + nEasy) {
      writeDoc(corpus.resolve("easy"), SynthDocs.fileName(i), SynthDocs.bytesFor(i), i)
      i += 1
    }
  }

  private def nDocs: Long = nHeavy + nEasy

  private def enriched(ctx: Ctx): DataFrame =
    DocPipeline.enrich(DocPipeline.ingest(ctx.spark, corpus.toString))

  /** One closed-loop pass; records the pass and route-query latencies.
    * The failure route is checked once per run, in [[warmAndCheck]]. */
  private def pass(ctx: Ctx, record: Boolean): Counts = ctx.confGuard {
    val t = ctx.tracer
    t.span("pipeline.pass") {
      val t0 = System.nanoTime()
      val (ok, _) = DocPipeline.successFailure(enriched(ctx))
      val recs = DocPipeline.toJsonRecords(DocPipeline.tag(DocPipeline.toLines(ok)), JsonCols)
        .persist()
      try {
        val lines = t.span("pipeline.flow")(recs.count())
        val routes = Router.routes(recs, Router.SentimentRoutes, includeZeroRecordRoutes = true)
        var routed = 0L
        routes.toSeq.sortBy(_._1).foreach { case (name, df) =>
          val q0 = System.nanoTime()
          routed += ctx.asOp("query")(t.span(s"pipeline.route.$name")(df.count()))
          if (record) ctx.rec.sample(if (t.recording) "query_s_traced" else "query_s",
            (System.nanoTime() - q0) / 1e9)
        }
        val passS = (System.nanoTime() - t0) / 1e9
        if (record) {
          ctx.rec.sample(if (t.recording) "pass_s_traced" else "pass_s", passS)
          if (!t.recording) {
            ctx.rec.sample("commit_s", passS)
            ctx.rec.sample("docs_per_s", nDocs / passS)
          }
        }
        Counts(lines, routed)
      } finally {
        recs.unpersist()
        ctx.spark.catalog.clearCache()
      }
    }
  }

  def warmAndCheck(ctx: Ctx): Unit = {
    // text oracle: every document's extracted text equals its planted
    // text, with a MIME type stamped, and the failure route is empty
    val expected = udf((p: String) => DocsFlow.expectedFor(p))
    val (ok, bad) = DocPipeline.successFailure(enriched(ctx))
    ctx.check("docs_flow extracted text == expectedText with mime stamped") {
      ok.filter(col("mime_type").isNull || not(col("text") <=> expected(col("path")))).count() == 0 &&
        ok.count() == nDocs
    }
    ctx.check("docs_flow failure route empty")(bad.count() == 0)
    val planted = (base until base + nHeavy).map(SynthHeavyDocs.expectedText) ++
      (base until base + nEasy).map(SynthDocs.expectedText)
    expectedLines = planted.map(_.split("\n").count(_.trim.nonEmpty).toLong).sum
    // untimed passes, each checked: the extractors and the tagging
    // code are still being compiled through the first
    ctx.asOp("pass")((1 to WarmPasses).foreach(_ => checkCounts(ctx, pass(ctx, record = false))))
  }

  private val WarmPasses = 2

  private def checkCounts(ctx: Ctx, c: Counts): Unit =
    ctx.check(s"docs_flow pass counts $c vs lines=$expectedLines") {
      c.lines == expectedLines && c.routed == c.lines
    }

  def measure(ctx: Ctx, deadlineNs: Long): Unit = ctx.asOp("pass") {
    var k = 0
    while (System.nanoTime() < deadlineNs || k < 1) {
      // a traced run alternates traced and untraced passes, so the
      // difference is the tracing overhead
      val traced = ctx.args.trace && k % 2 == 1
      ctx.tracer.withRecording(traced) {
        ctx.attempt("docs_flow pass")(pass(ctx, record = true)).foreach(c => checkCounts(ctx, c))
      }
      k += 1
    }
  }

  def finalCheck(ctx: Ctx): Unit = ()

  /** Prefix passes of the DAG (scan, +enrich, full flow), the direct
    * extractor calls on this corpus's own documents, the tagging
    * functions on the extracted lines, and the curation operators on
    * the curate workload's inputs (see [[Curate.probeExt]]). */
  def probeLayers(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val spark = ctx.spark
    t.set("pipeline.scan_s", ctx.seconds(t.span("pipeline.scan")(
      ctx.noop(DocPipeline.ingest(spark, corpus.toString)))))
    t.set("pipeline.enrich_s", ctx.seconds(t.span("pipeline.enrich")(ctx.noop(enriched(ctx)))))
    t.set("pipeline.flow_s", ctx.seconds {
      val c = pass(ctx, record = false)
      t.set("pipeline.rows.lines", c.lines.toDouble)
      t.set("pipeline.rows.routed", c.routed.toDouble)
    })
    val (ok, bad) = DocPipeline.successFailure(enriched(ctx))
    t.set("pipeline.rows.success", ok.count().toDouble)
    t.set("pipeline.rows.failure", bad.count().toDouble)
    Probes.extractLayer(ctx, Probes.probeDocs(base, 20), reps = 3)
    val text = enriched(ctx).filter(col("error").isNull)
      .select(monotonically_increasing_id().as("doc_id"), col("text"))
    Probes.functionsLayer(ctx, text)
    val curate = new Curate
    curate.setup(ctx, 1)
    curate.probeExt(ctx)
  }
}

object DocsFlow {
  /** Row counts of one pass, for the per-pass check. */
  final case class Counts(lines: Long, routed: Long)

  /** Planted text of the corpus file at `path` (heavy or easy tree). */
  def expectedFor(path: String): String = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    val i = name.drop(4).takeWhile(_.isDigit).toLong
    if (path.contains("/heavy/")) SynthHeavyDocs.expectedText(i) else SynthDocs.expectedText(i)
  }
}
