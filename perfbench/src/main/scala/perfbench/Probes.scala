package perfbench

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.{Metadata, MimeDetect, SynthDocs, SynthHeavyDocs, TextExtractor}
import graft.pipeline.DocPipeline

object Probes {

  /** Host weather, read before and after the timed window and stored
    * beside the metrics: Bench's constant-work CPU sentinel (8M-row
    * bit_xor into a noop sink) and its 4 MB write+fsync probe, same
    * constants. */
  def weather(ctx: Ctx): Map[String, Any] = ctx.asOp("weather") {
    val spark = ctx.spark
    def sentinel(): Double = ctx.seconds {
      spark.range(0, 8L * 1000 * 1000, 1, Main.Cores)
        .selectExpr("bit_xor(id * 2654435761) AS s")
        .write.format("noop").mode("overwrite").save()
    }
    val buf = new Array[Byte](4 << 20)
    def io(): Double = ctx.seconds {
      val p = Files.createTempFile(ctx.work, "io_probe", ".bin")
      val ch = java.nio.channels.FileChannel.open(p, java.nio.file.StandardOpenOption.WRITE)
      ch.write(java.nio.ByteBuffer.wrap(buf))
      ch.force(true)
      ch.close()
      Files.delete(p)
    }
    sentinel() // warms the sentinel's plan, as Bench does
    Map("cpu_sentinel_s" -> sentinel(), "io_fsync_s" -> io())
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** One probe document: format, file name, bytes, expected text. */
  final case class Doc(format: String, name: String, bytes: Array[Byte], expected: String)

  /** `perFormat` documents of each of the eight generated formats,
    * indices starting at `base` (the workload's seed offset). */
  def probeDocs(base: Long, perFormat: Int): Seq[Doc] = {
    val easy = (base until base + 5L * perFormat).map(i =>
      Doc(SynthDocs.formatFor(i), SynthDocs.fileName(i), SynthDocs.bytesFor(i), SynthDocs.expectedText(i)))
    val heavy = (base until base + 3L * perFormat).map(i =>
      Doc(SynthHeavyDocs.formatFor(i), SynthHeavyDocs.fileName(i), SynthHeavyDocs.bytesFor(i),
        SynthHeavyDocs.expectedText(i)))
    easy ++ heavy
  }

  /** Direct single-thread calls into the extractors, per format: MIME
    * detection, text extraction and metadata, in microseconds per call,
    * plus extraction throughput and the count of wrong or failed
    * extractions. Timed `reps` times over the sample after one warm-up
    * round. */
  def extractLayer(ctx: Ctx, docs: Seq[Doc], reps: Int): Unit = {
    val t = ctx.tracer
    var detectNs, metaNs, extractNs, bytes = 0L
    var calls = 0L
    var errors = 0L
    val byFormat = scala.collection.mutable.Map.empty[String, (Long, Long)]
    // one untimed round first: the timed rounds measure compiled code
    docs.foreach(d => { MimeDetect.detect(d.bytes, d.name); TextExtractor.extract(d.bytes, d.name)
      Metadata.extract(d.bytes, d.name) })
    t.span("extract.probe") {
      (1 to reps).foreach { _ =>
        docs.foreach { d =>
          val t0 = System.nanoTime()
          t.span("extract.detect")(MimeDetect.detect(d.bytes, d.name))
          val t1 = System.nanoTime()
          val x = t.span(s"extract.text.${d.format}")(TextExtractor.extract(d.bytes, d.name))
          val t2 = System.nanoTime()
          t.span("extract.meta")(Metadata.extract(d.bytes, d.name))
          val t3 = System.nanoTime()
          detectNs += t1 - t0; extractNs += t2 - t1; metaNs += t3 - t2
          bytes += d.bytes.length; calls += 1
          val (n, ns) = byFormat.getOrElse(d.format, (0L, 0L))
          byFormat(d.format) = (n + 1, ns + (t2 - t1))
          if (x.error != null || x.text != d.expected || x.mimeType == null) errors += 1
        }
      }
    }
    t.set("extract.detect_us", detectNs / 1e3 / calls)
    t.set("extract.meta_us", metaNs / 1e3 / calls)
    t.set("extract.mb_per_s", bytes / 1048576.0 / (extractNs / 1e9))
    t.set("extract.errors", errors.toDouble)
    byFormat.foreach { case (f, (n, ns)) => t.set(s"extract.text_us.$f", ns / 1e3 / n) }
  }

  /** The codegen'd functions layer on cached text: the tagging UDF pair
    * over the text's lines, and the structural gate predicate over the
    * documents. `docs` has (doc_id, text). */
  def functionsLayer(ctx: Ctx, docs: DataFrame): Unit = {
    val t = ctx.tracer
    val lines = DocPipeline.toLines(docs).select(col("doc_id"), col("sentence")).persist()
    val cached = docs.persist()
    try {
      lines.count(); cached.count()
      t.set("functions.tag_s", ctx.seconds(t.span("functions.tag")(ctx.noop(DocPipeline.tag(lines)))))
      t.set("functions.gate_s", ctx.seconds(t.span("functions.gate")(
        cached.agg(sum(graft.ext.CurationFilters.structuralKeepCol(col("text")).cast("int")))
          .collect())))
    } finally { lines.unpersist(); cached.unpersist() }
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
