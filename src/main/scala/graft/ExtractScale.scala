package graft

import org.apache.spark.sql.functions._

/** Extraction-throughput ladder rung (VERDICT r16 #3): materialize a
  * [[graft.extract.SynthDocs]] corpus of `nDocs` real containers
  * (idempotent — existing files are kept), then time the full
  * binaryFile-scan + extraction-UDF pipeline
  * ([[graft.pipeline.DocPipeline]]) over it, steady-state (one untimed
  * warmup pass, then `iters` timed passes, median reported). Prints
  * ONE JSON line with docs/s and docs/s/core — the BASELINE.md
  * ≥ 1 doc/s/core target's measured evidence.
  *
  * Usage: `runMain graft.ExtractScale <corpusDir> <nDocs> [iters] [easy|heavy]`.
  * `heavy` generates the [[graft.extract.SynthHeavyDocs]] mix —
  * FlateDecode multi-stream PDFs, OLE2 piece-table .doc, AES-V2
  * encrypted PDFs — the 10-50×-more-work-per-byte tail the easy-format
  * number alone would overstate.
  */
object ExtractScale {
  def main(args: Array[String]): Unit = {
    val Array(dir, nStr) = args.take(2)
    val nDocs = nStr.toLong
    val iters = args.lift(2).map(_.toInt).getOrElse(3)
    val heavy = args.lift(3).contains("heavy")
    val cpus = GraftSession.cores
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // scope the corpus dir by nDocs (the q_extract_synth discipline):
    // re-using one dir across ladder rungs would leave a larger run's
    // files behind and fail the exact-count require with a misleading
    // "extraction dropped docs" shape
    val mode = if (heavy) "heavy" else "easy"
    val corpusDir = java.nio.file.Paths.get(dir, s"n${nDocs}_$mode").toString
    if (heavy)
      graft.extract.SynthHeavyDocs.writeCorpus(
        java.nio.file.Paths.get(corpusDir), nDocs)
    else
      graft.extract.SynthDocs.writeCorpus(
        java.nio.file.Paths.get(corpusDir), nDocs)

    // the measured pass: list + fetch + detect + extract + metadata,
    // aggregated so every document's extraction actually runs (an
    // unconsumed column would be pruned out of the scan)
    def pass(): (Long, Long, Long) = {
      val enriched = graft.pipeline.DocPipeline.enrich(
        graft.pipeline.DocPipeline.ingest(spark, corpusDir))
      val r = enriched.agg(
        count(lit(1)), sum(length(col("text"))),
        count(col("error"))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (docs, chars, errors) = pass() // warmup (codegen, JIT, page cache)
    require(docs == nDocs, s"expected $nDocs docs, scanned $docs")
    require(errors == 0L, s"$errors documents failed extraction")
    val times = (1 to iters).map { _ =>
      val t0 = System.nanoTime()
      pass()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    val sec = times(times.length / 2)
    val dps = docs / sec
    val dpsCore = dps / cpus.toDouble
    println(f"""{"extract_scale":{"mode":"$mode","docs":$docs,"chars":$chars,"cores":$cpus,"sec":$sec%.3f,"docs_per_sec":$dps%.1f,"docs_per_sec_per_core":$dpsCore%.2f,"dir":"$corpusDir"}}""")
    spark.stop()
  }
}
