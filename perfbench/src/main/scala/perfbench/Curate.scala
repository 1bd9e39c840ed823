package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ext.{Bpe, CacheScope, CurationFilters, Dedup, Packing, SemDedup}

/** The curation funnel, closed loop with one client. One pass runs
  * q_pretrain_pipeline's chain — structural gate → exact dedup →
  * 3-gram shingle decontamination against the src0 benchmark split →
  * BPE encode (32 merges, trained on the survivors) → packing into
  * 512-token sequences, committed as parquet — and SemDeDup with an
  * auto-scaled cell count over the embeddings with planted clones.
  *
  * Inputs: `documents` of the given testdata dir replicated
  * `Replicas`× with SynthScale's rule (replica r of doc d gets id
  * d·R + r and, for r > 0, one tail word drawn from a seed-rotated
  * pool), and the embeddings with a ×1.5 clone of every vector whose
  * (vec_id + seed) is a multiple of 5, at vec_id + 1,000,000. Only a
  * seed-chosen ~2% of the src0 documents stay in the benchmark split;
  * the rest become source src20. */
final class Curate extends Workload {

  private var replicas = 1
  private var dir: Path = _
  private var nDocs = 0L
  private var reference: Seq[Row] = Nil

  private def docsPath = dir.resolve("documents.parquet").toString
  private def embPath = dir.resolve("embeddings.parquet").toString

  def setup(ctx: Ctx, rep: Int): Unit = {
    if (ctx.args.smoke) replicas = 1
    val spark = ctx.spark
    if (dir != null) Probes.deleteTree(dir)
    dir = ctx.work.resolve(s"curate_$rep")
    Probes.deleteTree(dir)
    val src = ctx.args.testdata
    val reps = spark.range(0, replicas).select(col("id").as("r"))
    var docs = spark.read.parquet(s"$src/documents.parquet")
    if (ctx.args.smoke) docs = docs.filter(col("doc_id") % 10 === 0)
    docs.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") * replicas + col("r")).as("doc_id"),
        when(col("r") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" wr"), col("r").cast("string"), lit("q"),
            pmod(col("doc_id") + lit(ctx.seed), lit(1000)).cast("string"))).as("text"),
        col("lang"),
        // the benchmark split shares a 3-gram with every other document
        // of the testdata corpus; thinned to a seed-chosen ~0.2% it
        // leaves the tokenizer and the packer real input
        when(col("source") === "src0" && pmod(col("doc_id") + lit(ctx.seed), lit(250)) >= 5,
          lit("src20")).otherwise(col("source")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(Main.Cores)
      .write.parquet(docsPath)
    val emb = spark.read.parquet(s"$src/embeddings.parquet").select(col("vec_id"), col("embedding"))
    val clones = emb.filter(pmod(col("vec_id") + lit(ctx.seed), lit(5)) === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
    emb.unionByName(clones).repartition(Main.Cores).write.parquet(embPath)
    nDocs = spark.read.parquet(docsPath).count()
  }

  /** The chain of q_pretrain_pipeline; each stage through `stage`,
    * which a traced probe uses to cache and time it. */
  private def chain(docs: DataFrame, stage: (String, DataFrame) => DataFrame): DataFrame = {
    val bench = docs.filter(col("source") === "src0")
    val kept1 = stage("gate", docs.filter(col("source") =!= "src0")
      .filter(CurationFilters.structuralKeepCol(col("text")))
      .select(col("doc_id"), col("text")))
    val kept2 = stage("dedup", Dedup.exactKeepFirst(kept1, "doc_id", "text")
      .select(col("doc_id"), col("text")))
    val contaminated = Dedup.hashedShingleRows(kept2, "doc_id", "text", 3)
      .join(broadcast(Dedup.hashedShingleSet(bench, "text", 3).withColumnRenamed("g", "s")),
        Seq("s"), "left_semi")
      .select(col("id").as("doc_id")).distinct()
    val kept3 = stage("decontam", kept2.join(contaminated, Seq("doc_id"), "left_anti"))
    val toks = stage("encode", Bpe.encodeIds(kept3, "doc_id", "text", 32))
    stage("pack", Packing.packSequences(toks, "doc_id", 512))
      .select(col("seq_id"), col("seq_len"), col("n_docs"), md5(col("ids")).as("ids_md5"))
  }

  private def semDedup(emb: DataFrame): DataFrame =
    SemDedup.semDedupAuto(emb, "vec_id", "embedding", 0.9)

  /** Rows where SemDeDup's verdict differs from "kept = not a clone". */
  private def semMismatches(verdicts: DataFrame): Long =
    verdicts.filter(col("kept") === (col("id") >= 1000000L)).count()

  /** One pass: commit the packed sequences under `out`, run SemDeDup,
    * and return the number of SemDeDup oracle mismatches. */
  private def pass(ctx: Ctx, out: String): Long = ctx.confGuard {
    val spark = ctx.spark
    val t = ctx.tracer
    try CacheScope.withScope {
      t.span("ext.pass") {
        t.span("ext.chain")(chain(spark.read.parquet(docsPath), (_, df) => df)
          .write.mode("overwrite").parquet(out))
        t.span("ext.semdedup_pass")(semMismatches(semDedup(spark.read.parquet(embPath))))
      }
    } finally spark.catalog.clearCache()
  }

  private def readBack(ctx: Ctx, out: String): Seq[Row] =
    ctx.spark.read.parquet(out).orderBy(col("seq_id")).collect().toSeq

  def warmAndCheck(ctx: Ctx): Unit = ctx.asOp("pass") {
    val out = dir.resolve("check_out").toString
    val sem = pass(ctx, out)
    ctx.check("curate SemDeDup keeps exactly the non-clones")(sem == 0)
    reference = readBack(ctx, out)
    ctx.check("curate packed sequences non-empty")(reference.nonEmpty)
    // the DuckDB oracle runs after the JVM exits (run.py), over the
    // same documents file
    ctx.rec.value("oracle", Map(
      "sql" -> graft.queries.ScaleOpsQueries.oracleSql("q_pretrain_pipeline"),
      "documents" -> docsPath, "result" -> out))
  }

  def measure(ctx: Ctx, deadlineNs: Long): Unit = {
    var k = 0
    val out = dir.resolve("pass_out").toString
    while (System.nanoTime() < deadlineNs || k < 1) {
      val traced = ctx.args.trace && k % 2 == 1
      ctx.tracer.withRecording(traced) {
        val t0 = System.nanoTime()
        ctx.asOp("pass")(ctx.attempt("curate pass")(pass(ctx, out))).foreach { sem =>
          val passS = (System.nanoTime() - t0) / 1e9
          ctx.check("curate SemDeDup keeps exactly the non-clones")(sem == 0)
          ctx.rec.sample(if (traced) "pass_s_traced" else "pass_s", passS)
          if (!traced) {
            ctx.rec.sample("commit_s", passS)
            ctx.rec.sample("docs_per_s", nDocs / passS)
          }
          // the read of the committed sequences is the pass's query,
          // and its rows must equal the oracle-checked first pass
          val q0 = System.nanoTime()
          val rows = ctx.asOp("query")(ctx.tracer.span("ext.read_back")(readBack(ctx, out)))
          ctx.rec.sample(if (traced) "query_s_traced" else "query_s", (System.nanoTime() - q0) / 1e9)
          ctx.check("curate packed sequences equal the oracle-checked pass")(rows == reference)
        }
      }
      k += 1
    }
  }

  def finalCheck(ctx: Ctx): Unit = ()

  /** Each ext stage's public call on cached input (the previous stage's
    * output persisted and counted first), then the codegen'd functions
    * on the corpus text, then the extractors on seeded documents. */
  def probeLayers(ctx: Ctx): Unit = {
    probeExt(ctx)
    Probes.functionsLayer(ctx, ctx.spark.read.parquet(docsPath).select(col("doc_id"), col("text")))
    Probes.extractLayer(ctx, Probes.probeDocs(ctx.seed * 100000L, 20), reps = 3)
  }

  /** The ext stages alone, after [[setup]]; docs_flow's traced run uses
    * it too, so the curation operators are traced on a workload that
    * BENCHMARK.json lists. */
  def probeExt(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val spark = ctx.spark
    CacheScope.withScope {
      val docs = spark.read.parquet(docsPath).persist()
      docs.count()
      val stage: (String, DataFrame) => DataFrame = (name, df) => {
        val cached = df.persist()
        var n = 0L
        t.set(s"ext.${name}_s", ctx.seconds { n = t.span(s"ext.$name")(cached.count()) })
        name match {
          case "encode" => t.set("ext.encode.tokens", n.toDouble)
          case "pack" => t.set("ext.pack.seqs", n.toDouble)
          case _ => t.set(s"ext.$name.rows_out", n.toDouble)
        }
        cached
      }
      chain(docs, stage).collect()
      val emb = spark.read.parquet(embPath).persist()
      emb.count()
      val verdicts = semDedup(emb)
      var kept = 0L
      t.set("ext.semdedup_s", ctx.seconds {
        kept = t.span("ext.semdedup")(verdicts.filter(col("kept")).count())
      })
      t.set("ext.semdedup.kept", kept.toDouble)
    }
    spark.catalog.clearCache()
  }
}
