package graft

import org.apache.spark.sql.functions._

/** Deterministic ~10× scale-up of an existing testdata dir — the
  * scale-ladder corpus generator (VERDICT r15 top-next): replicate
  * each synthetic table `factor`× with doc-keyed perturbation so the
  * ladder measures REAL growth, not page-cache replays of identical
  * bytes:
  *
  *  - `documents`: replica r of a document keeps its language/source
  *    strata but gets a fresh id (`doc_id·factor + r`) and, for r > 0,
  *    one appended tail word drawn from a bounded synthetic pool
  *    (`wr<r>q<doc_id mod 1000>`) — vocabulary then grows sublinearly
  *    with corpus size (the Heaps-law shape a real 10× crawl shows,
  *    ~9k novel types over 10× the tokens) while exact-duplicate
  *    detection still sees every replica as distinct. The alphabet
  *    stays inside the corpus' own [a-z0-9] (the measured-property
  *    gates: no '#', no markup, single-spaced).
  *  - `embeddings`: replica vectors get a deterministic per-dimension
  *    perturbation of ±≤0.001 (hash-derived, far below the measured
  *    0.4+ cosine margins) so ANN bucketing sees 10× distinct points,
  *    not 10 copies of each.
  *  - `events`: replicas shift by r microseconds and take fresh
  *    user/event ids — KEY CARDINALITY grows with the corpus (a window
  *    keyed on users must pay real growth, the exact superlinear term
  *    the ladder exists to expose).
  *
  * Everything is derived from (id, r) — no RNG state, bit-identical
  * on every run. Usage:
  * `runMain graft.SynthScale <srcSfDir> <outDir> [factor] [tables]`
  * where `tables` is an optional comma list (documents,embeddings,
  * events,relational) for single-table ladder corpora — the extreme-k
  * SemDeDup rung needs only a 2M-row embeddings relation, not the
  * full sf100 document text riding along.
  */
object SynthScale {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir) = args.take(2)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 1, s"factor must be >= 1: $factor")
    val tables: Set[String] = args.lift(3)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set("documents", "embeddings", "events", "relational"))
    val known = Set("documents", "embeddings", "events", "relational")
    require(tables.subsetOf(known),
      s"unknown tables: ${(tables -- known).mkString(", ")}")
    val spark = GraftSession.local(GraftSession.cores)
    spark.sparkContext.setLogLevel("WARN")

    val reps = spark.range(0, factor).select(col("id").as("__r"))

    // documents: fresh ids, per-replica tail word from a 1000-per-rep
    // pool, n_chars kept consistent with the perturbed text
    if (tables("documents")) {
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      .crossJoin(broadcast(reps))
      .select(
        (col("doc_id") * factor + col("__r")).as("doc_id"),
        when(col("__r") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" wr"),
            col("__r").cast("string"), lit("q"),
            pmod(col("doc_id"), lit(1000)).cast("string"))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    }

    // embeddings: deterministic ±1e-3 per-dimension nudge for r > 0
    if (tables("embeddings")) {
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .crossJoin(broadcast(reps))
      .select(
        (col("vec_id") * factor + col("__r")).as("vec_id"),
        when(col("__r") === 0, col("embedding"))
          .otherwise(zip_with(col("embedding"),
            transform(sequence(lit(0), size(col("embedding")) - 1), i =>
              ((pmod(xxhash64(col("vec_id"), col("__r"), i), lit(2001)) -
                1000).cast("float") / 1000000.0f)),
            (v, d) => v + d)).as("embedding"),
        col("label"))
    emb.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    }

    // events: fresh event/user ids, +r µs — key cardinality scales
    // ts has appeared as TIMESTAMP(NANOS) (read as long under
    // nanosAsLong) and as TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ)
    // across testdata generations — shift either form by r µs,
    // preserving the source column type
    if (tables("events")) {
    val ev0 = spark.read.parquet(s"$srcDir/events.parquet")
    val tsShift =
      if (ev0.schema("ts").dataType ==
          org.apache.spark.sql.types.LongType)
        col("ts") + col("__r") * 1000L // nanos long: r µs = 1000·r ns
      else
        timestamp_micros(unix_micros(col("ts").cast("timestamp"))
          + col("__r")).cast(ev0.schema("ts").dataType)
    val ev = ev0
      .crossJoin(broadcast(reps))
      .select(
        (col("event_id") * factor + col("__r")).as("event_id"),
        tsShift.as("ts"),
        (col("user_id") * factor + col("__r")).as("user_id"),
        col("event_type"), col("value"), col("props"))
    ev.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")
    }

    // relational tables ride along VERBATIM so every query still
    // resolves its inputs; the ladder's slope table only reads the
    // queries over the scaled synthetic tables
    if (tables("relational"))
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

    def cnt(t: String, flag: String): Long =
      if (tables(flag)) spark.read.parquet(s"$outDir/$t.parquet").count()
      else -1L
    val nd = cnt("documents", "documents")
    val ne = cnt("embeddings", "embeddings")
    val nv = cnt("events", "events")
    // the one-line summary the ladder scripts scan for (-1 = skipped)
    println(s"""{"synth_scale":{"factor":$factor,"documents":$nd,"embeddings":$ne,"events":$nv,"out":"$outDir"}}""")
    spark.stop()
  }
}
