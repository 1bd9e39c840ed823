package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Okapi BM25 retrieval over a BUILD-ONCE on-disk inverted index — the
  * [[Ivf]] train-once / probe-many pattern applied to lexical search.
  *
  * The inline form of this query recomputed the (doc, term, tf)
  * aggregation in every branch that consumed it (tf, df, the query
  * term set) — ~4 full corpus scans per invocation, which is the wrong
  * shape at 100 TB where the tokenize+aggregate pass IS the cost. Here
  * the index persists once per corpus (content-signature keyed,
  * `_BUILT`-guarded, stale siblings GC'd — all exactly as the IVF
  * index) and every probe reads only:
  *  - `tf/`: (tok, doc_id, tf, dl) REPARTITIONED BY tok and sorted
  *    within partitions — each parquet file covers a token range, so a
  *    probe's query-term join prunes most files at the scan via
  *    row-group min/max on `tok`;
  *  - `df/`: (tok, df), same layout;
  *  - `stats/`: the 1-row (n_docs, tot_dl).
  *
  * Scoring follows the repo's cross-engine discipline: per-term
  * contributions rounded to 6 decimals and summed as exact decimals,
  * terminal score through the floor contract. Constants are written as
  * source literals (2.2, 1.2, 0.25, 0.75) on BOTH engines — deriving
  * 1+k1 at runtime could differ from the parsed literal by an ulp.
  */
object Bm25 {

  /** Deterministic index location: corpus path + content signature
    * (a regenerated corpus keys to a NEW dir, never a stale reuse). */
  def indexDirFor(corpusDir: String,
                  root: String = sys.props("java.io.tmpdir")): String =
    s"$root/${Ivf.indexPrefix("graft_bm25_v1", corpusDir)}_${Ivf.md5hex(Ivf.contentSig(corpusDir), 8)}"

  /** Build the inverted index on disk; `_BUILT`-guarded no-op when
    * it already exists. One tokenize pass feeds both aggregates; df
    * derives from the WRITTEN tf relation (no second corpus scan).
    *
    * SINGLE-WRITER assumption (like the IVF precedent): there is no
    * lock between the `_BUILT` probe, the sibling GC, and the build —
    * two drivers building concurrently can overwrite each other's
    * partial output, and the GC can delete a stale-signature sibling
    * out from under a reader still probing it. Correct for this
    * harness (one driver owns the corpus) and for any deployment where
    * index builds are serialized by an external scheduler; a
    * multi-writer serving tier builds inside a
    * [[GenerationStore.publish]] instead. */
  def ensureIndex(docs: DataFrame, idCol: String, textCol: String,
                  dir: String): Unit =
    ArtifactDir.ensure(docs.sparkSession, dir,
      "^(graft_bm25_v1_[0-9a-f]+_).*".r) {
      writeTf(docs, idCol, textCol, dir, mode = "overwrite")
      deriveFromTf(docs.sparkSession, dir)
    }

  /** Tokenize `docs` and write their (tok, doc_id, tf, dl) rows into
    * the token-partitioned tf store — `overwrite` for the initial
    * build, `append` for streaming maintenance. */
  private def writeTf(docs: DataFrame, idCol: String, textCol: String,
                      dir: String, mode: String): Unit = {
    val toks = TextStats.tokenRows(docs, idCol, textCol)
      .withColumnRenamed(idCol, "doc_id")
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    tf.join(dl, Seq("doc_id"))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
      // write width sized from the SOURCE corpus bytes (the compaction
      // fold's TargetFileBytes policy), not the session shuffle width
      .repartition(Compaction.writerWidth(docs), col("tok"))
      .sortWithinPartitions(col("tok"), col("doc_id"))
      .write.mode(mode).parquet(s"$dir/tf")
  }

  /** Re-derive df/ and stats/ from the WRITTEN tf relation (distinct
    * per doc for dl) — never from the corpus: the derived relations
    * must agree with tf/ forever, and the re-derivation cost is
    * bounded by index cardinality (posting rows), not corpus size.
    * Shared by the initial build and streaming maintenance. */
  private def deriveFromTf(spark: SparkSession, dir: String): Unit = {
    val tfIdx = spark.read.parquet(s"$dir/tf")
    // df/ and stats/ both derive from the WRITTEN tf relation and are
    // independent of each other — overlap the two jobs (guide §2.6)
    ParJobs.run(
      () => tfIdx.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        // df ≤ tf bytes; size its write by the written tf store
        .repartition(Compaction.writerWidth(tfIdx), col("tok"))
        .sortWithinPartitions(col("tok"))
        .write.mode("overwrite").parquet(s"$dir/df"),
      () => tfIdx.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
        .write.mode("overwrite").parquet(s"$dir/stats"))
  }

  /** Committed staged-batch dirs under `dir/batches`, sorted for
    * deterministic path lists. Streaming ingest stages each batch
    * under `batches/<id>/{tf,df,stats}` and commits it by creating a
    * `_COMMITTED` marker — a single atomic file create — so serving
    * sees a batch entirely or not at all (see [[ingestIntoIndex]]).
    * Driver-side listing, bounded by batches since the last
    * compaction ([[graft.streaming.StreamPipeline.bm25IngestGen]]'s
    * `autoCompactEvery` bounds that). */
  def committedBatchDirs(spark: SparkSession, dir: String): Seq[String] =
    StagedBatches.committedDirs(spark, dir)

  /** The `sub` store's read paths: base generation + every COMMITTED
    * staged batch. */
  def storePaths(spark: SparkSession, dir: String, sub: String): Seq[String] =
    StagedBatches.storePaths(spark, dir, sub)

  /** Streaming index maintenance (the Ivf.ingestIntoIndex pattern for
    * lexical search): STAGE one micro-batch of new documents' tf rows
    * plus the batch's df and stats DELTAS under a fresh
    * `batches/<id>/` dir, then COMMIT the whole batch atomically with
    * a `_COMMITTED` marker (one file create) — `df/` deltas hold
    * (tok, df) increments whose per-token SUM is the document
    * frequency, `stats/` holds (n_docs, tot_dl) increments whose
    * column sums are the corpus stats (the [[CountMin]] append-only
    * store discipline: counters of independent batches sum). Per batch
    * the cost is ONE tokenize pass over the BATCH plus batch-bounded
    * writes — never an index rescan. A crash ANYWHERE before the
    * marker leaves an uncommitted dir that serving ignores and
    * compaction never folds: the three stores can never disagree
    * about which batches they contain (the earlier three-append form
    * had a window where tf carried a batch whose df/stats increments
    * were lost, silently skewing every score). Serving folds the
    * committed deltas ([[topK]]'s per-token sum);
    * [[Compaction.compactBm25ToGeneration]] folds base + batches into
    * a new generation, committed by one manifest entry. The fold is exact,
    * not approximate — batch ids are new (the caller's contract), so
    * delta sums equal re-derivation, which the driver oracle pins.
    * Redelivery dedup is the caller's contract (exactly-once file
    * sources here). Single-writer, like [[ensureIndex]]. */
  def ingestIntoIndex(spark: SparkSession, dir: String, batch: DataFrame,
                      idCol: String, textCol: String): Unit = {
    val batchDir = StagedBatches.freshBatchDir(dir)
    // one tokenize pass serves the tf write AND both delta writes
    val toks = TextStats.tokenRows(batch, idCol, textCol)
      .withColumnRenamed(idCol, "doc_id")
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tfdl = tf.join(dl, Seq("doc_id"))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl")).persist()
    try {
      // the three staged sub-writes all read the persisted tfdl and
      // write disjoint dirs — overlap them (guide §2.6); the commit
      // marker stays strictly after the join, so the atomicity
      // contract is unchanged
      ParJobs.run(
        () => tfdl.repartition(Compaction.writerWidth(batch), col("tok"))
          .sortWithinPartitions(col("tok"), col("doc_id"))
          .write.parquet(s"$batchDir/tf"),
        // one delta file per batch, not one per shuffle partition: the
        // batch vocabulary is small, and serving's fold pays per FILE
        () => tfdl.groupBy(col("tok")).agg(count(lit(1)).as("df"))
          .coalesce(1).sortWithinPartitions(col("tok"))
          .write.parquet(s"$batchDir/df"),
        // distinct (doc_id, dl) == one row per batch doc with ≥1 token —
        // the same n_docs semantics the initial derivation has; the
        // tot_dl coalesce covers an all-empty batch (sum of nothing)
        () => tfdl.select(col("doc_id"), col("dl")).distinct()
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("dl")), lit(0L)).as("tot_dl"))
          .write.parquet(s"$batchDir/stats"))
      // the commit point: everything above is invisible until this
      // single atomic create succeeds
      StagedBatches.commit(spark, batchDir)
    } finally { tfdl.unpersist(); () }
  }

  /** Top-k BM25 per query from the persisted index. `queryTerms` is
    * the small (qid, tok) relation — broadcast after its df join; the
    * tf scan is pruned to files whose token range intersects it. */
  def topK(spark: SparkSession, dir: String, queryTerms: DataFrame,
           k: Int): DataFrame = {
    val tf = spark.read.parquet(storePaths(spark, dir, "tf"): _*)
    // df/stats carry one DELTA generation per committed staged batch
    // (see [[ingestIntoIndex]]): fold to current values — a
    // |vocab|-bounded aggregation (identity on a freshly-built or
    // compacted index)
    val dfr = spark.read.parquet(storePaths(spark, dir, "df"): _*)
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))
    val stats = spark.read.parquet(storePaths(spark, dir, "stats"): _*)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot_dl")).as("tot_dl"))
    val qdf = queryTerms.join(dfr, Seq("tok"))
    val cand = tf.join(broadcast(qdf), Seq("tok"))
      .filter(col("doc_id") =!= col("qid"))
      .crossJoin(broadcast(stats))
    val nd = col("n_docs").cast("double")
    val avgdl = col("tot_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) + (nd - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfn = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    val scored = cand
      .select(col("qid"), col("doc_id"),
        round(idf * tfn, 6).cast("decimal(14,6)").as("c6"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_match"),
        (floor(sum(col("c6")).cast("double") * 1e4 + 0.5) / 1e4).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id"), col("n_match"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }
}
