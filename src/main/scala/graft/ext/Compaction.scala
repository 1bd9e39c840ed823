package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file COMPACTION for the append-only ingest stores.
  *
  * Every streaming maintainer in this engine appends per-batch parquet
  * ([[Bm25.ingestIntoIndex]], [[CountMin.ingestIntoStore]],
  * [[Attributes.ingestIntoAttributes]], [[Ivf.ingestIntoIndex]],
  * [[KMeans.ingestIntoShards]]) — correct and crash-safe, but at one
  * batch per minute a store degrades into a small-file scan problem
  * within days: file-open overhead dwarfs row bytes, and the token/cell
  * clustering the serving scans prune on fragments across thousands of
  * tiny files. Compaction is the missing rewrite step, and it is a
  * [[GenerationStore]] publish: read the current generation (base +
  * committed staged batches), rewrite it in the SAME layout the initial
  * build produces (so a compacted store is indistinguishable from a
  * fresh full build), and commit it as a new generation through the
  * atomic manifest entry. Nothing is renamed or deleted — readers that
  * resolved the superseded generation finish on it, and
  * [[GenerationStore.gc]] removes it once its age gate passes. The
  * price is space: the superseded generation stays on disk until then.
  *
  * Output sizing: `ceil(storeBytes / TargetFileBytes)` files (≥ 1), so
  * a compacted 100 TB store still writes maxPartitionBytes-sized files
  * while the test-scale stores collapse to one — the same knob either
  * way. Serving output is bit-identical before and after by
  * construction: every rewrite is a row-preserving relayout (or, for
  * the count-min store, the mergeability fold [[CountMin.storeSketch]]
  * already applies at read time).
  */
object Compaction {

  /** Bytes per compacted file — Spark's default
    * `files.maxPartitionBytes`, so a compacted store re-reads at one
    * scan partition per file. */
  val TargetFileBytes: Long = 128L * 1024 * 1024

  private def fsFor(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Data files under `dir`, recursively (the store-health number a
    * compaction must provably reduce). */
  def parquetFileCount(spark: SparkSession, dir: String): Long = {
    val (fs, p) = fsFor(spark, dir)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
  }

  /** ceil(total bytes under `paths` / [[TargetFileBytes]]), ≥ 1, over
    * a multi-path store (base generation + staged batches) — the
    * single sizing-policy definition. */
  private def targetPartsFor(spark: SparkSession, paths: Seq[String]): Int = {
    val bytes = paths.map { d =>
      val (fs, p) = fsFor(spark, d)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
    math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes).toInt
  }

  /** [[targetPartsFor]]'s sizing policy from a RELATION's plan-stats
    * estimate — for the build/ingest store WRITERS, whose input is a
    * DataFrame rather than an already-on-disk store. Every call site
    * passes a scan-backed relation, where the estimate is the source's
    * file bytes (accurate). A key-only `repartition(col)` at those
    * sites ran at the session shuffle width however small the relation
    * — at the bench's 32 that was 32 write tasks × parquet-writer
    * setup for KB-sized stores, and at 100 TB the session width would
    * UNDERSIZE the write (32 multi-TB files) — while
    * ceil(bytes / [[TargetFileBytes]]) sizes output files to the scan
    * split either way (guide §6). Capped at 2²⁰ as a backstop against
    * a pathological estimate. */
  private[ext] def writerWidth(df: org.apache.spark.sql.DataFrame): Int = {
    val spark = df.sparkSession
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // A non-scan-backed relation has NO real size estimate: Spark
    // falls back to spark.sql.defaultSizeInBytes (Long.MaxValue by
    // default) for LogicalRDD-backed plans, and join estimates multiply
    // child sizes toward it. Unclamped, that would explode the width
    // into the 2^20 backstop — 1M writer tasks/files from one bogus
    // estimate (ADVICE r19). Detect the sentinel and fall back to the
    // session shuffle width (the deployment's scale knob), keeping the
    // size-derived width only when the estimate is a real one.
    // a typed read: the bytes conf accepts unit strings such as "10g"
    if (bytes >= BigInt(spark.sessionState.conf.defaultSizeInBytes))
      spark.conf.get("spark.sql.shuffle.partitions").toInt.max(1)
    else {
      val t = BigInt(TargetFileBytes)
      ((bytes + t - 1) / t).max(1).min(1 << 20).toInt
    }
  }

  /** The layout of a token-clustered BM25 store write of `width`
    * files: [[Bm25.ingestIntoIndex]]'s staged batch and [[foldBm25]]'s
    * folded relations. At width 1 the write's input is read through
    * `coalesce(1)`, so every group-by, distinct, window and aggregate
    * over it runs in that one task and plans no exchange, and its tf
    * rows are already in their one file's partition. Wider, the input
    * keeps its partitioning and `byTok` hashes tf rows into `width`
    * token partitions. [[Bm25.ensureIndex]] does not use it: its input
    * is a whole corpus, whose tokenize stays spread over the scan's
    * tasks whatever the output width. */
  private[ext] final case class TokWrite(width: Int) {
    def input(df: DataFrame): DataFrame =
      if (width == 1) df.coalesce(1) else df
    def byTok(df: DataFrame): DataFrame =
      if (width == 1) df else df.repartition(width, col("tok"))
  }

  /** The one compaction shape: resolve the current generation of
    * `root`, `fold` it (source dir, fresh output dir) into a new
    * generation, and commit that via the manifest. Folds read their
    * source eagerly (parquet writes), and the source generation is
    * immutable, so readers holding it are unaffected. Returns the new
    * generation's data dir. */
  private def publishFold(spark: SparkSession, root: String)
                         (fold: (String, String) => Unit): String = {
    val cur = GenerationStore.currentGenDir(spark, root).getOrElse(
      sys.error(s"compaction: no committed generation under $root"))
    GenerationStore.publish(spark, root)(fold(cur, _))
  }

  /** Fold the count-min store (compacted `base/` + committed staged
    * batches, ≤ Depth·Width rows per batch) back to ONE sketch under
    * `base/` — the mergeability identity [[CountMin.storeSketch]]
    * applies at every read, made physical. ≤ Depth·Width rows total,
    * one file. */
  private def foldCms(spark: SparkSession, srcDir: String,
                      outDir: String): Unit =
    CountMin.storeSketch(spark, srcDir)
      .repartition(1).sortWithinPartitions(col("r"), col("b"))
      .write.parquet(s"$outDir/base")

  /** Count-min compaction: fold the current generation's base +
    * committed staged batches into one base sketch in a fresh
    * generation. Returns the new generation's data dir. */
  def compactCmsToGeneration(spark: SparkSession, root: String): String =
    publishFold(spark, root)(foldCms(spark, _, _))

  /** Fold `srcDir`'s base generation + committed staged batches
    * ([[Bm25.ingestIntoIndex]]'s layout) into the single-generation
    * layout [[Bm25.ensureIndex]] produces, at `outDir`: `tf/`
    * token-clustered and sorted within partitions ([[Bm25]] scaladoc's
    * pruning contract), sized to [[TargetFileBytes]]; `df/`/`stats/`
    * folded to single relations (the same per-token / per-column sum
    * serving applies, materialized so reads stop paying it).
    * Uncommitted batch debris from crashed ingests is never folded. */
  private def foldBm25(spark: SparkSession, srcDir: String,
                       outDir: String): Unit = {
    // one listing: the three folds cover exactly the same batches
    val snap = Bm25.snapshot(spark, srcDir)
    val tf = TokWrite(targetPartsFor(spark, snap.paths("tf")))
    val df = TokWrite(targetPartsFor(spark, snap.paths("df")))
    // the three folds read disjoint source relations and write disjoint
    // output dirs — overlap them (guide §2.6); the manifest commit
    // stays strictly after all three
    ParJobs.run(
      () => tf.byTok(tf.input(snap.tf(spark)))
        .sortWithinPartitions(col("tok"), col("doc_id"))
        .write.parquet(s"$outDir/tf"),
      () => df.byTok(df.input(snap.df(spark))
          .groupBy(col("tok")).agg(sum(col("df")).as("df")))
        .sortWithinPartitions(col("tok"))
        .write.parquet(s"$outDir/df"),
      () => snap.stats(spark).coalesce(1)
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot_dl")).as("tot_dl"))
        .write.parquet(s"$outDir/stats"))
  }

  /** BM25 compaction: fold the CURRENT generation (base + its
    * committed staged batches) into a fresh generation. The superseded
    * generation keeps serving every reader that resolved it until
    * [[GenerationStore.gc]]'s age gate passes. Returns the new
    * generation's data dir. */
  def compactBm25ToGeneration(spark: SparkSession, root: String): String =
    publishFold(spark, root)(foldBm25(spark, _, _))

  /** Fold a doc_id-range-clustered relation store (the Dolma attrs /
    * span layout): base + every COMMITTED staged batch rewritten
    * doc_id-range-clustered into `outDir/<sub>` — per-batch appends
    * are each sorted internally, but id ranges overlap across batches,
    * defeating row-group pruning on id probes; the fold restores it
    * corpus-wide. */
  private def foldRangeStore(spark: SparkSession, srcDir: String,
                             outDir: String, sub: String,
                             sortCols: Seq[String]): Unit = {
    val paths = StagedBatches.storePaths(spark, srcDir, sub)
    val n = targetPartsFor(spark, paths)
    spark.read.parquet(paths: _*)
      .repartitionByRange(n, col("doc_id"))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.parquet(s"$outDir/$sub")
  }

  /** Dolma-attributes compaction (the attribute-serving tier —
    * long-running mix consumers): fold the current generation's base +
    * committed staged ingest batches into a fresh generation. Returns
    * the new generation's data dir. */
  def compactAttrsToGeneration(spark: SparkSession, root: String): String =
    publishFold(spark, root)(
      foldRangeStore(spark, _, _, "attrs", Seq("doc_id")))

  /** [[compactAttrsToGeneration]] for the span store — the tier a
    * Dolma-style span consumer (a long-running excision mix) reads
    * while the maintainer keeps ingesting. */
  def compactSpansToGeneration(spark: SparkSession, root: String): String =
    publishFold(spark, root)(
      foldRangeStore(spark, _, _, "spans", Seq("doc_id", "tag", "start")))

  /** Fold `srcDir`'s IVF index into `outDir`: frozen model tables
    * (centroids, pqbooks, …) byte-copied verbatim — centroids drift
    * only at a full rebuild, which is just another publish — and base
    * corpus + every COMMITTED staged batch ([[Ivf.ingestIntoIndex]]'s
    * layout) clustered back to the [[Ivf.buildIndex]] file-per-cell
    * layout sized to [[TargetFileBytes]]: one shuffle clusters by
    * cell, `partitionBy` restores the locality the DPP-pruned probes
    * scan. Uncommitted batch debris is simply not folded. */
  private def foldIvf(spark: SparkSession, srcDir: String,
                      outDir: String): Unit = {
    val (fs, src) = fsFor(spark, srcDir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(outDir))
    fs.listStatus(src).filter(_.isDirectory).map(_.getPath)
      .filterNot(p => p.getName == "corpus" || p.getName == "batches")
      .foreach { p =>
        // bounded model metadata — byte-copy keeps cached models and
        // content signatures valid across the fold
        org.apache.hadoop.fs.FileUtil.copy(fs, p, fs,
          new org.apache.hadoop.fs.Path(s"$outDir/${p.getName}"),
          false, spark.sparkContext.hadoopConfiguration)
        ()
      }
    val n = targetPartsFor(spark, Ivf.corpusPaths(spark, srcDir))
    Ivf.readCorpus(spark, srcDir)
      .repartition(n, col("cell"))
      .write.partitionBy("cell").parquet(s"$outDir/corpus")
  }

  /** IVF compaction (the ANN serving tier): the frozen centroid model
    * rides along and the cell-partitioned corpus folds into a fresh
    * generation. Returns the new generation's data dir. */
  def compactIvfToGeneration(spark: SparkSession, root: String): String =
    publishFold(spark, root)(foldIvf(spark, _, _))

  /** The one k-means-shard fold definition: base + committed staged
    * batches clustered back to [[TargetFileBytes]]-sized file-per-
    * cluster locality under `base/` — per-batch staging leaves one
    * small file per cluster per batch ([[foldIvf]]'s rationale on the
    * topic-shard store). */
  private def foldKmeans(spark: SparkSession, srcDir: String,
                         outDir: String): Unit = {
    val n = targetPartsFor(spark, KMeans.shardPaths(spark, srcDir))
    KMeans.readShards(spark, srcDir)
      .repartition(n, col("cluster"))
      .write.partitionBy("cluster").parquet(s"$outDir/base")
  }

  /** K-means shard-store compaction. Returns the new generation's data
    * dir. */
  def compactKmeansToGeneration(spark: SparkSession, root: String): String =
    publishFold(spark, root)(foldKmeans(spark, _, _))

  /** Retention for the streaming near-dup band store
    * ([[graft.streaming.StreamPipeline.incrementalNearDups]] with a
    * time column): delete every `batch_<id>` dir whose NEWEST signature
    * is older than `minTs`. The store is already one independent,
    * overwrite-keyed dir per micro-batch, so retention is a whole-dir
    * delete — nothing is rewritten. The bound is per batch: a batch
    * that straddles `minTs` stays until its newest row ages out, and
    * until then the ingest's pair-time ttl filter still excludes its
    * aged rows. With both, the steady-state store is bounded by the
    * window's document arrival volume (plus one straddling batch), not
    * corpus history. Run it between batches. */
  def pruneBandStore(spark: SparkSession, dir: String, minTs: Long): Unit = {
    val store = spark.read.option("recursiveFileLookup", "true").parquet(dir)
    // fail with intent, not an analysis error: a band store built
    // without tsCol has no ts column and cannot be age-pruned
    if (!store.columns.contains("ts")) sys.error(
      s"pruneBandStore: band store at $dir has no ts column — it was " +
      "built without retention (incrementalNearDups tsCol); rebuild the " +
      "store with a time column to enable pruning")
    val (fs, root) = fsFor(spark, dir)
    // one job: the newest ts of every batch dir, keyed by its name
    store
      .groupBy(regexp_extract(col("_metadata.file_path"), "/(batch_[0-9]+)/", 1)
        .as("batch"))
      .agg(max(col("ts")).as("newest"))
      .filter(col("batch") =!= "" && col("newest") < minTs)
      .collect()
      .foreach(r => fs.delete(new org.apache.hadoop.fs.Path(root, r.getString(0)), true))
  }
}
