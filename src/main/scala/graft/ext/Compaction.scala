package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file COMPACTION for the append-only ingest stores.
  *
  * Every streaming maintainer in this engine appends per-batch parquet
  * ([[Bm25.ingestIntoIndex]], [[CountMin.ingestIntoStore]],
  * [[Attributes.ingestIntoAttributes]], [[Ivf.ingestIntoIndex]], the
  * near-dup band store) — correct and crash-safe, but at one batch per
  * minute a store degrades into a small-file scan problem within days:
  * file-open overhead dwarfs row bytes, and the token/cell clustering
  * the serving scans prune on fragments across thousands of tiny
  * files. Compaction is the missing rewrite step: read the store,
  * rewrite it in the SAME layout the initial build produces (so a
  * compacted store is indistinguishable from a fresh full build), and
  * swap it in atomically.
  *
  * Swap protocol (single-writer, per the [[ArtifactDir]] contract):
  * the replacement is fully materialized under `<dir>.compact_tmp`,
  * then two renames — `dir` → `<dir>.compact_old`, tmp → `dir` — and
  * the old data is deleted last. Each rename is atomic on a
  * POSIX/HDFS filesystem; a crash between them leaves the complete
  * old store under `.compact_old` and the complete new store under
  * `dir` or `.compact_tmp`, never a half-written mix. Within this
  * engine's single-writer serving tier the swap is safe to run
  * between any two batches; deployments with CONCURRENT writers or
  * long-running readers should use [[GenerationStore]] instead — the
  * manifest/age-gated-GC protocol this scaladoc used to prescribe,
  * now implemented: compaction there is just another published
  * generation and superseded data outlives in-flight readers.
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

  /** ceil(total store bytes / [[TargetFileBytes]]), ≥ 1. */
  private def targetParts(spark: SparkSession, dir: String): Int =
    targetPartsFor(spark, Seq(dir))

  /** [[targetParts]] summed over a multi-path store (base generation +
    * staged batches) — the single sizing-policy definition. */
  private[ext] def targetPartsFor(spark: SparkSession, paths: Seq[String]): Int = {
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
    // estimate (ADVICE r19). Mirror batchWidth's discipline: detect
    // the sentinel and fall back to the session shuffle width (the
    // deployment's scale knob), keeping the size-derived width only
    // when the estimate is a real one.
    // a typed read: the bytes conf accepts unit strings such as "10g"
    if (bytes >= BigInt(spark.sessionState.conf.defaultSizeInBytes))
      spark.conf.get("spark.sql.shuffle.partitions").toInt.max(1)
    else {
      val t = BigInt(TargetFileBytes)
      ((bytes + t - 1) / t).max(1).min(1 << 20).toInt
    }
  }

  /** Stage the replacement of `dir` under `<dir>.compact_tmp` (the
    * `build` callback must fully materialize it there — a parquet
    * write does), then swap via two atomic renames and delete the old
    * data last. */
  private[ext] def swapIn(spark: SparkSession, dir: String)(build: String => Unit): Unit = {
    val (fs, dirPath) = fsFor(spark, dir)
    val tmp = new org.apache.hadoop.fs.Path(dir + ".compact_tmp")
    val old = new org.apache.hadoop.fs.Path(dir + ".compact_old")
    // RECOVER before clearing debris. A crash between the two renames
    // of a prior attempt leaves `dir` ABSENT with the complete old
    // store under `.compact_old` (and the complete new store under
    // `.compact_tmp` — build materializes it fully before any rename).
    // Those are then the ONLY copies: deleting them as "debris" would
    // be permanent data loss. Roll BACK (restore the old store) rather
    // than forward — conservative, and this run re-compacts anyway.
    if (!fs.exists(dirPath)) {
      if (fs.exists(old)) {
        if (!fs.rename(old, dirPath))
          sys.error(s"compaction recovery: rename $old -> $dirPath failed")
      } else sys.error(
        s"compaction: store $dirPath is missing and no .compact_old backup " +
        "exists — refusing to proceed (nothing to compact, nothing to recover)")
    }
    // dir is now intact (we delete it only after both renames), so any
    // remaining tmp/old from a crashed attempt is redundant debris
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    build(tmp.toString)
    if (!fs.rename(dirPath, old))
      sys.error(s"compaction swap: rename $dirPath -> $old failed")
    if (!fs.rename(tmp, dirPath)) {
      // roll back so the store is never left missing; a failed rollback
      // must be loud — the old store survives under .compact_old and
      // the recovery path above restores it on the next attempt
      if (!fs.rename(old, dirPath))
        sys.error(s"compaction swap: rename $tmp -> $dirPath failed AND " +
          s"rollback $old -> $dirPath failed — old store preserved at $old; " +
          "re-running compaction will restore it")
      sys.error(s"compaction swap: rename $tmp -> $dirPath failed (rolled back)")
    }
    fs.delete(old, true)
    ()
  }

  /** Fold the count-min store (compacted `base/` + committed staged
    * batches, ≤ Depth·Width rows per batch) back to ONE sketch under
    * `base/` — the mergeability identity [[CountMin.storeSketch]]
    * applies at every read, made physical. ≤ Depth·Width rows total,
    * one file; the whole-dir swap retires the staged batches
    * atomically with the fold. */
  def compactCmsStore(spark: SparkSession, dir: String): Unit =
    swapIn(spark, dir)(foldCms(spark, dir, _))

  /** The one CMS fold definition, shared by the in-place swap and the
    * generation publish. Reads materialize eagerly (the parquet
    * write), so callers may retire `srcDir` afterwards. */
  private def foldCms(spark: SparkSession, srcDir: String,
                      outDir: String): Unit =
    CountMin.storeSketch(spark, srcDir)
      .repartition(1).sortWithinPartitions(col("r"), col("b"))
      .write.parquet(s"$outDir/base")

  /** Count-min compaction under the [[GenerationStore]] protocol (the
    * [[compactBm25ToGeneration]] shape for the frequency-serving
    * tier): fold the current generation's base + committed staged
    * batches into a fresh generation committed via the atomic manifest
    * entry. Returns the new generation's data dir. */
  def compactCmsToGeneration(spark: SparkSession, root: String): String = {
    val cur = GenerationStore.currentGenDir(spark, root).getOrElse(
      sys.error(s"compactCmsToGeneration: no committed generation under $root"))
    GenerationStore.publish(spark, root)(foldCms(spark, cur, _))
  }

  /** Shared growth trigger for the file-count auto-compaction hooks:
    * fire when the store carries at least `maxFiles` MORE data files
    * than a freshly compacted layout would (`floor`). Comparing
    * against the ABSOLUTE count instead would never clear once the
    * compacted steady state itself reaches maxFiles — a 256-cell IVF
    * corpus under maxFiles=100 would rewrite the whole store on EVERY
    * micro-batch. Growth-above-floor is idempotent: immediately after
    * a compaction the count sits at ≈ floor and the trigger stays
    * quiet until real appends accumulate again.
    *
    * `files`/`floor` are BY-NAME: both cost a recursive file count /
    * content summary over base + every staged batch, and the hooks run
    * per micro-batch — with auto-compaction disabled (maxFiles = 0,
    * the kmeansIngest/attrsIngest default) the trigger must cost
    * nothing, not a driver-side tree walk that grows with store size.
    * Callers keep their own prework (storePaths, cell-dir listings)
    * lazy for the same reason. */
  private def growthTrigger(files: => Long, floor: => Long, maxFiles: Int)
                           (compact: => Unit): Boolean =
    if (maxFiles > 0 && files >= floor + maxFiles) { compact; true }
    else false

  /** Opt-in auto-compaction policy for the count-min ingest path (the
    * [[graft.ext.Bm25.maybeCompact]] analogue): fold to one sketch
    * once the store carries `maxFiles` files above its compacted floor
    * (1 — the fold always lands in a single file). Returns whether a
    * compaction fired, so ingest wrappers and specs can observe the
    * trigger. */
  def maybeCompactCms(spark: SparkSession, dir: String,
                      maxFiles: Int): Boolean =
    growthTrigger(parquetFileCount(spark, dir), 1L, maxFiles) {
      compactCmsStore(spark, dir)
    }

  /** Fold the BM25 index's base generation + every COMMITTED staged
    * batch ([[Bm25.ingestIntoIndex]]'s layout) back into ONE base
    * generation in the initial-build layout: `tf/` token-clustered and
    * sorted within partitions ([[Bm25]] scaladoc's pruning contract),
    * sized to [[TargetFileBytes]]; `df/`/`stats/` folded to single
    * generations (the same per-token / per-column sum serving applies,
    * materialized so reads stop paying it). The WHOLE index dir swaps
    * in one [[swapIn]] — tf/df/stats and the batch-dir removal commit
    * together atomically, so no crash point can leave postings counted
    * twice (folded into base AND still staged) or a store folded ahead
    * of its siblings. Uncommitted batch debris from crashed ingests
    * vanishes with the swap. */
  def compactBm25Index(spark: SparkSession, dir: String): Unit =
    // foldBm25 materializes its reads eagerly inside the build body,
    // which runs BEFORE swapIn's renames touch the source dir
    swapIn(spark, dir)(foldBm25(spark, dir, _))

  /** Fold `srcDir`'s base generation + committed staged batches into
    * the single-generation layout [[Bm25.ensureIndex]] produces, at
    * `outDir` — the one fold definition shared by the in-place
    * [[compactBm25Index]] swap and the [[compactBm25ToGeneration]]
    * publish. Reads are materialized eagerly (the parquet writes), so
    * callers may rename/retire `srcDir` afterwards. */
  private def foldBm25(spark: SparkSession, srcDir: String,
                       outDir: String): Unit = {
    val tfPaths = Bm25.storePaths(spark, srcDir, "tf")
    val dfPaths = Bm25.storePaths(spark, srcDir, "df")
    val stPaths = Bm25.storePaths(spark, srcDir, "stats")
    val n = targetPartsFor(spark, tfPaths)
    val nDf = targetPartsFor(spark, dfPaths)
    // the three folds read disjoint source relations and write disjoint
    // output dirs — overlap them (guide §2.6); the caller's commit
    // (swap rename / manifest entry) stays strictly after all three
    ParJobs.run(
      () => spark.read.parquet(tfPaths: _*)
        .repartition(n, col("tok"))
        .sortWithinPartitions(col("tok"), col("doc_id"))
        .write.parquet(s"$outDir/tf"),
      () => spark.read.parquet(dfPaths: _*)
        .groupBy(col("tok")).agg(sum(col("df")).as("df"))
        .repartition(nDf, col("tok"))
        .sortWithinPartitions(col("tok"))
        .write.parquet(s"$outDir/df"),
      () => spark.read.parquet(stPaths: _*)
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot_dl")).as("tot_dl"))
        .coalesce(1).write.parquet(s"$outDir/stats"))
  }

  /** BM25 compaction under the [[GenerationStore]] protocol — for
    * deployments with concurrent writers or long-running readers,
    * where the in-place [[compactBm25Index]] swap is unsafe: fold the
    * CURRENT generation (base + its committed staged batches) into a
    * fresh generation directory and commit it via the atomic manifest
    * rename. The superseded generation keeps serving every reader that
    * resolved it until [[GenerationStore.gc]]'s age gate passes —
    * nothing is renamed or deleted here. Returns the new generation's
    * data dir. */
  def compactBm25ToGeneration(spark: SparkSession, root: String): String = {
    val cur = GenerationStore.currentGenDir(spark, root).getOrElse(
      sys.error(s"compactBm25ToGeneration: no committed generation under $root"))
    GenerationStore.publish(spark, root)(foldBm25(spark, cur, _))
  }

  /** Fold a doc_id-range-clustered relation store (the Dolma attrs /
    * span layout): base + every COMMITTED staged batch rewritten
    * doc_id-range-clustered into `outDir/<sub>` — per-batch appends
    * are each sorted internally, but id ranges overlap across batches,
    * defeating row-group pruning on id probes; the fold restores it
    * corpus-wide. The one fold definition shared by the in-place swaps
    * and the generation publishes. */
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

  /** Rewrite the Dolma attributes store doc_id-RANGE-clustered,
    * folding committed staged ingest batches back into the base
    * relation. The WHOLE store dir swaps atomically, so the fold and
    * the staged-batch retirement commit together. */
  def compactAttrs(spark: SparkSession, dir: String): Unit =
    swapIn(spark, dir)(
      foldRangeStore(spark, dir, _, "attrs", Seq("doc_id")))

  /** [[compactAttrs]] for the span store's `spans/` relation. */
  def compactSpans(spark: SparkSession, dir: String): Unit =
    swapIn(spark, dir)(
      foldRangeStore(spark, dir, _, "spans", Seq("doc_id", "tag", "start")))

  /** [[maybeCompactCms]]'s growth trigger for the Dolma-attributes
    * store — files counted across base + committed staged batches;
    * floor = the size-based compacted file count ([[targetPartsFor]],
    * what [[compactAttrs]] would write). */
  def maybeCompactAttrs(spark: SparkSession, dir: String,
                        maxFiles: Int): Boolean = {
    lazy val paths = StagedBatches.storePaths(spark, dir, "attrs")
    growthTrigger(paths.map(parquetFileCount(spark, _)).sum,
      targetPartsFor(spark, paths).toLong, maxFiles) {
      compactAttrs(spark, dir)
    }
  }

  /** [[maybeCompactCms]]'s growth trigger for the span store. */
  def maybeCompactSpans(spark: SparkSession, dir: String,
                        maxFiles: Int): Boolean = {
    lazy val paths = StagedBatches.storePaths(spark, dir, "spans")
    growthTrigger(paths.map(parquetFileCount(spark, _)).sum,
      targetPartsFor(spark, paths).toLong, maxFiles) {
      compactSpans(spark, dir)
    }
  }

  /** Dolma-attributes compaction under the [[GenerationStore]]
    * protocol (the [[compactBm25ToGeneration]] shape for the
    * attribute-serving tier — long-running mix consumers): fold the
    * current generation's base + committed staged ingest batches into
    * a fresh generation committed via the atomic manifest entry.
    * Returns the new generation's data dir; the superseded one keeps
    * serving its in-flight readers until the GC age gate. */
  def compactAttrsToGeneration(spark: SparkSession, root: String): String = {
    val cur = GenerationStore.currentGenDir(spark, root).getOrElse(
      sys.error(s"compactAttrsToGeneration: no committed generation under $root"))
    GenerationStore.publish(spark, root)(
      foldRangeStore(spark, cur, _, "attrs", Seq("doc_id")))
  }

  /** [[compactAttrsToGeneration]] for the span store — the tier a
    * Dolma-style span consumer (a long-running excision mix) reads
    * while the maintainer keeps ingesting. */
  def compactSpansToGeneration(spark: SparkSession, root: String): String = {
    val cur = GenerationStore.currentGenDir(spark, root).getOrElse(
      sys.error(s"compactSpansToGeneration: no committed generation under $root"))
    GenerationStore.publish(spark, root)(
      foldRangeStore(spark, cur, _, "spans", Seq("doc_id", "tag", "start")))
  }

  /** [[maybeCompactCms]]'s growth trigger for the IVF index — counts
    * files across base + COMMITTED staged batches ([[Ivf.corpusPaths]]);
    * floor = one file per live cell partition (what [[compactIvfCorpus]]'s
    * cell-clustered rewrite lands at, the size-based floor as a lower
    * bound), because per-batch staging leaves one small file per cell
    * per batch. */
  def maybeCompactIvf(spark: SparkSession, dir: String,
                      maxFiles: Int): Boolean = {
    lazy val paths = Ivf.corpusPaths(spark, dir)
    lazy val floor = {
      val (fs, p) = fsFor(spark, s"$dir/corpus")
      val cellDirs =
        if (!fs.exists(p)) 0L
        else fs.listStatus(p)
          .count(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
          .toLong
      math.max(cellDirs, targetPartsFor(spark, paths).toLong)
    }
    growthTrigger(paths.map(parquetFileCount(spark, _)).sum, floor, maxFiles) {
      compactIvfCorpus(spark, dir)
    }
  }

  /** Fold `srcDir`'s IVF index — frozen model tables (centroids,
    * pqbooks, …) byte-copied verbatim, base corpus + every COMMITTED
    * staged batch ([[Ivf.ingestIntoIndex]]'s layout) clustered back to
    * the [[Ivf.buildIndex]] file-per-cell layout sized to
    * [[TargetFileBytes]] — into `outDir`: the one fold definition
    * shared by the in-place [[compactIvfCorpus]] swap and the
    * [[compactIvfToGeneration]] publish. Uncommitted batch debris is
    * simply not folded (the swap deletes it with the old dir; under
    * the generation protocol it ages out with its generation). Reads
    * are materialized eagerly, so callers may rename/retire `srcDir`
    * afterwards. */
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

  /** IVF compaction under the [[GenerationStore]] protocol (the
    * [[compactBm25ToGeneration]] shape for the ANN serving tier): the
    * frozen centroid model rides along verbatim — centroids drift only
    * at a full rebuild, which is just another publish — and the
    * cell-partitioned corpus (base build + every COMMITTED staged
    * ingest batch) folds into [[Compaction.TargetFileBytes]]-sized
    * files in a fresh generation committed via the atomic manifest
    * entry. Returns the new generation's data dir; the superseded one
    * keeps serving its in-flight readers until the GC age gate. */
  def compactIvfToGeneration(spark: SparkSession, root: String): String = {
    val cur = GenerationStore.currentGenDir(spark, root).getOrElse(
      sys.error(s"compactIvfToGeneration: no committed generation under $root"))
    GenerationStore.publish(spark, root)(foldIvf(spark, cur, _))
  }

  /** Rewrite the IVF index in the initial-build layout: one shuffle
    * clusters base + committed staged batches by cell, `partitionBy`
    * restores the file-per-cell locality the DPP-pruned probes scan
    * ([[Ivf.buildIndex]]'s rationale). The WHOLE index dir swaps in
    * one [[swapIn]] — the folded corpus and the staged-batch removal
    * commit together atomically (the [[compactBm25Index]] discipline),
    * so no crash point can leave a batch folded AND still staged. */
  def compactIvfCorpus(spark: SparkSession, dir: String): Unit =
    swapIn(spark, dir)(foldIvf(spark, dir, _))

  /** The one k-means-shard fold definition: base + committed staged
    * batches clustered back to [[TargetFileBytes]]-sized file-per-
    * cluster locality under `base/` — per-batch staging leaves one
    * small file per cluster per batch ([[compactIvfCorpus]]'s
    * rationale on the topic-shard store). */
  private def foldKmeans(spark: SparkSession, srcDir: String,
                         outDir: String): Unit = {
    val n = targetPartsFor(spark, KMeans.shardPaths(spark, srcDir))
    KMeans.readShards(spark, srcDir)
      .repartition(n, col("cluster"))
      .write.partitionBy("cluster").parquet(s"$outDir/base")
  }

  /** Rewrite the k-means topic-shard store in the serving layout; the
    * whole-dir swap retires staged batches atomically with the fold. */
  def compactKmeansShards(spark: SparkSession, dir: String): Unit =
    swapIn(spark, dir)(foldKmeans(spark, dir, _))

  /** [[maybeCompactCms]]'s growth trigger for the k-means shard store —
    * floor = one file per live cluster partition of the compacted base
    * (size-based floor as a lower bound). */
  def maybeCompactKmeans(spark: SparkSession, dir: String,
                         maxFiles: Int): Boolean = {
    lazy val paths = KMeans.shardPaths(spark, dir)
    lazy val floor = {
      val (fs, p) = fsFor(spark, s"$dir/base")
      val clusterDirs =
        if (!fs.exists(p)) 0L
        else fs.listStatus(p)
          .count(s => s.isDirectory && s.getPath.getName.startsWith("cluster="))
          .toLong
      math.max(clusterDirs, targetPartsFor(spark, paths).toLong)
    }
    growthTrigger(paths.map(parquetFileCount(spark, _)).sum, floor, maxFiles) {
      compactKmeansShards(spark, dir)
    }
  }

  /** K-means shard-store compaction under the [[GenerationStore]]
    * protocol. Returns the new generation's data dir. */
  def compactKmeansToGeneration(spark: SparkSession, root: String): String = {
    val cur = GenerationStore.currentGenDir(spark, root).getOrElse(
      sys.error(s"compactKmeansToGeneration: no committed generation under $root"))
    GenerationStore.publish(spark, root)(foldKmeans(spark, cur, _))
  }

  /** Retention compaction for the streaming near-dup band store
    * ([[graft.streaming.StreamPipeline.incrementalNearDups]] with a
    * time column): drop signatures older than `minTs` and fold the
    * per-batch subdirectories into a flat store. With a retention
    * window enforced both here (physically) and at pair time (the
    * ingest's age filter), the steady-state store is bounded by the
    * window's document arrival volume, not corpus history. */
  def pruneBandStore(spark: SparkSession, dir: String, minTs: Long): Unit = {
    val n = targetParts(spark, dir)
    val store = spark.read.option("recursiveFileLookup", "true").parquet(dir)
    // fail with intent, not an analysis error: a band store built
    // without tsCol has no ts column and cannot be age-pruned
    val missing = Seq("ts", "key").filterNot(store.columns.contains)
    if (missing.nonEmpty) sys.error(
      s"pruneBandStore: band store at $dir has no ${missing.mkString("/")} " +
      "column — it was built without retention (incrementalNearDups tsCol); " +
      "rebuild the store with a time column to enable pruning")
    swapIn(spark, dir) { tmp =>
      store
        .filter(col("ts") >= minTs)
        .repartition(n, col("key"))
        .write.parquet(tmp)
    }
  }
}
