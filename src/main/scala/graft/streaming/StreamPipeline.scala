package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Streaming variants of the pipeline (SURVEY.md §2 S1 streaming path,
  * §7.3 step 5). The reference's always-running NiFi graph maps to
  * Structured Streaming: the file source's seen-files log IS ListFile's
  * listing state; `maxFilesPerTrigger` is the backpressure knob;
  * `Trigger.ProcessingTime` + merge policy replaces MergeContent's bin
  * age.
  *
  * The events table's `ts` is normalized to epoch-nanos LONG on read
  * (see [[graft.queries.Tables.normalizeEventTs]] — the generator has
  * shipped both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) physical
  * types); [[eventTime]] converts the long to a proper timestamp
  * column for watermarks/windows.
  */
object StreamPipeline {

  /** Nanos-since-epoch long → TimestampType (micros precision).
    * Integer `div`, NOT `/`: epoch nanos (~1.7e18) exceed a double's
    * 53-bit mantissa, so float division would round to ±256 ns. */
  def eventTime(nanosColName: String): org.apache.spark.sql.Column =
    timestamp_micros(expr(s"$nanosColName div 1000"))

  /** Streaming scan over the events parquet (file source tracks state).
    * `ts` is normalized to epoch-nanos LONG whatever the parquet's
    * physical timestamp unit (see [[graft.queries.Tables.normalizeEventTs]]
    * — the generator has shipped both NANOS and MICROS). */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    graft.queries.Tables.normalizeEventTs(
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  /** Tumbling-window counts by event type — the streaming aggregation
    * shape. Pass `watermark` to bound state for Append-mode output;
    * None leaves state unbounded (Complete-mode test harness). */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: Option[String] = None,
                     slide: Option[String] = None): DataFrame = {
    val timed = graft.queries.Tables.normalizeEventTs(events)
      .withColumn("etime", eventTime("ts"))
    // slide < length = overlapping (sliding) windows: each event lands
    // in length/slide windows — state grows by the same factor, still
    // watermark-bounded
    val win = slide.fold(window(col("etime"), windowLen))(
      s => window(col("etime"), windowLen, s))
    watermark.fold(timed)(d => timed.withWatermark("etime", d))
      .groupBy(win, col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("total_value"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("total_value"))
  }

  /** Runs a streaming aggregation over the (bounded) events source to
    * completion through the real streaming engine: memory sink,
    * complete mode, synchronous drain. TEST SCAFFOLDING ONLY — Complete
    * mode re-materializes the whole result on the driver every trigger;
    * the scale path is [[runAppendToDir]]. */
  def runToCompletion(spark: SparkSession, agg: DataFrame, name: String): DataFrame = {
    val q = agg.writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(name)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }

  /** `agg` re-planned on a new session of `spark`'s context whose
    * shuffle width is `stateParts`, when given. Spark pins a stream's
    * STATE partition count from `spark.sql.shuffle.partitions` at first
    * start and keeps it for the checkpoint's lifetime — state width is
    * a PER-STREAM property sized by state volume, not the session's
    * relational shuffle width. A windowed aggregation with a few
    * thousand state rows at one partition per core pays one
    * HDFS-backed store commit (file create + fsync + rename) per
    * partition per micro-batch for ~100 rows of state apiece —
    * measured at 32 partitions: 9–36 s of summed commit time per
    * trigger vs ~1 s at 8, 4.3 s → 2.7 s wall on the events window
    * query. A 100 TB stream with large keyed state passes a LARGER
    * number for the same reason. The width is set on a session of its
    * own before anything plans there, so a query planned concurrently
    * on `spark` keeps `spark`'s width. */
  private def onStateParts(spark: SparkSession, agg: DataFrame,
                           stateParts: Option[Int]): DataFrame =
    stateParts match {
      case None => agg
      case Some(n) => DatasetBridge.onSession(graft.GraftSession.derived(
        spark, "spark.sql.shuffle.partitions" -> n.toString), agg)
    }

  /** The scale path for streaming aggregation: event-time watermark +
    * Append output + foreachBatch writing partitioned parquet through
    * [[idempotentBatchWriter]]. State stays bounded by the watermark
    * (closed windows are evicted each trigger) and nothing
    * materializes on the driver — each micro-batch writes its
    * finalized windows straight to the distributed sink; the read-back
    * drops the writer's `batch_id` column. `stateParts` sizes the
    * stream's state ([[onStateParts]]).
    *
    * Bounded-input contract: Append emits exactly the windows the
    * watermark has closed, i.e. window_end ≤ max(event time) − delay;
    * the trailing open windows stay in state (on an unbounded stream
    * they'd emit when later data advances the watermark). The engine's
    * no-data micro-batch performs the final eviction after the last
    * data batch; [[drainAndStop]] waits for it. */
  def runAppendToDir(spark: SparkSession, agg: DataFrame, outDir: String,
                     partitionCols: Seq[String],
                     stateParts: Option[Int] = None): DataFrame = {
    val schema = agg.schema
    val q = onStateParts(spark, agg, stateParts).writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch(idempotentBatchWriter(outDir, partitionCols))
      .start()
    drainAndStop(q)
    // No window may have closed (watermark never passed a window end) —
    // then no batch wrote and the dir has no parquet to infer from.
    val wrote = {
      val p = new org.apache.hadoop.fs.Path(outDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p) && fs.listStatus(p).nonEmpty
    }
    if (wrote) spark.read.parquet(outDir).drop("batch_id")
    else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
  }

  /** Idempotent batch writer — the exactly-once sink for stateful
    * aggregation outputs. foreachBatch delivery is AT-LEAST-once: after
    * a crash between the sink write and the offset commit, the same
    * batchId replays. Landing every micro-batch in its own
    * `batch_id=<n>` directory with OVERWRITE mode makes a replay
    * rewrite instead of duplicate — output = input exactly once for
    * any crash point. Its replay key is the engine's batch id under the
    * query's checkpoint, not the input files
    * ([[graft.ext.StagedBatches]]): an aggregation's eviction batch
    * scans no file at all. Exposed standalone so the replay property
    * is testable without crashing a live engine (StreamingSpec invokes
    * it twice with one batchId). */
  def idempotentBatchWriter(outDir: String, partitionCols: Seq[String])
      : (DataFrame, Long) => Unit = (batch, batchId) =>
    if (!batch.isEmpty)
      batch.write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(s"$outDir/batch_id=$batchId")

  /** processAllAvailable returns when all source data is committed, but
    * watermark eviction happens in a trailing NO-DATA micro-batch —
    * wait until the engine goes quiescent so Append output is final.
    *
    * Quiescence is judged on PROGRESS, not instantaneous status:
    * `q.status` can show both flags false in the gap between the last
    * data batch and the eviction batch, so a status poll may exit
    * before the final windows are emitted (the round-3 flaky-hash
    * race). Stability of (batchId, watermark) across polls is ALSO not
    * enough on its own: batchId only bumps once the eviction batch
    * RUNS, so a pending-but-slow batch keeps lastProgress unchanged.
    * The condition that closes the race is observing a COMPLETED
    * no-data batch (`lastProgress.numInputRows == 0`): watermark
    * eviction happens in the first no-data batch after the last data
    * batch, so once one has finished AND the observation is stable
    * across two consecutive drains with no trigger active, the Append
    * output is final. */
  private def drainAndStop(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    try {
      q.processAllAvailable()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def observe(): (Long, String) = {
        val p = q.lastProgress
        if (p == null) (-1L, "")
        else (p.batchId, String.valueOf(p.eventTime.get("watermark")))
      }
      // NOTE: deliberately no q.status check here — with
      // Trigger.ProcessingTime(0) the engine is almost always inside a
      // (no-op) source poll, so isTriggerActive flickers true and
      // gating on it retries for seconds. A completed no-data batch
      // plus batchId stability is sufficient: the input is bounded and
      // drained (processAllAvailable returned), so no later data batch
      // can exist, and a second eviction batch would bump batchId.
      def evictionRan(): Boolean = {
        val p = q.lastProgress
        p != null && p.numInputRows == 0
      }
      // Empty source: no batch ever ran (lastProgress stays null), so
      // there is nothing in state to evict — quiescent immediately
      // rather than spinning the full deadline waiting for a no-data
      // batch that can never come.
      if (q.lastProgress == null) return
      var last = observe()
      var stable = false
      while (!stable && System.nanoTime() < deadline) {
        Thread.sleep(50)
        q.processAllAvailable()
        val cur = observe()
        if (cur == last && evictionRan()) stable = true else last = cur
      }
    } finally q.stop()
  }

  /** Streaming exact dedup: event-time watermark + `dropDuplicates`
    * over (key, event time) — first arrival is emitted immediately
    * (Append mode; dedup never waits on the watermark), and the state
    * store holds one entry per distinct key which EVICTS once the
    * watermark passes its event time — the unbounded-stream guarantee
    * the batch `distinct` doesn't need. Duplicates arriving later than
    * the watermark delay are dropped unseen (documented late-data
    * contract, same as windowed aggregation). */
  def dedupEvents(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    graft.queries.Tables.normalizeEventTs(events)
      .withColumn("etime", eventTime("ts"))
      .withWatermark("etime", watermark)
      .dropDuplicates("user_id", "etime", "event_type")
      .select(col("user_id"), unix_micros(col("etime")).as("tus"), col("event_type"))

  /** Incremental MinHash near-duplicate detection: each micro-batch
    * (a) computes LSH band signatures for its documents, (b) joins
    * them against the PERSISTED signature store (every prior batch's
    * bands) plus itself for candidate pairs, (c) exact-Jaccard-verifies
    * survivors against the content store by id and stages the
    * confirmed pairs into `outDir`, and (d) stages its own bands into
    * the store — so each pair is found exactly once, whichever batches
    * its two sides arrive in.
    *
    * The 100 TB shape: state is the compact (id, band, key) relation —
    * 16 rows of 20 bytes per document, on distributed storage, NOT in
    * a driver or state-store — and a batch's work is bands(batch) ⋈
    * store, linear in batch size times collision rate, never corpus².
    * Text is fetched only for surviving candidates ([[Dedup.verifyJaccard]]'s
    * id-keyed lookup against the lake), so content never shuffles for
    * candidate generation. Output is batch-split-invariant: the union
    * of in-batch and cross-batch detections is the full pair set of
    * the corpus seen so far (StreamingSpec pins the cross-batch path
    * with maxFilesPerTrigger=1).
    *
    * Fault tolerance: both sinks are staged stores
    * ([[graft.ext.StagedBatches.stage]]) keyed by the micro-batch's
    * files — pairs first, then bands. A crash before the pairs commit
    * leaves nothing visible; a crash between the two commits leaves
    * the pairs committed, and the retry skips them and stages the
    * bands. A redelivered batch — a retry, or a fresh query over the
    * same files without a checkpoint — finds both committed and does
    * nothing, so each pair lands exactly once. A doc id that arrives
    * again in a NEW file is kept from pairing with its own stored
    * bands by the `a.id =!= b.id` guard rather than surfacing as an
    * (i, i) self-pair.
    *
    * `corpus` must resolve text for every id the stream will carry.
    *
    * RETENTION (`tsCol` + `ttl`, both or neither): when the stream
    * carries an event-time column, each stored signature is stamped
    * with its document's time and a batch pairs only against store
    * rows with `ts >= max(batch ts) - ttl` — the signature-store
    * analogue of a watermark. Without it the store grows monotonically
    * with corpus history; with it the LIVE working set is bounded by
    * the retention window's arrival volume. The age filter enforces
    * the semantics at pair time; [[graft.ext.Compaction.pruneBandStore]]
    * is the physical counterpart that deletes a batch's dir once its
    * newest signature ages out (run it between batches). `ttl` is in
    * the column's own units (epoch micros for the events table). */
  def incrementalNearDups(spark: SparkSession, stream: DataFrame, corpus: DataFrame,
                          storeDir: String, outDir: String,
                          n: Int = 3, minJ: Double = 0.8,
                          tsCol: Option[String] = None,
                          ttl: Option[Long] = None): DataFrame = {
    import graft.ext.{Dedup, StagedBatches}
    require(tsCol.isDefined == ttl.isDefined,
      "incrementalNearDups: tsCol and ttl come together (both or neither)")
    val bandSchema =
      if (tsCol.isDefined) "id LONG, band INT, key LONG, ts LONG"
      else "id LONG, band INT, key LONG"
    drainIngest(stream) { (batch, _, key) =>
      val s = batch.sparkSession
      val rawBands = Dedup.bandRows(batch, "doc_id", "text", n)
      val newBands = (tsCol match {
        case Some(tc) => rawBands.join(
          batch.groupBy(col("doc_id").as("id"))
            .agg(max(col(tc).cast("long")).as("ts")), "id")
        case None => rawBands
      }).persist()
      try {
        StagedBatches.stage(s, outDir, key) { bd =>
          // the committed store never holds this batch: its bands
          // commit only after its pairs
          val storePaths = StagedBatches.committedDirs(s, storeDir).map(b => s"$b/bands")
          val store =
            if (storePaths.nonEmpty) s.read.schema(bandSchema).parquet(storePaths: _*)
            else s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType.fromDDL(bandSchema))
          // retention: pair only against store signatures inside the
          // ttl window behind this batch's max event time (one-row
          // driver collect; aged-out rows stay until pruneBandStore)
          val liveStore = ttl match {
            case Some(window) =>
              // max(ts) is NULL when every event time in the batch is
              // NULL: there is no "now" to anchor the window, so skip
              // the age filter for this batch rather than NPE-killing
              // the stream — pairing against the whole store is
              // correct, just unpruned
              val mxRow = newBands.agg(max(col("ts"))).head
              if (mxRow.isNullAt(0)) store
              else store.filter(col("ts") >= mxRow.getLong(0) - window)
            case None => store
          }
          // cross-batch: new docs vs the store (no double-count with
          // the self-join; the id guard keeps a doc id seen again from
          // pairing with itself)
          val cross = newBands.as("a").join(liveStore.as("b"),
              col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
                col("a.id") =!= col("b.id"))
            .select(least(col("a.id"), col("b.id")).as("i"),
              greatest(col("a.id"), col("b.id")).as("j"))
          val self = newBands.as("a").join(newBands.as("b"),
              col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
                col("a.id") < col("b.id"))
            .select(col("a.id").as("i"), col("b.id").as("j"))
          val cand = cross.unionByName(self).distinct()
          // unconditional write: an isEmpty probe would execute the
          // verify join twice (once to check, once to write) — the
          // most expensive per-batch step; an empty write is cheap
          Dedup.verifyJaccard(cand, corpus, "doc_id", "text", n, minJ)
            .write.parquet(s"$bd/pairs")
        }
        StagedBatches.stage(s, storeDir, key)(bd => newBands.write.parquet(s"$bd/bands"))
      } finally { newBands.unpersist(); () }
    }
    val pairs = StagedBatches.committedDirs(spark, outDir).map(b => s"$b/pairs")
    if (pairs.nonEmpty) spark.read.parquet(pairs: _*)
    else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL("i LONG, j LONG, jaccard DOUBLE"))
  }

  /** The replay key of a micro-batch: an md5 of the sorted, distinct
    * paths of the files its scan read. foreachBatch hands the body a
    * `LogicalRDD` over the engine's executed batch, so the key comes
    * from that RDD's lineage — the `FileScanRDD`s' file partitions —
    * and costs no Spark job. The same files give the same key in any
    * query, with or without a checkpoint. */
  private def batchKey(raw: DataFrame): String = {
    import org.apache.spark.rdd.RDD
    def files(rdd: RDD[_]): Seq[String] = rdd match {
      case scan: org.apache.spark.sql.execution.datasources.FileScanRDD =>
        scan.filePartitions.flatMap(_.files.map(_.filePath.toString))
      case other => other.dependencies.flatMap(d => files(d.rdd))
    }
    val paths = raw.queryExecution.logical
      .collect { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd }
      .flatMap(files).distinct.sorted
    require(paths.nonEmpty, "stream ingest: a micro-batch scanned no file — " +
      "the ingest stores key each batch by its source files, so the stream " +
      "must read a file source")
    java.security.MessageDigest.getInstance("MD5")
      .digest(paths.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** The shared ingest drain: run `body` on every non-empty
    * micro-batch until the sources are fully committed, returning the
    * non-empty batch count (the cross-batch contracts in StreamingSpec
    * and the ingest queries pin ≥ 2). `body` gets the batch, the
    * engine's micro-batch id and the batch's file key ([[batchKey]]),
    * which every store maintainer below stages under
    * ([[graft.ext.StagedBatches.stage]]) — so a redelivered batch is a
    * no-op in every store.
    *
    * Each micro-batch is re-planned on the session that created
    * `stream` before `body` sees it. The engine hands foreachBatch a
    * batch on the query's own clone of that session, and a new clone
    * per query misses the generated-code cache that Spark keys by the
    * session's class loader: every query compiled its whole ingest body
    * again (29 Janino compilations for a plain 250-doc BM25 batch, 44
    * for a compacting one). On the caller's session a body compiles
    * once and later queries reuse it. The body also plans under that
    * session's conf, AQE included: small batches get their exchanges
    * coalesced without any per-batch conf change, so nothing here
    * writes the shared session's conf that concurrent readers use. */
  private def drainIngest(stream: DataFrame)
                         (body: (DataFrame, Long, String) => Unit): Long = {
    val session = stream.sparkSession
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (raw: DataFrame, id: Long) =>
        val batch = DatasetBridge.onSession(session, raw)
        if (!batch.isEmpty) {
          batches.incrementAndGet()
          body(batch, id, batchKey(raw))
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    batches.get()
  }

  /** Streaming IVF index maintenance: each micro-batch of new vectors
    * is cell-assigned with the FROZEN centroid model and staged into
    * the index's cell-partitioned corpus
    * ([[graft.ext.Ivf.ingestIntoIndex]]) — probes launched after a
    * batch commits see its vectors with the same DPP-pruned scan as
    * the original build. The 100 TB shape: per batch one narrow map
    * plus one cell-clustered write, state is the index on distributed
    * storage (not a state store), and the k-row centroid model is the
    * only driver-resident object. Centroid drift is handled by the
    * next full rebuild, the standard IVF maintenance split.
    *
    * @return number of non-empty micro-batches ingested. */
  def ivfIngest(spark: SparkSession, stream: DataFrame, indexDir: String,
                idCol: String, vecCol: String): Long =
    drainIngest(stream) { (batch, _, key) =>
      graft.ext.Ivf.ingestIntoIndex(batch.sparkSession, indexDir, batch,
        idCol, vecCol, key)
    }

  /** Streaming BM25 index maintenance — [[ivfIngest]]'s pattern
    * applied to the lexical index ([[graft.ext.Bm25.ingestIntoIndex]]):
    * each micro-batch of new documents is tokenized (batch-bounded
    * work) and staged+committed atomically as one batch generation.
    * State is the on-disk index, not a state store; probes after a
    * committed batch score the union corpus. A plain index dir is
    * never compacted; a stream that must keep serving cost bounded
    * however long it runs uses [[bm25IngestGen]], which folds staged
    * batches into a new generation. */
  def bm25Ingest(spark: SparkSession, stream: DataFrame, indexDir: String,
                 idCol: String, textCol: String): Long =
    drainIngest(stream) { (batch, _, key) =>
      graft.ext.Bm25.ingestIntoIndex(batch.sparkSession, indexDir, batch,
        idCol, textCol, key)
    }

  /** The generation-store maintainer loop of [[bm25IngestGen]] and
    * [[spanIngestGen]]: every micro-batch RE-RESOLVES the current
    * generation of `root` (a compaction may have published a new one
    * since the last batch) and `ingest`s into it under the batch's
    * key; when that generation's committed-batch count reaches
    * `autoCompactEvery`, `compact` publishes a folded generation (which
    * records the folded keys, so a redelivered batch stays a no-op)
    * and the age-gated GC runs. Resolve + append + compact run
    * SEQUENTIALLY inside one foreachBatch, so an appended batch can
    * never land in a generation a concurrent fold has already
    * superseded — the single-MAINTAINER contract; concurrent readers
    * need no coordination at all. */
  private def drainIntoGeneration(stream: DataFrame, root: String,
                                  autoCompactEvery: Int, gcAgeMs: Long,
                                  compact: (SparkSession, String) => String)
                                 (ingest: (DataFrame, String, String) => Unit): Long =
    drainIngest(stream) { (batch, _, key) =>
      val sp = batch.sparkSession
      val cur = graft.ext.GenerationStore.currentGenDir(sp, root)
        .getOrElse(sys.error(s"generation ingest: no committed generation under $root"))
      ingest(batch, cur, key)
      if (autoCompactEvery > 0 &&
          graft.ext.StagedBatches.committedDirs(sp, cur).length
            >= autoCompactEvery) {
        compact(sp, root)
        graft.ext.GenerationStore.gc(sp, root, gcAgeMs)
        ()
      }
    }

  /** [[bm25Ingest]] under the [[graft.ext.GenerationStore]] protocol —
    * the deployment shape with LONG-RUNNING readers beside the
    * maintainer ([[drainIntoGeneration]]'s loop): each micro-batch
    * stage-commits into the current generation, and at
    * `autoCompactEvery` committed batches the fold publishes a new
    * generation (compaction-as-publish — nothing renamed or deleted,
    * in-flight readers finish on the superseded dir). The root must
    * hold one committed generation (the initial build, published by
    * the caller) before the stream starts. */
  def bm25IngestGen(spark: SparkSession, stream: DataFrame, root: String,
                    idCol: String, textCol: String,
                    autoCompactEvery: Int = 0,
                    gcAgeMs: Long = graft.ext.GenerationStore.MinAgeMs): Long =
    drainIntoGeneration(stream, root, autoCompactEvery, gcAgeMs,
        graft.ext.Compaction.compactBm25ToGeneration) { (batch, cur, key) =>
      graft.ext.Bm25.ingestIntoIndex(batch.sparkSession, cur, batch,
        idCol, textCol, key)
    }

  /** Streaming topic-shard routing — [[ivfIngest]]'s pattern applied
    * to the k-means model: each micro-batch of new embeddings is
    * assigned to its nearest trained centroid MAP-ONLY (the centroids
    * are k·d longs of driver metadata riding the closure — no join, no
    * shuffle, no state store) and STAGE-COMMITTED into the store
    * ([[graft.ext.KMeans.ingestIntoShards]] — per-batch atomic
    * `_COMMITTED` markers, so a concurrent shard reader never sees a
    * torn batch), every topic shard staying directly scannable between
    * batches via [[graft.ext.KMeans.readShards]]. */
  def kmeansIngest(spark: SparkSession, stream: DataFrame, outDir: String,
                   cents: Array[Array[Long]],
                   idCol: String, vecCol: String): Long =
    drainIngest(stream) { (batch, _, key) =>
      graft.ext.KMeans.ingestIntoShards(outDir, batch, idCol, vecCol, cents, key)
    }

  /** Streaming SemDeDup maintenance — the semantic-dedup analogue of
    * [[incrementalNearDups]]' band store, under [[ivfIngest]]'s
    * frozen-model + staged-commit discipline: each micro-batch is
    * cell-assigned with the model frozen by
    * [[graft.ext.SemDedup.initStream]], compared within-cell against
    * the committed representatives (plus its own smaller ids), and
    * stage-committed atomically — verdicts via
    * [[graft.ext.SemDedup.readStreamVerdicts]]. First-wins semantics,
    * state on distributed storage, per-batch work linear in batch ×
    * cell occupancy (full contract at
    * [[graft.ext.SemDedup.ingestBatch]]). */
  def semDedupIngest(spark: SparkSession, stream: DataFrame, root: String,
                     idCol: String, vecCol: String, tau: Double): Long =
    drainIngest(stream) { (batch, _, key) =>
      graft.ext.SemDedup.ingestBatch(root, batch, idCol, vecCol, tau, key)
    }

  /** Streaming count-min maintenance: each micro-batch's PARTIAL
    * sketch (bounded Depth·Width rows of batch-local counting) is
    * staged into the store — the sketch-mergeability identity makes
    * this the rare ingest with NO read side at all; serving folds the
    * log with one bounded groupBy ([[graft.ext.CountMin.storeSketch]]). */
  def cmsIngest(spark: SparkSession, stream: DataFrame, storeDir: String,
                textCol: String): Long =
    drainIngest(stream) { (batch, _, key) =>
      graft.ext.CountMin.ingestIntoStore(storeDir, batch, textCol, key)
    }

  /** Streaming Dolma-attributes maintenance: per micro-batch, tag the
    * batch and stage its attribute rows into the persisted relation
    * ([[graft.ext.Attributes.ingestIntoAttributes]]). */
  def attrsIngest(spark: SparkSession, stream: DataFrame,
                  attrsDir: String): Long =
    drainIngest(stream) { (batch, _, key) =>
      graft.ext.Attributes.ingestIntoAttributes(attrsDir, batch, key)
    }

  /** Streaming SPAN-attributes maintenance: each micro-batch's span
    * rows (tagged against the static `benchmark`) are staged into the
    * persisted relation — the [[attrsIngest]] pattern at span
    * granularity. The benchmark's hashed gram set is computed and
    * persisted ONCE for the stream's lifetime (it is static), not
    * re-derived per micro-batch. */
  def spanIngest(spark: SparkSession, stream: DataFrame, spanDir: String,
                 benchmark: DataFrame, n: Int = 3): Long = {
    val benchGrams = graft.ext.Attributes.benchGramSet(benchmark, n = n).persist()
    try drainIngest(stream) { (batch, _, key) =>
      graft.ext.Attributes.ingestIntoSpanAttributes(spanDir, batch,
        benchGrams, n = n, key = key)
    }
    finally { benchGrams.unpersist(); () }
  }

  /** [[spanIngest]] under the [[graft.ext.GenerationStore]] protocol —
    * [[bm25IngestGen]]'s shape for the span-attribute tier, the store
    * with the clearest long-running-reader workload (a Dolma-style
    * excision mix over the whole corpus runs for hours while tagging
    * continues). Each micro-batch stage-commits its span rows into the
    * current generation ([[drainIntoGeneration]]'s loop). The root
    * must hold one committed generation (the initial
    * [[graft.ext.Attributes.ensureSpanAttributes]] build, published by
    * the caller) before the stream starts. */
  def spanIngestGen(spark: SparkSession, stream: DataFrame, root: String,
                    benchmark: DataFrame, n: Int = 3,
                    autoCompactEvery: Int = 0,
                    gcAgeMs: Long = graft.ext.GenerationStore.MinAgeMs): Long = {
    val benchGrams = graft.ext.Attributes.benchGramSet(benchmark, n = n).persist()
    try drainIntoGeneration(stream, root, autoCompactEvery, gcAgeMs,
        graft.ext.Compaction.compactSpansToGeneration) { (batch, cur, key) =>
      graft.ext.Attributes.ingestIntoSpanAttributes(cur, batch,
        benchGrams, n = n, key = key)
    }
    finally { benchGrams.unpersist(); () }
  }

  /** Streaming tokenize+pack ingest — the last operator between a
    * stream and a training job: each micro-batch's documents are
    * tokenized against the FROZEN model relation `wids`
    * ([[graft.ext.Bpe.wordIdRelation]], trained before the stream
    * starts — the production train-once/encode-forever split) and
    * packed into fixed-length sequences SCOPED TO THE BATCH (`bat` =
    * the engine's micro-batch id; sequence ids restart per batch — each
    * batch's tail sequence closes short rather than waiting for future
    * data, the per-shard packing a real pipeline does), staged under
    * the batch's file key ([[graft.ext.StagedBatches.stage]]) as
    * (bat, seq_id, seq_len, n_docs, ids) rows; read them with
    * [[packSeqs]]. Per batch: one word join + the two-level scan over
    * the BATCH, never the corpus. `bat` numbers the batches of one
    * query: a query that starts without a checkpoint counts from 0
    * again, though the batches it skips as already staged keep theirs. */
  def packIngest(spark: SparkSession, stream: DataFrame, outDir: String,
                 wids: DataFrame, idCol: String, textCol: String,
                 seqLen: Int): Long =
    drainIngest(stream) { (batch, id, key) =>
      graft.ext.StagedBatches.stage(batch.sparkSession, outDir, key) { bd =>
        val toks = graft.ext.Bpe.encodeIdsAgainst(batch, idCol, textCol, wids)
        graft.ext.Packing.packSequences(toks, idCol, seqLen)
          .withColumn("bat", lit(id))
          .select(col("bat"), col("seq_id"), col("seq_len"),
            col("n_docs"), col("ids"))
          .write.parquet(s"$bd/seqs")
      }
    }

  /** The committed sequences of a [[packIngest]] store. */
  def packSeqs(spark: SparkSession, outDir: String): DataFrame = {
    val paths = graft.ext.StagedBatches.committedDirs(spark, outDir)
      .map(b => s"$b/seqs")
    require(paths.nonEmpty, s"no committed pack batches under $outDir")
    spark.read.parquet(paths: _*)
  }

  /** The running token total and dir of the newest of the committed
    * pack-carry `batches`: the one with the highest total (`meta/`).
    * Totals never fall, and a batch that adds no token leaves the
    * carry state as it was, so a tie is between equal states. One job
    * reads every batch's total. */
  private def newestCarry(spark: SparkSession,
                          batches: Seq[String]): Option[(Long, String)] =
    if (batches.isEmpty) None
    else {
      val (t, file) = spark.read.schema("t LONG")
        .parquet(batches.map(b => s"$b/meta"): _*)
        .select(col("t"), col("_metadata.file_path")).collect()
        .map(r => (r.getLong(0), r.getString(1))).maxBy(_._1)
      Some((t, batches.find(b =>
        file.contains(s"/${new org.apache.hadoop.fs.Path(b).getName}/")).get))
    }

  /** [[packIngest]] with CROSS-BATCH TAIL CARRY: instead of closing
    * each micro-batch's last sequence short (per-shard packing — small
    * batches fragment: one short sequence per batch boundary), the
    * unfinished tail's token rows carry into the next batch, so the
    * packed store equals the BATCH packing of the concatenated stream
    * ([[graft.ext.Packing.packWithCarry]]). Sequence ids are GLOBAL.
    *
    * Each batch is staged under its file key
    * ([[graft.ext.StagedBatches.stage]]): `seqs/` holds the batch's
    * completed sequences, `carry/` the new partial tail (≤ seqLen-1
    * rows) and `meta/` the running token total (1 row). Output rows
    * and carry state commit together, so a crash mid-batch can neither
    * drop nor duplicate a boundary sequence, and a redelivered batch is
    * a no-op. Serve with [[packCarryServe]]. Default remains
    * [[packIngest]] (per-shard): at scale each shard packs
    * independently in parallel, while carry mode serializes on the
    * tail — the right trade when batches are SMALL relative to seqLen
    * (SCALE.md quantifies the boundary fragmentation). */
  def packIngestCarry(spark: SparkSession, stream: DataFrame, outDir: String,
                      wids: DataFrame, idCol: String, textCol: String,
                      seqLen: Int): Long = {
    // carry state rides the driver between micro-batches (≤ seqLen-1
    // (gp, tid) rows + the running total — model-metadata sized). The
    // committed batches are the RECOVERY source, read when a stream
    // stages its first batch or follows a batch it skipped as already
    // staged: prior state is the newest committed batch's.
    var mem: Option[(Long, Seq[(Long, Long)])] = None
    drainIngest(stream) { (batch, _, key) =>
      val sp = batch.sparkSession
      import sp.implicits._
      var next: Option[(Long, Seq[(Long, Long)])] = None
      graft.ext.StagedBatches.stage(sp, outDir, key) { bd =>
        val (offset, carried) = mem.getOrElse(
          newestCarry(sp, graft.ext.StagedBatches.committedDirs(sp, outDir))
            .map { case (t, b) => (t, sp.read.parquet(s"$b/carry").collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSeq) }
            .getOrElse((0L, Seq.empty[(Long, Long)])))
        val toks = graft.ext.Bpe
          .encodeIdsAgainst(batch, idCol, textCol, wids).persist()
        try next = Some(graft.ext.Packing.packCarryBatch(toks, idCol, seqLen,
          offset, carried.toDF("gp", "tid"), bd))
        finally { toks.unpersist(); () }
      }
      mem = next
    }
  }

  /** Read a [[packIngestCarry]] store: all committed complete
    * sequences plus the newest batch's partial tail materialized as
    * its short last sequence — together exactly the batch packing of
    * the concatenated stream. */
  def packCarryServe(spark: SparkSession, outDir: String,
                     seqLen: Int): DataFrame = {
    val batches = graft.ext.StagedBatches.committedDirs(spark, outDir)
    val (_, newest) = newestCarry(spark, batches).getOrElse(
      sys.error(s"no committed pack batches under $outDir"))
    val seqs = spark.read.parquet(batches.map(b => s"$b/seqs"): _*)
    val tail = spark.read.parquet(s"$newest/carry")
    seqs.unionByName(graft.ext.Packing.carryTailSequence(tail, seqLen))
  }

  /** Drains a streaming transform that emits on DATA batches (dedup,
    * map-like ops) through a memory sink in Append mode. No eviction
    * wait needed — output is complete when the sources are committed.
    * TEST/ORACLE HARNESS; the scale sink is [[runAppendToDir]]'s
    * foreachBatch form. */
  def runAppendToMemory(spark: SparkSession, df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(name)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }

  // ---- sessionization ------------------------------------------------

  final case class Event(user_id: Long, ts: Long)
  final case class Session(user_id: Long, session_idx: Int, n_events: Long, duration_sec: Long)
  final case class SessionState(lastTs: Long, idx: Int, n: Long, startTs: Long)

  implicit val eventEnc: Encoder[Event] = Encoders.product[Event]
  implicit val sessionEnc: Encoder[Session] = Encoders.product[Session]

  val GapNanos: Long = 30L * 60 * 1000 * 1000 * 1000 // 30-min inactivity gap

  /** Batch sessionization: per-user 30-min-gap sessions via the typed
    * groups API. Deterministic (sorts each user's events by ts, then
    * event_id is irrelevant since ts ties don't occur in the data). */
  def sessionize(events: DataFrame): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    graft.queries.Tables.normalizeEventTs(events)
      .select(col("user_id"), col("ts")).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroups { (uid, it) =>
        val ts = boundedBuffer(uid, it.map(_.ts))
        java.util.Arrays.sort(ts)
        val out = scala.collection.mutable.ArrayBuffer[Session]()
        var idx = 0
        var start = 0
        var i = 1
        while (i <= ts.length) {
          if (i == ts.length || ts(i) - ts(i - 1) > GapNanos) {
            idx += 1
            out += Session(uid, idx, i - start,
              (ts(i - 1) - ts(start)) / 1000000000L)
            start = i
          }
          i += 1
        }
        out.iterator
      }
  }

  /** Streaming sessionization with explicit state — the
    * mapGroupsWithState form for unbounded input: emits a session when
    * the gap closes it, holds the open session in state. Demonstrated
    * in StreamingSpec; the batch form above is the oracle-checked one. */
  // ---- streaming SCD2 (CDC-log state maintenance) --------------------

  final case class TypedEvent(user_id: Long, event_id: Long, ts: Long,
                              event_type: String)
  /** A CLOSED validity interval (micros). Open intervals live in state
    * — on an unbounded CDC log they close when the next change
    * arrives; the batch q_scd2 restricted to valid_to IS NOT NULL is
    * the bounded-input oracle. */
  final case class Scd2Closed(user_id: Long, event_type: String,
                              valid_from: Long, valid_to: Long)
  /** lastTs holds the open interval's last-seen MICROSECOND position
    * (the oracle's tus unit). */
  final case class Scd2State(lastType: String, fromUs: Long,
                             lastTs: Long, lastId: Long)

  implicit val typedEventEnc: Encoder[TypedEvent] = Encoders.product[TypedEvent]
  implicit val scd2ClosedEnc: Encoder[Scd2Closed] = Encoders.product[Scd2Closed]

  /** Per-key micro-batch buffer cap for the typed-group operators
    * (scd2 / funnel / sessionize): each buffers ONE key's events from
    * ONE micro-batch on an executor to sort them. Fine for the stated
    * workload (per-user event counts), but a pathological hot key — a
    * bot account, a default/null user id — would otherwise grow the
    * buffer until the executor OOMs with no indication of which key
    * did it. The guard fails LOUDLY at the cap with the key and the
    * fix (salt the key, pre-aggregate, shorten the trigger interval so
    * batches shrink, or raise the cap). See SCALE.md
    * "Bounded-group assumption". */
  val MaxGroupEvents: Int = 1 << 20

  private[streaming] def boundedBuffer[T](key: Any, it: Iterator[T],
      cap: Int = MaxGroupEvents)(
      implicit ct: scala.reflect.ClassTag[T]): Array[T] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[T]
    while (it.hasNext) {
      buf += it.next()
      if (buf.length > cap)
        throw new IllegalStateException(
          s"group '$key' exceeds MaxGroupEvents=$cap events in one " +
            "micro-batch — a hot key would OOM the executor silently. Salt or " +
            "pre-aggregate the key, shrink the trigger interval, or raise the " +
            "cap (SCALE.md: bounded-group assumption).")
    }
    buf.toArray
  }

  /** SCD type-2 maintained over a live CDC stream: per-key state holds
    * the open interval; each type CHANGE emits the closed one. Events
    * are sorted by (ts, event_id) WITHIN a micro-batch; across batches
    * the operator assumes the CDC log's per-key ordering contract
    * (Kafka-style) — a row older than the open interval's last-seen
    * position is dropped as late rather than corrupting history.
    * State per key is one small record, O(keys) total — no watermark
    * needed to bound it. */
  def scd2Stream(events: Dataset[TypedEvent]): Dataset[Scd2Closed] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[TypedEvent], state: GroupState[Scd2State]) => {
          val evs = boundedBuffer(uid, it)
          // order by MICROSECOND position, matching the batch oracle's
          // (tus, event_id) keys — sorting by raw nanos would diverge
          // from the oracle whenever two events share a microsecond
          // but their nano-order flips the event_id tie-break
          def tus(e: TypedEvent): Long = e.ts / 1000L
          java.util.Arrays.sort(evs,
            Ordering.by((e: TypedEvent) => (tus(e), e.event_id)))
          val closed = scala.collection.mutable.ArrayBuffer[Scd2Closed]()
          var st = state.getOption.orNull
          evs.foreach { e =>
            if (st == null)
              st = Scd2State(e.event_type, tus(e), tus(e), e.event_id)
            else if (tus(e) > st.lastTs ||
                     (tus(e) == st.lastTs && e.event_id > st.lastId)) {
              if (e.event_type != st.lastType) {
                closed += Scd2Closed(uid, st.lastType, st.fromUs, tus(e))
                st = Scd2State(e.event_type, tus(e), tus(e), e.event_id)
              } else st = st.copy(lastTs = tus(e), lastId = e.event_id)
            } // else: late row behind the open interval — dropped
          }
          if (st != null) state.update(st)
          closed.iterator
        })
  }

  // ---- batch funnel (stage-ordered conversion) -----------------------

  final case class FunnelRow(user_id: Long, s1: Long, s2: Option[Long],
                             s3: Option[Long], s4: Option[Long],
                             stage_reached: Int)
  implicit val funnelEnc: Encoder[FunnelRow] = Encoders.product[FunnelRow]

  /** Stage-ordered funnel (signup → view → click → purchase): one
    * typed per-user walk in (tus, event_id) order — each stage's
    * timestamp is the earliest event of that type STRICTLY after the
    * previous stage's (same-microsecond transitions don't advance, so
    * the staged-min SQL form is the exact oracle). One shuffle on
    * user_id; rows only for users who entered the funnel. */
  def funnelStages(events: Dataset[TypedEvent]): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val stages = Array("signup", "view", "click", "purchase")
    events.groupByKey(_.user_id).flatMapGroups { (uid, it) =>
      val evs = boundedBuffer(uid, it)
      java.util.Arrays.sort(evs,
        Ordering.by((e: TypedEvent) => (e.ts / 1000L, e.event_id)))
      val hit = new Array[Long](4)
      var stage = 0
      var lastTus = Long.MinValue
      evs.foreach { e =>
        val tus = e.ts / 1000L
        if (stage < 4 && e.event_type == stages(stage) && tus > lastTus) {
          hit(stage) = tus; lastTus = tus; stage += 1
        }
      }
      if (stage == 0) Iterator.empty
      else Iterator.single(FunnelRow(uid, hit(0),
        if (stage > 1) Some(hit(1)) else None,
        if (stage > 2) Some(hit(2)) else None,
        if (stage > 3) Some(hit(3)) else None, stage))
    }
  }

  def sessionizeStream(events: Dataset[Event]): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[Event], state: GroupState[SessionState]) => {
          val ts = boundedBuffer(uid, it.map(_.ts))
          java.util.Arrays.sort(ts)
          val closed = scala.collection.mutable.ArrayBuffer[Session]()
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0, 0, Long.MinValue))
          ts.foreach { t =>
            if (st.lastTs == Long.MinValue) st = SessionState(t, st.idx + 1, 1, t)
            else if (t - st.lastTs > GapNanos) {
              closed += Session(uid, st.idx, st.n, (st.lastTs - st.startTs) / 1000000000L)
              st = SessionState(t, st.idx + 1, 1, t)
            } else st = st.copy( // out-of-order within the gap extends the session
              lastTs = math.max(st.lastTs, t),
              startTs = math.min(st.startTs, t),
              n = st.n + 1)
          }
          state.update(st)
          closed.iterator
        })
  }
}
