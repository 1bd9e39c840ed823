package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.StreamPipeline

/** Streaming-operator queries. q_stream_window runs through the REAL
  * Structured Streaming engine — file source → 30-min event-time
  * watermark → tumbling-window aggregation → Append output →
  * foreachBatch partitioned-parquet sink (the 100 TB shape: state
  * bounded by the watermark, nothing materialized on the driver). Its
  * oracle is the equivalent batch SQL restricted to watermark-closed
  * windows (window_end ≤ max(event time) − delay) — streaming and
  * batch must agree on bounded input (Spark's own unification
  * contract). Timestamps stay in integer epoch units end-to-end (the
  * source column is TIMESTAMP(NANOS)).
  */
object StreamQueries {

  /** Deterministic per-sf scratch path, WIPED — every streaming query
    * that writes a sink or source dir funnels through this one wipe
    * implementation (previously four divergent inline copies). Returns
    * the path without recreating it; callers that need the directory
    * to exist call createDirectories. */
  private def freshScratchDir(d: String, suffix: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_stream_${suffix}_${Integer.toHexString(d.hashCode)}")
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
      f.delete(); ()
    }
    deleteRec(p.toFile)
    p
  }

  /** Write `df` as the single parquet file `name`.parquet inside
    * `srcDir` — one file per planned micro-batch for the
    * maxFilesPerTrigger=1 ingest harnesses. */
  private def writeOnePart(srcDir: java.nio.file.Path, name: String,
                           df: DataFrame): Unit = {
    val build = srcDir.resolve(s"${name}_build")
    df.coalesce(1).write.parquet(build.toString)
    val part = Option(build.toFile.listFiles)
      .getOrElse(Array.empty[java.io.File])
      .find(x => x.getName.startsWith("part-") && x.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written under $build"))
    val target = srcDir.resolve(s"$name.parquet")
    java.nio.file.Files.move(part.toPath, target)
    // FileStreamSource orders files by modification time at MILLISECOND
    // granularity: two files written back-to-back can land in the same
    // millisecond, making which becomes micro-batch 0 nondeterministic
    // (q_stream_pack's oracle pins batch 0 = the first-written file).
    // Stamp each file one minute after the previous one in this dir so
    // write order IS processing order, always. Recent timestamps keep
    // the source's maxFileAge window comfortably satisfied.
    val seq = Option(srcDir.toFile.listFiles)
      .getOrElse(Array.empty[java.io.File])
      .count(_.getName.endsWith(".parquet"))
    // setLastModified returns false (rather than throwing) on
    // filesystems that refuse mtime updates — there the stamping fix
    // would silently no-op and batch-0 pinning would go flaky again, so
    // a degraded filesystem must fail LOUDLY here instead
    require(target.toFile.setLastModified(
        System.currentTimeMillis() - 3600L * 1000 + seq * 60L * 1000),
      s"cannot stamp mtime on $target — filesystem refuses setLastModified")
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
      f.delete(); ()
    }
    deleteRec(build.toFile); ()
  }

  /** Scratch dir holding `table`.parquet TWICE — verbatim (every row a
    * planted exact duplicate) or once verbatim + once through
    * `variant` (planted transformed duplicates) — the doubled-source
    * harness shared by the planted-duplicate streaming queries.
    * Rebuilt from scratch every run: a stale file from an earlier
    * corpus generation (or an earlier variant definition) would
    * pollute the stream. */
  private def doubledSourceDir(s: SparkSession, d: String, table: String,
      suffix: String, variant: Option[DataFrame => DataFrame] = None): String = {
    val p = freshScratchDir(d, suffix)
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
      f.delete(); ()
    }
    java.nio.file.Files.createDirectories(p)
    val src = java.nio.file.Paths.get(d, s"$table.parquet")
    java.nio.file.Files.copy(src, p.resolve("a.parquet"))
    variant match {
      case None =>
        java.nio.file.Files.copy(src, p.resolve("b.parquet")); ()
      case Some(f) =>
        val build = p.resolve("variant_build")
        f(s.read.parquet(src.toString)).coalesce(1).write.parquet(build.toString)
        val part = Option(build.toFile.listFiles).getOrElse(Array.empty[java.io.File])
          .find(x => x.getName.startsWith("part-") && x.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file written under $build"))
        java.nio.file.Files.move(part.toPath, p.resolve("b.parquet"))
        deleteRec(build.toFile)
    }
    p.toString
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The reference's always-on pipeline as a DECLARED streaming query:
    // binaryFile file-source (ListFile's seen-files state) → the SAME
    // enrich DAG as batch (MIME detect, text extract, metadata) →
    // QueryRecord's sentiment route, all through the real streaming
    // engine with a memory sink. Inputs are the immutable reference
    // fixtures, so the oracle is the golden row set (FixtureGolden
    // style) — batch/stream unification made hash-checkable.
    "q_stream_doc_pipeline" -> ((s, _) => {
      val schema = s.read.format("binaryFile").load(graft.Fixtures.dir).schema
      val stream = s.readStream.format("binaryFile").schema(schema).load(graft.Fixtures.dir)
      val routed = graft.pipeline.DocPipeline.enrich(stream)
        .select(col("filename"), col("mime_type"), col("orig_mime_type"),
          length(col("text")).as("text_chars"),
          graft.functions.Sentiment.sentimentCol(col("text")).as("sentiment"))
      StreamPipeline.runAppendToMemory(s, routed, "q_stream_doc_pipeline")
        .orderBy(col("filename"))
    }),
    "q_stream_window" -> ((s, d) => {
      val agg = StreamPipeline.windowedCounts(
        StreamPipeline.readEvents(s, d), watermark = Some("30 minutes"))
      // Deterministic per-sf scratch dir, wiped before each run — repeated
      // invocations reuse one directory instead of leaking a tempdir each.
      val out = freshScratchDir(d, "window").toString
      // state = |windows|×|types| ≈ 3600 rows: 8 state partitions, not
      // the session's relational 32 (see withStateParts' measurement)
      StreamPipeline.runAppendToDir(s, agg, out, Seq("event_type"),
          stateParts = Some(8))
        // terminal decimal → double for engine-stable hashing (exact value)
        .withColumn("total_value", col("total_value").cast("double"))
        .select("window_start_us", "event_type", "n", "total_value")
        .orderBy(col("window_start_us"), col("event_type"))
    }),

    // the same watermarked window through the EXACTLY-ONCE sink
    // (per-batch batch_id dirs + overwrite instead of blind append):
    // replay-safe delivery must not change a single emitted row, so
    // this declares the idempotent path under the same oracle as
    // q_stream_window.
    "q_stream_window_once" -> ((s, d) => {
      val agg = StreamPipeline.windowedCounts(
        StreamPipeline.readEvents(s, d), watermark = Some("30 minutes"))
      val out = freshScratchDir(d, "windowonce").toString
      StreamPipeline.runAppendToDirExactlyOnce(s, agg, out, Seq("event_type"),
          stateParts = Some(8))
        .withColumn("total_value", col("total_value").cast("double"))
        .select("window_start_us", "event_type", "n", "total_value")
        .orderBy(col("window_start_us"), col("event_type"))
    }),

    // COMPLETE output mode (the third mode beside the Append used
    // everywhere else): an unwindowed global aggregation re-emits its
    // full state each trigger — right for small always-current
    // rollups (dashboards), never for corpus-sized state. On bounded
    // input the final emission must equal the batch GROUP BY.
    "q_stream_complete" -> ((s, d) => {
      val agg = StreamPipeline.readEvents(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("total_value"))
      StreamPipeline.runToCompletion(s, agg, s"complete_${d.hashCode.abs}")
        .withColumn("total_value", col("total_value").cast("double"))
        .orderBy(col("n").desc, col("event_type"))
    }),

    // SLIDING windows (1 h length, 30 min slide): every event lands in
    // exactly length/slide = 2 windows — the overlapping-window shape
    // between tumbling (q_stream_window) and session
    // (q_stream_session_window). Same watermark-closed Append contract.
    "q_stream_sliding" -> ((s, d) => {
      val agg = StreamPipeline.windowedCounts(
        StreamPipeline.readEvents(s, d), watermark = Some("30 minutes"),
        slide = Some("30 minutes"))
      val out = freshScratchDir(d, "sliding").toString
      StreamPipeline.runAppendToDir(s, agg, out, Seq("event_type"))
        .withColumn("total_value", col("total_value").cast("double"))
        .select("window_start_us", "event_type", "n", "total_value")
        .orderBy(col("window_start_us"), col("event_type"))
    }),

    // SCD2 maintained over the live CDC stream: per-user open
    // intervals live in flatMapGroupsWithState state (one small record
    // per key), each type change emits the CLOSED interval — the
    // warehouse history table kept current without ever re-running the
    // batch window. On bounded input the emitted set must equal the
    // batch q_scd2 restricted to closed rows (valid_to IS NOT NULL);
    // the open tail is exactly what remains in state.
    "q_stream_scd2" -> ((s, d) => {
      val src = StreamPipeline.readEvents(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .as[StreamPipeline.TypedEvent](StreamPipeline.typedEventEnc)
      val closed = StreamPipeline.scd2Stream(src)
      StreamPipeline.runAppendToMemory(s, closed.toDF(), s"scd2_${d.hashCode.abs}")
        // valid_to + event_type complete the total order: zero-length
        // intervals can share (user_id, valid_from), and consecutive
        // changes always differ in type
        .orderBy(col("user_id"), col("valid_from"), col("valid_to"),
          col("event_type"))
    }),

    // Trending terms over a live document stream: tokens carry a
    // synthetic event time spreading the corpus over 4 hour-buckets,
    // a 30-min watermark bounds per-(window, token) count state, and
    // Append emits each window's vocabulary counts as it closes; the
    // top-5-per-window rank runs BATCH over the closed windows in the
    // sink (ranking needs the window complete — exactly what Append
    // emission guarantees — so the streaming state never holds a
    // heap, just the counts). The oracle replays the same bucketing
    // with the inclusive aligned-end close rule q_stream_window pins.
    "q_stream_trending" -> ((s, d) => {
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val counts = stream.select(
          timestamp_micros(lit(1700000000000000L) +
            (col("doc_id") % 4) * 3600000000L +
            (col("doc_id") % 3600L) * 1000000L).as("etime"),
          explode(filter(split(col("text"), " "), x => x =!= "")).as("tok"))
        .withWatermark("etime", "30 minutes")
        .groupBy(window(col("etime"), "1 hour"), col("tok"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("tok"), col("n"))
      val out = freshScratchDir(d, "trending").toString
      val closed = StreamPipeline.runAppendToDir(s, counts, out, Seq.empty)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("window_start_us"))
        .orderBy(col("n").desc, col("tok"))
      closed.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("window_start_us"), col("rank"), col("tok"), col("n"))
        .orderBy(col("window_start_us"), col("rank"))
    }),

    // stream-stream interval join through the real engine: clicks
    // inner-join purchases of the same user within the preceding hour.
    // Both sides carry 30-min watermarks, and the time-range predicate
    // is what lets the engine BOUND the join state (each side's rows
    // evict once the other side's watermark passes the interval) — the
    // unbounded-input analogue of the batch interval join the oracle
    // runs.
    "q_stream_join" -> ((s, d) => {
      val schema = s.read.parquet(s"$d/events.parquet").schema
      def src = Tables.normalizeEventTs(s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d))
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          StreamPipeline.eventTime("ts").as("ctime"))
        .withWatermark("ctime", "30 minutes")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"),
          StreamPipeline.eventTime("ts").as("ptime"), col("value"))
        .withWatermark("ptime", "30 minutes")
      val joined = clicks.join(purchases,
          col("user_id") === col("p_uid") &&
            col("ptime") <= col("ctime") &&
            col("ptime") >= col("ctime") - expr("INTERVAL 1 HOUR"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ctime")).as("tus"),
          unix_micros(col("ptime")).as("ptus"), col("value"))
      StreamPipeline.runAppendToMemory(s, joined, s"sjoin_${d.hashCode.abs}")
        .orderBy(col("user_id"), col("tus"), col("ptus"))
    }),

    // the LEFT OUTER form of the stream-stream interval join: clicks
    // with no purchase in the preceding hour must STILL emit (with
    // null purchase columns) — but only once the min-watermark proves
    // no match can arrive. OuterJoinEmissionSpec pins the engine's
    // boundary: a null row emits iff click time + 1 ms ≤
    // min(ms_floor(max click), ms_floor(max purchase)) − delay; the
    // oracle applies exactly that cutoff to the unmatched set, while
    // matched pairs emit unconditionally (inner semantics).
    "q_stream_join_outer" -> ((s, d) => {
      val schema = s.read.parquet(s"$d/events.parquet").schema
      def src = Tables.normalizeEventTs(s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d))
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          StreamPipeline.eventTime("ts").as("ctime"))
        .withWatermark("ctime", "30 minutes")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"),
          StreamPipeline.eventTime("ts").as("ptime"), col("value"))
        .withWatermark("ptime", "30 minutes")
      val joined = clicks.join(purchases,
          col("user_id") === col("p_uid") &&
            col("ptime") <= col("ctime") &&
            col("ptime") >= col("ctime") - expr("INTERVAL 1 HOUR"),
          "left_outer")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ctime")).as("tus"),
          unix_micros(col("ptime")).as("ptus"), col("value"))
      StreamPipeline.runAppendToMemory(s, joined, s"sjoino_${d.hashCode.abs}")
        // value joins the sort key: two purchases in the same
        // microsecond matching one click differ only in value
        .orderBy(col("user_id"), col("tus"), col("event_id"),
          col("ptus").asc_nulls_first, col("value").asc_nulls_first)
    }),

    // stream-static enrichment join: the unbounded event stream joins a
    // bounded dimension built once in batch. Spark BROADCASTS the
    // static side into every micro-batch — no state store at all (vs
    // the stream-stream join's watermark-bounded state), which is why
    // this is the right shape for dimension lookups at any stream rate.
    "q_stream_enrich" -> ((s, d) => {
      val schema = s.read.parquet(s"$d/events.parquet").schema
      val stream = Tables.normalizeEventTs(s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d))
      val dim = Tables.events(s, d).select(col("event_type")).distinct()
        .withColumn("type_code", substring(md5(col("event_type")), 1, 8))
      val enriched = stream.join(broadcast(dim), Seq("event_type"))
        .select(col("event_id"), col("type_code"),
          expr("ts div 1000").as("tus"))
      StreamPipeline.runAppendToMemory(s, enriched, s"enrich_${d.hashCode.abs}")
        .orderBy(col("event_id"))
    }),

    "q_sessionize" -> ((s, d) => {
      StreamPipeline.sessionize(Tables.events(s, d))
        .toDF()
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // NATIVE session windows (the declarative sibling of sessionize's
    // flatMapGroupsWithState): gap-merged sessions through the real
    // engine, watermark-bounded state, Append emits each session once
    // it CLOSES (watermark past last event + gap). The oracle is the
    // same gaps-and-islands SQL restricted to closed sessions — the
    // q_stream_window convention applied to variable-length windows.
    "q_stream_session_window" -> ((s, d) => {
      val ev = StreamPipeline.readEvents(s, d)
        .withColumn("etime", StreamPipeline.eventTime("ts"))
      val agg = ev.withWatermark("etime", "30 minutes")
        .groupBy(col("user_id"), session_window(col("etime"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          col("n_events"))
      val out = freshScratchDir(d, "sesswin").toString
      StreamPipeline.runAppendToDir(s, agg, out, Seq.empty)
        .orderBy(col("user_id"), col("session_start_us"))
    }),

    // streaming exact dedup through the real engine: the source dir
    // holds TWO copies of events.parquet, so every event is a planted
    // duplicate the in-stream state must drop; output = the distinct
    // key set, which the batch DISTINCT oracle reproduces
    "q_stream_dedup" -> ((s, d) => {
      val dir = doubledSourceDir(s, d, "events", "dedup")
      val schema = s.read.parquet(s"$d/events.parquet").schema
      val stream = s.readStream.schema(schema).parquet(dir)
      StreamPipeline.runAppendToMemory(s,
          StreamPipeline.dedupEvents(stream), s"dedup_${d.hashCode.abs}")
        .orderBy(col("user_id"), col("tus"), col("event_type"))
    }),

    // streaming canonical-form dedup: the source dir holds the corpus
    // PLUS an uppercased-and-punctuated variant copy — in-stream state
    // must collapse every variant onto its original's canonical
    // fingerprint. Output is the text-derived fp ONLY, so whichever
    // duplicate arrives first the result is identical. dropDuplicates
    // without watermark = unbounded state: the right shape for this
    // bounded backfill harness; a continuous feed would use
    // dropDuplicatesWithinWatermark like dedupEvents.
    "q_stream_canonical_dedup" -> ((s, d) => {
      val dir = doubledSourceDir(s, d, "documents", "canon", Some(docs =>
        docs.select((col("doc_id") + 1000000L).as("doc_id"),
          graft.ext.TextStats.plantedVariantCol(col("text")).as("text"),
          col("lang"), col("source"), col("n_chars"))))
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val stream = s.readStream.schema(schema).parquet(dir)
      val canon = stream
        .select(sha2(graft.ext.TextStats.normalizeCol(col("text")), 256).as("fp"))
        .dropDuplicates("fp")
      StreamPipeline.runAppendToMemory(s, canon, s"canon_${d.hashCode.abs}")
        .orderBy(col("fp"))
    }),

    // the WATERMARKED form of streaming canonical dedup — the
    // continuous-feed production path q_stream_canonical_dedup's
    // comment promises: dropDuplicatesWithinWatermark bounds the state
    // store (a key's entry evicts once the watermark passes its event
    // time; StreamingSpec proves the eviction behaviorally). Duplicates
    // carry the SAME synthetic event time as their originals (doc_id
    // mod the variant offset), and ALL event times land inside one
    // watermark interval (…% 3600 s spans ≤ 59m59s < the 1-hour
    // delay), so no first-occurrence can ever be late-dropped — the
    // watermark (max − 1 h) never passes ANY event time while data
    // remains. The emitted set therefore equals the distinct canonical
    // fps under ANY micro-batch split (maxFilesPerTrigger, bigger sfs
    // included); late re-emission, the one behavior that differs from
    // plain dropDuplicates, cannot trigger here and is pinned in the
    // spec instead.
    "q_stream_dedup_watermark" -> ((s, d) => {
      val dir = doubledSourceDir(s, d, "documents", "wmdedup", Some(docs =>
        docs.select((col("doc_id") + 1000000L).as("doc_id"),
          graft.ext.TextStats.plantedVariantCol(col("text")).as("text"),
          col("lang"), col("source"), col("n_chars"))))
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val stream = s.readStream.schema(schema).parquet(dir)
      val canon = stream
        .select(sha2(graft.ext.TextStats.normalizeCol(col("text")), 256).as("fp"),
          timestamp_micros(
            lit(1700000000000000L) + (col("doc_id") % 1000000L % 3600L) * 1000000L)
            .as("etime"))
        .withWatermark("etime", "1 hour")
        .dropDuplicatesWithinWatermark("fp")
        .select("fp")
      StreamPipeline.runAppendToMemory(s, canon, s"wmdedup_${d.hashCode.abs}")
        .orderBy(col("fp"))
    }),

    // stream-side MinHash near-dup: incoming documents are banded and
    // joined against the PERSISTED signature store built by earlier
    // batches (StreamPipeline.incrementalNearDups — the q_dedup_minhash
    // pipeline made incremental). The doubled source plants one
    // verbatim copy per doc under a shifted id, so the exact pair set
    // is known: every (i, i+1e6) at J=1.0 plus the corpus's own
    // J≥0.8 relation expanded to the copies — batch-split-invariant
    // because in-batch and cross-batch detection union to the same
    // set. The oracle evaluates the Jaccard relation over the doubled
    // corpus directly.
    "q_stream_neardup" -> ((s, d) => {
      val dir = doubledSourceDir(s, d, "documents", "neardup", Some(docs =>
        docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))))
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val stream = s.readStream.schema(schema).parquet(dir)
        .select(col("doc_id"), col("text"))
      val corpus = s.read.parquet(dir).select(col("doc_id"), col("text"))
      val store = freshScratchDir(d, "neardup_store").toString
      val out = freshScratchDir(d, "neardup_out").toString
      StreamPipeline.incrementalNearDups(s, stream, corpus, store, out)
        .orderBy(col("i"), col("j"))
    }),

    // streaming ANN index maintenance: a FRESH IVF index is built on
    // the base embeddings, then exact copies of every even/odd-id
    // vector arrive as TWO micro-batches (two source files,
    // maxFilesPerTrigger=1) and are cell-assigned with the frozen
    // centroid model and appended to the cell-partitioned corpus
    // (StreamPipeline.ivfIngest). The post-stream probe then runs the
    // normal DPP-pruned top-k over the maintained index: every query's
    // top-1 MUST be its ingested copy (cosine exactly 1.0 beats every
    // distinct vector — the corpus has no duplicate vectors), so the
    // oracle is the closed-form (qid, qid + 1e6) relation. Recall
    // across ≥2 batches is structural: a copy lands in the same cell
    // as its original by construction.
    "q_stream_ann_ingest" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val idxDir = freshScratchDir(d, "annidx").toString
      graft.ext.Ivf.buildIndex(emb, "vec_id", "embedding", idxDir,
        k = 16, iters = 2)
      val srcDir = freshScratchDir(d, "annnew")
      java.nio.file.Files.createDirectories(srcDir)
      val copies = emb.select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding"))
      writeOnePart(srcDir, "a", copies.filter(col("vec_id") % 2 === 0))
      writeOnePart(srcDir, "b", copies.filter(col("vec_id") % 2 =!= 0))
      val stream = s.readStream.schema(copies.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      StreamPipeline.ivfIngest(s, stream, idxDir, "vec_id", "embedding")
      val queries = emb.filter(col("vec_id") % 37 === 0)
      graft.ext.Ivf.topKIndexed(s, idxDir, queries,
          "vec_id", "embedding", k = 1, nProbe = 2)
        .filter(col("rank") === 1)
        .select(col("qid"), col("nid").as("hit"))
        .orderBy(col("qid"))
    }),

    // streaming LEXICAL index maintenance (the ann_ingest pattern for
    // BM25): a fresh index is built on the base documents, then a +1M-
    // id copy of every doc arrives as TWO micro-batches (two source
    // files, maxFilesPerTrigger=1); each batch's tf rows append to the
    // token-partitioned store and df/stats re-derive from the INDEX
    // (Bm25.ingestIntoIndex — batch-bounded tokenize, posting-bounded
    // aggregation, no corpus rescan). The post-stream probe runs the
    // normal pruned top-k, and the ORACLE replays full BM25 over the
    // union corpus in SQL — hash-exact, so stale df/stats, a missed
    // batch, or double-ingest cannot match (n_docs/avgdl/df all shift).
    "q_stream_bm25_ingest" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val idxDir = freshScratchDir(d, "bm25idx").toString
      graft.ext.Bm25.ensureIndex(docs, "doc_id", "text", idxDir)
      val srcDir = freshScratchDir(d, "bm25new")
      java.nio.file.Files.createDirectories(srcDir)
      val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text"))
      writeOnePart(srcDir, "a", copies.filter(col("doc_id") % 2 === 0))
      writeOnePart(srcDir, "b", copies.filter(col("doc_id") % 2 =!= 0))
      val stream = s.readStream.schema(copies.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      StreamPipeline.bm25Ingest(s, stream, idxDir, "doc_id", "text")
      val qterms = s.read.schema(graft.ext.Bm25.TfSchema).parquet(s"$idxDir/tf")
        .filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), col("tok")).distinct()
      graft.ext.Bm25.topK(s, idxDir, qterms, 10)
    }),

    // the STREAMING maintainer under the generation-store protocol —
    // q_stream_bm25_ingest's workload where long-running readers sit
    // beside the maintainer: the base index publishes as generation 0,
    // each micro-batch RE-RESOLVES the current generation and
    // stage-commits into it, and at autoCompactEvery=2 the second
    // batch's own foreachBatch publishes the folded generation + runs
    // the age-gated GC (the superseded generation must survive for its
    // readers — asserted). Serving from the post-stream current
    // generation must score EXACTLY as a from-scratch batch build over
    // the union corpus: the same oracle as q_stream_bm25_ingest, so a
    // batch appended to a stale generation, a missed fold, or a lost
    // delta cannot hash-match.
    "q_stream_genstore_bm25" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val root = freshScratchDir(d, "genbm25stream").toString
      val g0 = graft.ext.GenerationStore.publish(s, root) { genDir =>
        graft.ext.Bm25.ensureIndex(docs, "doc_id", "text", genDir)
      }
      val srcDir = freshScratchDir(d, "genbm25new")
      java.nio.file.Files.createDirectories(srcDir)
      val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text"))
      writeOnePart(srcDir, "a", copies.filter(col("doc_id") % 2 === 0))
      writeOnePart(srcDir, "b", copies.filter(col("doc_id") % 2 =!= 0))
      val stream = s.readStream.schema(copies.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      StreamPipeline.bm25IngestGen(s, stream, root, "doc_id", "text",
        autoCompactEvery = 2)
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(g0)),
        "superseded generation must survive the GC age gate for its readers")
      val cur = graft.ext.GenerationStore.currentGenDir(s, root)
        .getOrElse(sys.error(s"no committed generation under $root"))
      require(cur != g0, "auto-compaction must have published a NEW generation")
      require(graft.ext.Bm25.committedBatchDirs(s, cur).isEmpty,
        "the folded generation must carry no staged batches")
      val qterms = s.read.schema(graft.ext.Bm25.TfSchema).parquet(
          graft.ext.Bm25.storePaths(s, cur, "tf"): _*)
        .filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), col("tok")).distinct()
      graft.ext.Bm25.topK(s, cur, qterms, 10)
    }),

    // streaming topic-shard routing: centroids train once on the base
    // corpus (k·d longs of driver metadata), then a LIVE stream of new
    // embeddings is assigned map-only per micro-batch — no join, no
    // state store — and appended to a cluster-partitioned shard store.
    // The oracle replays the batch k-means on the base corpus: the
    // shifted copies carry identical embeddings, so their streamed
    // assignments must equal the batch assignments exactly, whatever
    // order the two micro-batches commit in.
    "q_stream_kmeans_ingest" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val cents = graft.ext.KMeans.fitCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 4)
      val srcDir = freshScratchDir(d, "kmnew")
      java.nio.file.Files.createDirectories(srcDir)
      val copies = emb.select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding"))
      writeOnePart(srcDir, "a", copies.filter(col("vec_id") % 2 === 0))
      writeOnePart(srcDir, "b", copies.filter(col("vec_id") % 2 =!= 0))
      val outDir = freshScratchDir(d, "kmshards").toString
      val stream = s.readStream.schema(copies.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      StreamPipeline.kmeansIngest(s, stream, outDir, cents,
        "vec_id", "embedding")
      graft.ext.KMeans.readShards(s, outDir)
        .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
        .orderBy(col("vec_id"))
    }),

    // streaming SemDeDup maintenance (VERDICT r18 "What's missing"
    // #2): the cell model freezes over the ORIGINAL corpus
    // (SemDedup.initStream), then three forced micro-batches arrive —
    // the originals, then ×1.5 clones of every 5th vector split across
    // TWO further batches (planted CROSS-BATCH semantic dups). Each
    // batch cell-assigns under the frozen model, compares within-cell
    // against the committed representative store, and stage-commits
    // verdicts + new representatives with one atomic marker. The
    // analytic oracle is the batch operator's, via first-wins:
    // originals can never drop (their only ≥τ-cosine partner arrives
    // LATER, and only kept docs enter the store), and a clone always
    // drops (its bit-identically-normalized original is already a
    // committed representative in its own cell under the frozen
    // deterministic assignment). A lost store batch, a torn commit, a
    // broken frozen assignment, or a store that accumulates dropped
    // docs would each break kept=¬clone.
    "q_stream_semdedup" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val root = freshScratchDir(d, "semdedupstream").toString
      graft.ext.SemDedup.initStream(s, root, emb, "vec_id", "embedding",
        k = 16, iters = 3)
      val srcDir = freshScratchDir(d, "semdedupnew")
      java.nio.file.Files.createDirectories(srcDir)
      val clones = emb.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
      writeOnePart(srcDir, "a", emb)
      writeOnePart(srcDir, "b", clones.filter(col("vec_id") % 2 === 0))
      writeOnePart(srcDir, "c", clones.filter(col("vec_id") % 2 =!= 0))
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      StreamPipeline.semDedupIngest(s, stream, root, "vec_id", "embedding",
        tau = 0.9)
      graft.ext.SemDedup.readStreamVerdicts(s, root)
        .select(col("id").as("vec_id"),
          (col("id") >= 1000000L).as("is_clone"), col("kept"))
        .orderBy(col("vec_id"))
    }),

    // streaming count-min maintenance: per micro-batch PARTIAL
    // sketches append to the store (no read side at all — counters of
    // independent sketches sum), and the merged store must equal the
    // sketch of the unioned corpus bit-for-bit: the mergeability
    // identity, asserted by replaying the doubled corpus in the
    // oracle. The exact-count side is the contract verifier only.
    "q_stream_cms_ingest" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val srcDir = freshScratchDir(d, "cmsnew")
      java.nio.file.Files.createDirectories(srcDir)
      val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text"))
      writeOnePart(srcDir, "a", docs)
      writeOnePart(srcDir, "b", copies)
      val storeDir = freshScratchDir(d, "cmsstore").toString
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      StreamPipeline.cmsIngest(s, stream, storeDir, "text")
      val union = docs.select(col("text")).unionAll(copies.select(col("text")))
      val exact = graft.ext.CountMin.tokens(union, "text")
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      graft.ext.CountMin
        .estimates(exact, graft.ext.CountMin.storeSketch(s, storeDir))
        .withColumn("overestimate_ok", col("est") >= col("n"))
        .orderBy(col("est").desc, col("tok"))
        .limit(20)
    }),

    // ingest-store COMPACTION under the correctness gate: three batch
    // ingests fragment generation 0 of a count-min store; serve the
    // held generation, compact (a publish — Compaction.compactCmsToGeneration),
    // serve the new current one. The two servings must be
    // value-identical (the oracle replays the estimates — compaction
    // is a pure fold) and the parquet file count must provably drop.
    // The held generation is immutable, so its serving stays lazy.
    "q_store_compact" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val root = freshScratchDir(d, "compactgate").toString
      val held = graft.ext.GenerationStore.publish(s, root) { genDir =>
        (0 until 3).foreach { i =>
          graft.ext.CountMin.ingestIntoStore(genDir,
            docs.filter(col("doc_id") % 3 === i), "text")
        }
      }
      val cur = graft.ext.Compaction.compactCmsToGeneration(s, root)
      val exact = graft.ext.CountMin.tokens(docs, "text")
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      def serve(gen: String) = graft.ext.CountMin.estimates(
        exact, graft.ext.CountMin.storeSketch(s, gen))
      val filesDropped = graft.ext.Compaction.parquetFileCount(s, cur) <
        graft.ext.Compaction.parquetFileCount(s, held)
      serve(held).select(col("tok"), col("n"), col("est").as("est_before"))
        .join(serve(cur).select(col("tok"), col("est").as("est_after")),
          Seq("tok"))
        .withColumn("files_dropped", lit(filesDropped))
        .orderBy(col("est_after").desc, col("tok")).limit(20)
    }),

    // the GENERATION-STORE serving path on a real store (the
    // multi-writer/long-reader protocol carrying a production
    // workload, not just its own spec): build the even half of the
    // corpus as generation 0 (atomic manifest commit), stage-ingest
    // the odd half into that generation (append-only staged batches
    // with their own _COMMITTED markers — readers fold only committed
    // batches, so the extension is safe mid-read), resolve the
    // generation like a long-running reader would, publish a FOLDED
    // generation (compaction under the manifest protocol — nothing
    // renamed or deleted), run the age-gated GC, and serve top-k from
    // the new current generation. The scores must hash-equal a
    // from-scratch batch build over the WHOLE corpus (q_bm25_topk's
    // oracle verbatim), and the superseded generation must still exist
    // for the reader that resolved it — both asserted here.
    "q_genstore_bm25" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val root = freshScratchDir(d, "genbm25").toString
      val g0 = graft.ext.GenerationStore.publish(s, root) { genDir =>
        graft.ext.Bm25.ensureIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", genDir)
      }
      graft.ext.Bm25.ingestIntoIndex(s, g0,
        docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
      val held = graft.ext.GenerationStore.currentGenDir(s, root)
        .getOrElse(sys.error(s"no committed generation under $root"))
      graft.ext.Compaction.compactBm25ToGeneration(s, root)
      graft.ext.GenerationStore.gc(s, root, minAgeMs = 3600L * 1000)
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(held)),
        "superseded generation must survive the GC age gate for its readers")
      val cur = graft.ext.GenerationStore.currentGenDir(s, root)
        .getOrElse(sys.error(s"no committed generation under $root"))
      require(cur != held, "compaction must publish a NEW generation")
      val qterms = s.read.schema(graft.ext.Bm25.TfSchema).parquet(
          graft.ext.Bm25.storePaths(s, cur, "tf"): _*)
        .filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), col("tok")).distinct()
      graft.ext.Bm25.topK(s, cur, qterms, 10)
    }),

    // the generation-store protocol on the SECOND serving tier (ANN):
    // full IVF build published as generation 0, a +1M-id copy of every
    // vector STAGE-ingested into the committed generation (the
    // sanctioned append-only relaxation: cell assignment from the
    // frozen centroids, per-batch batches/<id>/ dir committed by one
    // atomic _COMMITTED create — readers fold only committed batches,
    // so a concurrent lister can never see a torn batch), then
    // compaction-as-publish folding centroids + base + committed
    // batches into a fresh generation, age-gated GC, and the pruned
    // top-k probe from the new current generation. Same structural
    // oracle as q_stream_ann_ingest: every query's top-1 must be its
    // ingested copy (same cell by construction, cosine 1.0).
    "q_genstore_ann" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val root = freshScratchDir(d, "genann").toString
      val g0 = graft.ext.GenerationStore.publish(s, root) { genDir =>
        graft.ext.Ivf.buildIndex(emb, "vec_id", "embedding", genDir,
          k = 16, iters = 2)
      }
      graft.ext.Ivf.ingestIntoIndex(s, g0,
        emb.select((col("vec_id") + 1000000L).as("vec_id"),
          col("embedding")),
        "vec_id", "embedding")
      val held = graft.ext.GenerationStore.currentGenDir(s, root)
        .getOrElse(sys.error(s"no committed generation under $root"))
      val cur = graft.ext.Compaction.compactIvfToGeneration(s, root)
      graft.ext.GenerationStore.gc(s, root, minAgeMs = 3600L * 1000)
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(held)),
        "superseded generation must survive the GC age gate for its readers")
      require(cur != held, "compaction must publish a NEW generation")
      val queries = emb.filter(col("vec_id") % 37 === 0)
      graft.ext.Ivf.topKIndexed(s, cur, queries,
          "vec_id", "embedding", k = 1, nProbe = 2)
        .filter(col("rank") === 1)
        .select(col("qid"), col("nid").as("hit"))
        .orderBy(col("qid"))
    }),

    // the generation-store protocol on the SPAN-ATTRIBUTE tier — the
    // store with the clearest long-running-reader workload (an
    // excision mix over the whole corpus runs for hours while tagging
    // continues): base spans over the even candidates published as
    // generation 0, the odd candidates stage-ingested into the
    // committed generation (atomic per-batch _COMMITTED markers),
    // compaction-as-publish folding base + batches doc_id-range-
    // clustered into a fresh generation, age-gated GC with the
    // superseded generation asserted alive for its in-flight readers,
    // then the span relation served from the new current generation.
    // The oracle re-derives every span tagger over the FULL candidate
    // set (q_span_attrs's oracle verbatim), so a lost batch, a
    // double-fold, or serving a stale generation cannot hash-match.
    "q_genstore_spans" -> ((s, d) => {
      val all = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("source"),
          CurationQueries.spanPlantedCol.as("text"))
      val bench = all.filter(col("source") === "src0")
      val cand = all.filter(col("source") =!= "src0")
      val root = freshScratchDir(d, "genspans").toString
      val g0 = graft.ext.GenerationStore.publish(s, root) { genDir =>
        graft.ext.Attributes.ensureSpanAttributes(
          cand.filter(col("doc_id") % 2 === 0), bench, genDir, n = 3)
      }
      graft.ext.Attributes.ingestIntoSpanAttributes(g0,
        cand.filter(col("doc_id") % 2 =!= 0),
        graft.ext.Attributes.benchGramSet(bench, n = 3), n = 3)
      val held = graft.ext.GenerationStore.currentGenDir(s, root)
        .getOrElse(sys.error(s"no committed generation under $root"))
      graft.ext.Compaction.compactSpansToGeneration(s, root)
      graft.ext.GenerationStore.gc(s, root, minAgeMs = 3600L * 1000)
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(held)),
        "superseded generation must survive the GC age gate for its readers")
      val cur = graft.ext.GenerationStore.currentGenDir(s, root)
        .getOrElse(sys.error(s"no committed generation under $root"))
      require(cur != held, "compaction must publish a NEW generation")
      graft.ext.Attributes.readSpans(s, cur)
        .orderBy(col("doc_id"), col("tag"), col("start"))
    }),

    // the generation-store protocol on the DOC-ATTRIBUTE tier (the
    // Dolma tag-once/mix-many store): even half tagged and published
    // as generation 0, odd half stage-ingested, fold-as-publish,
    // age-gated GC with the held generation asserted alive, then the
    // MIX served from the new current generation — the oracle
    // re-derives every tagger over the full corpus and replays the
    // mix predicate, so only a complete, exactly-once attribute
    // relation can match.
    "q_genstore_attrs" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val root = freshScratchDir(d, "genattrs").toString
      val g0 = graft.ext.GenerationStore.publish(s, root) { genDir =>
        graft.ext.Attributes.ensureAttributes(
          docs.filter(col("doc_id") % 2 === 0), genDir)
      }
      graft.ext.Attributes.ingestIntoAttributes(g0,
        docs.filter(col("doc_id") % 2 =!= 0))
      val held = graft.ext.GenerationStore.currentGenDir(s, root)
        .getOrElse(sys.error(s"no committed generation under $root"))
      graft.ext.Compaction.compactAttrsToGeneration(s, root)
      graft.ext.GenerationStore.gc(s, root, minAgeMs = 3600L * 1000)
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(held)),
        "superseded generation must survive the GC age gate for its readers")
      val cur = graft.ext.GenerationStore.currentGenDir(s, root)
        .getOrElse(sys.error(s"no committed generation under $root"))
      require(cur != held, "compaction must publish a NEW generation")
      graft.ext.Attributes.mixed(s, cur, docs,
          col("clf_keep") && col("gopher_keep"))
        .select(col("doc_id"), col("n_words"), col("quality_q4"),
          col("lang"), col("gopher_keep"), col("clf_keep"),
          md5(coalesce(col("text"), lit("")).cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // the STREAMING span maintainer under the generation protocol
    // (q_stream_span_ingest's workload with long-running readers
    // beside the maintainer): base spans publish as generation 0, each
    // micro-batch re-resolves the current generation and stage-commits
    // its span rows, and at autoCompactEvery=2 the second batch's own
    // foreachBatch publishes the folded generation + runs the age-gated
    // GC (the superseded generation must survive — asserted). The
    // served relation must equal the batch tag of the union corpus:
    // q_stream_span_ingest's oracle verbatim.
    "q_stream_genstore_spans" -> ((s, d) => {
      val base = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"))
      val shifted = base.select((col("doc_id") + 1000000L).as("doc_id"),
        col("source"), col("text"))
      val all = base.unionByName(shifted)
        .select(col("doc_id"), col("source"),
          CurationQueries.spanPlantedCol.as("text"))
      val bench = all.filter(col("source") === "src0")
      val baseCand = all.filter(col("source") =!= "src0" &&
        col("doc_id") < 1000000L)
      val newCand = all.filter(col("source") =!= "src0" &&
        col("doc_id") >= 1000000L)
      val root = freshScratchDir(d, "genspanstream").toString
      val g0 = graft.ext.GenerationStore.publish(s, root) { genDir =>
        graft.ext.Attributes.ensureSpanAttributes(baseCand, bench, genDir, n = 3)
      }
      val srcDir = freshScratchDir(d, "genspannew")
      java.nio.file.Files.createDirectories(srcDir)
      writeOnePart(srcDir, "a", newCand.filter(col("doc_id") % 2 === 0))
      writeOnePart(srcDir, "b", newCand.filter(col("doc_id") % 2 =!= 0))
      val stream = s.readStream.schema(newCand.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      StreamPipeline.spanIngestGen(s, stream, root, bench, n = 3,
        autoCompactEvery = 2)
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(g0)),
        "superseded generation must survive the GC age gate for its readers")
      val cur = graft.ext.GenerationStore.currentGenDir(s, root)
        .getOrElse(sys.error(s"no committed generation under $root"))
      require(cur != g0, "auto-compaction must have published a NEW generation")
      require(graft.ext.StagedBatches.committedDirs(s, cur).isEmpty,
        "the folded generation must carry no staged batches")
      graft.ext.Attributes.readSpans(s, cur)
        .orderBy(col("doc_id"), col("tag"), col("start"))
    }),

    // the generation-store protocol on the COUNT-MIN tier (the
    // frequency-serving store): even half's partial sketch published
    // as generation 0 (staged batches — CountMin.ingestIntoStore now
    // commits each batch atomically: mergeability covers summing
    // complete sketches, not a TORN one whose counters are half
    // visible), odd half stage-ingested, fold-as-publish to one
    // base sketch, age-gated GC with the held generation asserted
    // alive, then heavy-hitter estimates served from the new current
    // generation — the q_cms_heavy_hitters oracle replays the sketch
    // of the WHOLE corpus, so a lost batch or double-fold shifts
    // counters and fails the hash.
    "q_genstore_cms" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val root = freshScratchDir(d, "gencms").toString
      val g0 = graft.ext.GenerationStore.publish(s, root) { genDir =>
        graft.ext.CountMin.ingestIntoStore(genDir,
          docs.filter(col("doc_id") % 2 === 0), "text")
      }
      graft.ext.CountMin.ingestIntoStore(g0,
        docs.filter(col("doc_id") % 2 =!= 0), "text")
      val held = graft.ext.GenerationStore.currentGenDir(s, root)
        .getOrElse(sys.error(s"no committed generation under $root"))
      graft.ext.Compaction.compactCmsToGeneration(s, root)
      graft.ext.GenerationStore.gc(s, root, minAgeMs = 3600L * 1000)
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(held)),
        "superseded generation must survive the GC age gate for its readers")
      val cur = graft.ext.GenerationStore.currentGenDir(s, root)
        .getOrElse(sys.error(s"no committed generation under $root"))
      require(cur != held, "compaction must publish a NEW generation")
      require(graft.ext.StagedBatches.committedDirs(s, cur).isEmpty,
        "the folded generation must carry no staged batches")
      val exact = graft.ext.CountMin.tokens(docs, "text")
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      graft.ext.CountMin.estimates(exact,
          graft.ext.CountMin.storeSketch(s, cur))
        .withColumn("overestimate_ok", col("est") >= col("n"))
        .orderBy(col("est").desc, col("tok"))
        .limit(20)
    }),

    // the generation-store protocol on the TOPIC-SHARD tier: centroids
    // train once on the full corpus (k·d longs of driver metadata),
    // the even half's assignments publish as generation 0 (staged
    // batches — KMeans.ingestIntoShards), the odd half stage-ingests,
    // fold-as-publish restores file-per-cluster locality, age-gated GC
    // with the held generation asserted alive, and the served shard
    // relation must equal the batch k-means assignment of the whole
    // corpus (the unrolled-Lloyd oracle replay).
    "q_genstore_kmeans" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val cents = graft.ext.KMeans.fitCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 4)
      val root = freshScratchDir(d, "genkm").toString
      val g0 = graft.ext.GenerationStore.publish(s, root) { genDir =>
        graft.ext.KMeans.ingestIntoShards(genDir,
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", cents)
      }
      graft.ext.KMeans.ingestIntoShards(g0,
        emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding", cents)
      val held = graft.ext.GenerationStore.currentGenDir(s, root)
        .getOrElse(sys.error(s"no committed generation under $root"))
      graft.ext.Compaction.compactKmeansToGeneration(s, root)
      graft.ext.GenerationStore.gc(s, root, minAgeMs = 3600L * 1000)
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(held)),
        "superseded generation must survive the GC age gate for its readers")
      val cur = graft.ext.GenerationStore.currentGenDir(s, root)
        .getOrElse(sys.error(s"no committed generation under $root"))
      require(cur != held, "compaction must publish a NEW generation")
      require(graft.ext.StagedBatches.committedDirs(s, cur).isEmpty,
        "the folded generation must carry no staged batches")
      graft.ext.KMeans.readShards(s, cur)
        .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
        .orderBy(col("vec_id"))
    }),

    // the curation funnel running THROUGH the streaming engine over a
    // doubled corpus: language + quality gates, in-stream exact dedup,
    // deterministic sample — every output column is TEXT-derived (fp,
    // quality) and the sample keys on fp, so whichever duplicate
    // arrives first the result is identical (arrival order is not
    // deterministic across partitions; doc_id must not leak through)
    "q_stream_funnel" -> ((s, d) => {
      val dir = doubledSourceDir(s, d, "documents", "funnel")
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val stream = s.readStream.schema(schema).parquet(dir)
      val gated = stream.select(col("text"),
          graft.ext.TextStats.langIdCol(col("text")).as("lang_pred"),
          graft.ext.TextStats.qualityCol(col("text")).as("quality"))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
        .withColumn("fp", sha2(col("text"), 256))
        .dropDuplicates("fp")
      val sampled = gated
        .filter(graft.ext.Sampling.selector(col("fp")) <
          lit(graft.ext.Sampling.thresholdHex(0.5)))
        .select(col("fp"), col("quality"))
      StreamPipeline.runAppendToMemory(s, sampled, s"funnel_${d.hashCode.abs}")
        .orderBy(col("fp"))
    }),

    // streaming decontamination: the exact-gram screen over a LIVE
    // candidate stream, in Append mode with ZERO state — benchmark
    // grams are driver-collected once into a sorted array
    // (Contamination.screenStateless) and membership is a binary
    // search inside the map pass, so no stream-side join or
    // aggregation state exists and any micro-batch split emits
    // identical rows. Two source files + maxFilesPerTrigger=1 force
    // two REAL batches; the oracle is the batch screen's own SQL
    // (stream/batch unification, hash-checkable).
    // streaming content-defined chunking: the CDC pass is stateless
    // map-only column algebra, so it streams in Append mode unchanged
    // — chunk identity is per-document, no cross-batch state, any
    // micro-batch split emits the same chunk rows. Oracle: the batch
    // CDC window-hash replay (stream/batch unification again).
    // The Gopher rule gate is a stateless per-row projection, so it
    // runs UNCHANGED on a stream and must agree with the batch oracle
    // under ANY micro-batch split: corpus ∪ planted branch pages are
    // re-shipped as two parquet shards streamed one per trigger
    // (pmod, not %, because the planted ids are negative).
    "q_stream_gopher" -> ((s, d) => {
      val in = graft.ext.CurationFilters.withPlanted(
        s, s.read.parquet(s"$d/documents.parquet"),
        graft.ext.CurationFilters.gopherPlanted)
      val p = freshScratchDir(d, "gopherstream")
      java.nio.file.Files.createDirectories(p)
      def deleteRec(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
        f.delete(); ()
      }
      Seq(0, 1).foreach { par =>
        val build = p.resolve(s"build_$par")
        in.filter(pmod(col("doc_id"), lit(2)) === par).coalesce(1)
          .write.parquet(build.toString)
        val part = Option(build.toFile.listFiles)
          .getOrElse(Array.empty[java.io.File])
          .find(x => x.getName.startsWith("part-") && x.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file written under $build"))
        java.nio.file.Files.move(part.toPath, p.resolve(s"$par.parquet"))
        deleteRec(build.toFile)
      }
      val stream = s.readStream.schema(in.schema)
        .option("maxFilesPerTrigger", "1").parquet(p.toString)
      val gated = graft.ext.CurationFilters.gopherFrame(stream, "text")
      StreamPipeline.runAppendToMemory(s, gated, s"gopherstream_${d.hashCode.abs}")
        .orderBy(col("doc_id"))
    }),

    // streaming tokenize+pack ingest — the last operator between a
    // stream and a training job: the BPE model trains ONCE on the
    // corpus before the stream starts (Bpe.wordIdRelation, the
    // production train-once/encode-forever split), then each
    // micro-batch tokenizes against the frozen relation and packs into
    // fixed 512-token sequences scoped to the batch (per-shard packing:
    // each batch's tail closes short rather than waiting for future
    // data). The oracle replays training plus BOTH batch-local packings
    // via bat-partitioned windows — a wrong batch boundary, a leaked
    // cross-batch position, or any retraining drift breaks the hash.
    "q_stream_pack" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val wids = graft.ext.Bpe.wordIdRelation(docs, "text", 32).persist()
      val p = freshScratchDir(d, "packstream")
      java.nio.file.Files.createDirectories(p)
      writeOnePart(p, "a", docs.filter(col("doc_id") % 2 === 0))
      writeOnePart(p, "b", docs.filter(col("doc_id") % 2 =!= 0))
      val outDir = freshScratchDir(d, "packseqs").toString
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(p.toString)
      StreamPipeline.packIngest(s, stream, outDir, wids,
        "doc_id", "text", seqLen = 512)
      s.read.parquet(outDir)
        .select(col("bat"), col("seq_id"), col("seq_len"), col("n_docs"),
          md5(col("ids")).as("ids_md5"))
        .orderBy(col("bat"), col("seq_id"))
    }),

    // temperature mixing on a LIVE stream: thresholds freeze on the
    // BASE corpus (the train-once split — a real recipe fixes its
    // mixture before the data flows), then a doubled stream (base +
    // 1M-shifted copies, same sources) filters MAP-ONLY per batch —
    // no shuffle, no state, any micro-batch split keeps identical
    // rows. The oracle recomputes the base-corpus thresholds and
    // applies them to the union relation.
    "q_stream_temperature_mix" -> ((s, d) => {
      // same derived skewed class as q_temperature_mix — the
      // generator's real sources are uniform and would leave every
      // threshold at the trivial keep-all 'g'
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0, "rare")
            .when(col("doc_id") % 10 <= 2, "mid")
            .otherwise("bulk").as("source"))
      val thr = graft.ext.Sampling.temperatureThresholds(docs, "source")
      val union = docs.unionByName(docs.select(
        (col("doc_id") + 1000000L).as("doc_id"), col("source")))
      val srcDir = freshScratchDir(d, "tempmixstream")
      java.nio.file.Files.createDirectories(srcDir)
      writeOnePart(srcDir, "a", union.filter(col("doc_id") % 2 === 0))
      writeOnePart(srcDir, "b", union.filter(col("doc_id") % 2 =!= 0))
      val stream = s.readStream.schema(union.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      val kept = graft.ext.Sampling.applyKeepThresholds(
        stream, "doc_id", "source", thr)
      StreamPipeline.runAppendToMemory(s, kept,
          s"tempmix_${d.hashCode.abs}")
        .orderBy(col("doc_id"))
    }),

    // the STREAMING ingest on the unigram family: the frozen unigram
    // model (trained before the stream — wordPieceRelation) drives the
    // UNCHANGED packIngest, per-shard batch-scoped packing; the oracle
    // replays unigram training + the bat-partitioned pack arithmetic.
    // One (w, spos, tid) relation shape = one streaming machine for
    // both tokenizer families.
    "q_stream_unigram_pack" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val (uwids, _) = graft.ext.Unigram.wordPieceRelation(docs, "text")
      val wids = uwids.persist()
      val p = freshScratchDir(d, "unipackstream")
      java.nio.file.Files.createDirectories(p)
      writeOnePart(p, "a", docs.filter(col("doc_id") % 2 === 0))
      writeOnePart(p, "b", docs.filter(col("doc_id") % 2 =!= 0))
      val outDir = freshScratchDir(d, "unipackseqs").toString
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(p.toString)
      StreamPipeline.packIngest(s, stream, outDir, wids,
        "doc_id", "text", seqLen = 512)
      s.read.parquet(outDir)
        .select(col("bat"), col("seq_id"), col("seq_len"), col("n_docs"),
          md5(col("ids")).as("ids_md5"))
        .orderBy(col("bat"), col("seq_id"))
    }),

    // the STREAMING ingest on the WordPiece family — the frozen greedy
    // model through the UNCHANGED packIngest: with q_stream_pack (BPE)
    // and q_stream_unigram_pack this pins that ONE streaming machine
    // serves all three tokenizer families via the shared (w, spos,
    // tid) relation shape. The oracle replays the WordPiece vocabulary
    // cut + greedy walk + the bat-partitioned pack arithmetic.
    "q_stream_wordpiece_pack" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val (wwids, _) = graft.ext.WordPiece.wordPieceRelation(docs, "text")
      val wids = wwids.persist()
      val p = freshScratchDir(d, "wppackstream")
      java.nio.file.Files.createDirectories(p)
      writeOnePart(p, "a", docs.filter(col("doc_id") % 2 === 0))
      writeOnePart(p, "b", docs.filter(col("doc_id") % 2 =!= 0))
      val outDir = freshScratchDir(d, "wppackseqs").toString
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(p.toString)
      StreamPipeline.packIngest(s, stream, outDir, wids,
        "doc_id", "text", seqLen = 512)
      s.read.parquet(outDir)
        .select(col("bat"), col("seq_id"), col("seq_len"), col("n_docs"),
          md5(col("ids")).as("ids_md5"))
        .orderBy(col("bat"), col("seq_id"))
    }),

    // CROSS-BATCH TAIL CARRY: same frozen-tokenizer stream, but the
    // unfinished tail sequence carries between micro-batches instead of
    // closing short, so the store must equal the BATCH packing of the
    // whole corpus — the q_tokenize_roundtrip pack oracle VERBATIM,
    // which only holds if the boundary sequence is neither dropped,
    // duplicated, nor split. Files split by an id threshold (not
    // parity) so arrival order IS global id order and the equality is
    // hash-checkable.
    "q_stream_pack_carry" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val wids = graft.ext.Bpe.wordIdRelation(docs, "text", 32).persist()
      val mid = docs.agg(((min(col("doc_id")) + max(col("doc_id"))) / 2)
        .cast("long")).collect()(0).getLong(0)
      val p = freshScratchDir(d, "packcarrystream")
      java.nio.file.Files.createDirectories(p)
      writeOnePart(p, "a", docs.filter(col("doc_id") <= mid))
      writeOnePart(p, "b", docs.filter(col("doc_id") > mid))
      val outDir = freshScratchDir(d, "packcarryseqs").toString
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(p.toString)
      StreamPipeline.packIngestCarry(s, stream, outDir, wids,
        "doc_id", "text", seqLen = 512)
      StreamPipeline.packCarryServe(s, outDir, seqLen = 512)
        .select(col("seq_id"), col("seq_len"), col("n_docs"),
          md5(col("ids")).as("ids_md5"))
        .orderBy(col("seq_id"))
    }),

    // epoch-aware mixture materialization THROUGH the streaming engine:
    // the per-source (floor, threshold) literals and the md5 extra-copy
    // gate are per-row, the repetition fan-out an in-row explode — zero
    // state, Append mode, so the streamed rep rows must equal the batch
    // transform exactly under any micro-batch split. This is the
    // arrival-time shape of recipe upsampling: documents land, their
    // repetitions emit immediately, and re-tuning a source's epochs is
    // a restart with new literals, never a state migration.
    "q_stream_epoch_mix" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("source"))
      val p = freshScratchDir(d, "epochstream")
      java.nio.file.Files.createDirectories(p)
      writeOnePart(p, "a", docs.filter(col("doc_id") % 2 === 0))
      writeOnePart(p, "b", docs.filter(col("doc_id") % 2 =!= 0))
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(p.toString)
      val mixed = graft.ext.Sampling.epochMix(stream, "doc_id", "source",
          Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0),
          defaultEpochs = 1.0)
        .select(col("doc_id"), col("source"), col("rep"))
      StreamPipeline.runAppendToMemory(s, mixed, s"epochstream_${d.hashCode.abs}")
        .orderBy(col("doc_id"), col("rep"))
    }),

    // MLM pair construction running THROUGH the streaming engine:
    // every masking decision is a deterministic per-row projection, so
    // the streamed pairs must equal the batch transform exactly under
    // ANY micro-batch split — zero state, Append mode
    "q_stream_mlm" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val p = freshScratchDir(d, "mlmstream")
      java.nio.file.Files.createDirectories(p)
      writeOnePart(p, "a", docs.filter(col("doc_id") % 2 === 0))
      writeOnePart(p, "b", docs.filter(col("doc_id") % 2 =!= 0))
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(p.toString)
      val masked = graft.ext.MlmMask.maskFrame(stream, "doc_id", "text")
      StreamPipeline.runAppendToMemory(s, masked, s"mlmstream_${d.hashCode.abs}")
        .orderBy(col("doc_id"))
    }),

    "q_stream_chunk_cdc" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val p = freshScratchDir(d, "cdcstream")
      java.nio.file.Files.createDirectories(p)
      def deleteRec(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
        f.delete(); ()
      }
      Seq(0, 1).foreach { par =>
        val build = p.resolve(s"build_$par")
        docs.filter(col("doc_id") % 2 === par).coalesce(1)
          .write.parquet(build.toString)
        val part = Option(build.toFile.listFiles)
          .getOrElse(Array.empty[java.io.File])
          .find(x => x.getName.startsWith("part-") && x.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file written under $build"))
        java.nio.file.Files.move(part.toPath, p.resolve(s"$par.parquet"))
        deleteRec(build.toFile)
      }
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(p.toString)
      val chunks = graft.ext.Chunking.cdcChunks(stream, "doc_id", "text")
      StreamPipeline.runAppendToMemory(s, chunks, s"cdcstream_${d.hashCode.abs}")
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Streaming Dolma-attributes maintenance: base attributes built
    // from the corpus, then two micro-batches of NEW documents
    // (shifted ids, same text algebra the oracle can replay) append
    // their attribute rows via foreachBatch — tagging runs over each
    // BATCH, never the corpus. The final mix joins the grown relation
    // against the union corpus; the oracle re-derives every tagger
    // over the union, so only a correct incremental append can match.
    "q_stream_attrs_ingest" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val attrsDir = freshScratchDir(d, "attrsing").toString
      graft.ext.Attributes.ensureAttributes(docs, attrsDir)
      val srcDir = freshScratchDir(d, "attrsnew")
      java.nio.file.Files.createDirectories(srcDir)
      val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text"))
      writeOnePart(srcDir, "a", copies.filter(col("doc_id") % 2 === 0))
      writeOnePart(srcDir, "b", copies.filter(col("doc_id") % 2 =!= 0))
      val stream = s.readStream.schema(copies.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      StreamPipeline.attrsIngest(s, stream, attrsDir)
      graft.ext.Attributes.mixed(s, attrsDir, docs.unionByName(copies),
          col("clf_keep") && col("gopher_keep"))
        .select(col("doc_id"), col("n_words"), col("quality_q4"),
          col("lang"), col("gopher_keep"), col("clf_keep"),
          md5(coalesce(col("text"), lit("")).cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // Sentence segmentation running THROUGH the streaming engine: the
    // codegen'd boundary pass is a stateless per-row projection, so
    // streamed sentences must equal the batch split exactly under ANY
    // micro-batch split — zero state, Append mode, the q_stream_mlm
    // shape. Planted punctuation shared with q_sentence_split.
    "q_stream_sentences" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), ScaleOpsQueries.sentencePlantedCol.as("text"))
      val p = freshScratchDir(d, "sentstream")
      java.nio.file.Files.createDirectories(p)
      writeOnePart(p, "a", docs.filter(col("doc_id") % 2 === 0))
      writeOnePart(p, "b", docs.filter(col("doc_id") % 2 =!= 0))
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(p.toString)
      val sents = graft.ext.Chunking.sentences(stream, "doc_id", "text")
      StreamPipeline.runAppendToMemory(s, sents, s"sentstream_${d.hashCode.abs}")
        .orderBy(col("doc_id"), col("sent_idx"))
    }),

    // Streaming SPAN-attributes maintenance: base spans built from the
    // corpus candidates, then two micro-batches of NEW documents
    // (shifted ids, planted AFTER the shift so the oracle's planted
    // union replays it) append their span rows via foreachBatch —
    // tagging runs over each BATCH against the STATIC benchmark (src0
    // of the union), never the corpus. The final read must equal the
    // batch tag of the union, which only a correct incremental append
    // can produce.
    "q_stream_span_ingest" -> ((s, d) => {
      val base = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"))
      val shifted = base.select((col("doc_id") + 1000000L).as("doc_id"),
        col("source"), col("text"))
      val all = base.unionByName(shifted)
        .select(col("doc_id"), col("source"),
          CurationQueries.spanPlantedCol.as("text"))
      val bench = all.filter(col("source") === "src0")
      val baseCand = all.filter(col("source") =!= "src0" &&
        col("doc_id") < 1000000L)
      val newCand = all.filter(col("source") =!= "src0" &&
        col("doc_id") >= 1000000L)
      val spanDir = freshScratchDir(d, "spaning").toString
      graft.ext.Attributes.ensureSpanAttributes(baseCand, bench, spanDir, n = 3)
      val srcDir = freshScratchDir(d, "spannew")
      java.nio.file.Files.createDirectories(srcDir)
      writeOnePart(srcDir, "a", newCand.filter(col("doc_id") % 2 === 0))
      writeOnePart(srcDir, "b", newCand.filter(col("doc_id") % 2 =!= 0))
      val stream = s.readStream.schema(newCand.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      StreamPipeline.spanIngest(s, stream, spanDir, bench, n = 3)
      graft.ext.Attributes.readSpans(s, spanDir)
        .orderBy(col("doc_id"), col("tag"), col("start"))
    }),

    // Streaming WARC shard ingest — the crawl-side arrival story: two
    // parquet shard files delivered one per micro-batch, each batch's
    // documents packed into the planted WARC stream and walked by the
    // SAME recordMeta flatMap the batch query uses. Stateless 1→N
    // Append (no watermark, no state store): each record row emits in
    // whichever batch its shard arrived, so the union across batches
    // equals the batch walk of the whole corpus — the q_warc_members
    // oracle verbatim. At scale this is continuous crawl ingestion:
    // new .warc.gz shards land, the walker maps them as they arrive.
    "q_stream_warc" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val p = freshScratchDir(d, "warcstream")
      java.nio.file.Files.createDirectories(p)
      Seq(0, 1).foreach(par => writeOnePart(p, par.toString,
        docs.filter(col("doc_id") % 2 === par)))
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(p.toString)
      val withBin = stream.withColumn("payload",
        graft.ext.Warc.warcPlantedCol(col("text"), col("doc_id"), 101))
      val recs = graft.ext.Warc.recordMeta(withBin, "doc_id", "payload").toDF()
      StreamPipeline.runAppendToMemory(s, recs, s"warcstream_${d.hashCode.abs}")
        .orderBy(col("doc_id"), col("member_idx"))
    }),

    "q_stream_decontaminate" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val p = freshScratchDir(d, "decon")
      java.nio.file.Files.createDirectories(p)
      def deleteRec(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
        f.delete(); ()
      }
      val cand = docs.filter(col("source") =!= "src0")
      Seq(0, 1).foreach { par =>
        val build = p.resolve(s"build_$par")
        cand.filter(col("doc_id") % 2 === par).coalesce(1)
          .write.parquet(build.toString)
        val part = Option(build.toFile.listFiles)
          .getOrElse(Array.empty[java.io.File])
          .find(x => x.getName.startsWith("part-") && x.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file written under $build"))
        java.nio.file.Files.move(part.toPath, p.resolve(s"$par.parquet"))
        deleteRec(build.toFile)
      }
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(p.toString)
      val screened = graft.ext.Contamination.screenStateless(
        stream, docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 3, threshPct = 10)
      StreamPipeline.runAppendToMemory(s, screened, s"decon_${d.hashCode.abs}")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    // full BM25 replayed over the union corpus (shared generator with
    // q_bm25_topk) — the maintained index must score EXACTLY as a
    // from-scratch batch build over base ∪ streamed copies
    "q_stream_bm25_ingest" -> RetrievalQueries.bm25OracleSql(
      """SELECT doc_id, text FROM documents
        |    UNION ALL SELECT doc_id + 1000000, text FROM documents""".stripMargin),
    // generation-store serving must score exactly as a from-scratch
    // batch build over the whole corpus — q_bm25_topk's oracle verbatim
    "q_genstore_bm25" -> RetrievalQueries.bm25OracleSql(
      "SELECT doc_id, text FROM documents"),
    // generation-store ANN serving: the q_stream_ann_ingest structural
    // contract — top-1 of every query is its ingested identical copy
    "q_genstore_ann" ->
      """SELECT vec_id AS qid, vec_id + 1000000 AS hit
        |FROM embeddings WHERE vec_id % 37 = 0 ORDER BY qid""".stripMargin,
    // generation-store span serving must equal the batch tag of the
    // full candidate set — q_span_attrs's oracle verbatim
    "q_genstore_spans" ->
      (CurationQueries.spanCtesSql() + """
        |SELECT doc_id, tag, p_start, p_end, start, "end", score
        |FROM spans ORDER BY doc_id, tag, start""".stripMargin),
    // generation-store attribute serving: the mix over the grown
    // relation must equal a full re-tag of the corpus + the predicate
    "q_genstore_attrs" -> CurationQueries.dolmaAttrsSql(
      "clf_keep AND gopher_keep"),
    // generation-store CMS serving must equal the sketch of the whole
    // corpus — q_cms_heavy_hitters' oracle verbatim
    "q_genstore_cms" ->
      TextQualityQueries.cmsOracleSql("SELECT text FROM documents"),
    // generation-store shard serving must equal the batch k-means
    // assignment of the whole corpus (unrolled-Lloyd replay)
    "q_genstore_kmeans" ->
      (graft.ext.KMeans.unrolledSql(k = 8, iters = 4, dim = 64,
        table = "embeddings") +
        "SELECT vec_id, cluster FROM a5 ORDER BY vec_id"),
    // the streaming span maintainer under the generation protocol must
    // serve exactly the batch tag of the union corpus —
    // q_stream_span_ingest's oracle verbatim
    "q_stream_genstore_spans" ->
      (CurationQueries.spanCtesSql(
        """(SELECT doc_id, source, text FROM documents
          | UNION ALL
          | SELECT doc_id + 1000000 AS doc_id, source, text FROM documents) AS u
          |""".stripMargin) + """
        |SELECT doc_id, tag, p_start, p_end, start, "end", score
        |FROM spans ORDER BY doc_id, tag, start""".stripMargin),
    // the streaming maintainer under the generation protocol must
    // serve exactly as a from-scratch build over the union corpus —
    // q_stream_bm25_ingest's oracle verbatim
    "q_stream_genstore_bm25" -> RetrievalQueries.bm25OracleSql(
      """SELECT doc_id, text FROM documents
        |    UNION ALL SELECT doc_id + 1000000, text FROM documents""".stripMargin),
    "q_stream_kmeans_ingest" ->
      (graft.ext.KMeans.unrolledSql(k = 8, iters = 4, dim = 64, table = "embeddings") +
        "SELECT vec_id + 1000000 AS vec_id, cluster FROM a5 ORDER BY vec_id"),
    // first-wins + the planted-clone algebra reduce to the batch
    // operator's analytic oracle (see the query comment): originals
    // kept, clones dropped, whatever batch each clone landed in
    "q_stream_semdedup" ->
      """SELECT vec_id, false AS is_clone, true AS kept FROM embeddings
        |UNION ALL
        |SELECT vec_id + 1000000 AS vec_id, true AS is_clone, false AS kept
        |FROM embeddings WHERE vec_id % 5 = 0
        |ORDER BY vec_id""".stripMargin,
    // the estimates replay pins both servings (compaction is a pure
    // fold — before == after == the sketch of the whole corpus);
    // files_dropped pins the physical file-count reduction
    "q_store_compact" ->
      (TextQualityQueries.cmsEstCtesSql("SELECT text FROM documents") + """
        |SELECT tok, n, est AS est_before, est AS est_after,
        |       true AS files_dropped
        |FROM est ORDER BY est_after DESC, tok LIMIT 20""".stripMargin),

    "q_stream_cms_ingest" -> TextQualityQueries.cmsOracleSql(
      "SELECT text FROM documents UNION ALL SELECT text FROM documents"),
    // the batch screen's own oracle — streaming and batch must agree
    // on bounded input (unification), and the stateless form makes
    // the agreement exact under any micro-batch split
    "q_stream_decontaminate" -> ExtQueries.oracleSql("q_contamination"),
    // the batch gate's own oracle — stateless projection, so stream
    // and batch agree exactly under any micro-batch split
    "q_stream_gopher" -> CurationQueries.oracleSql("q_gopher_filter"),
    // frozen-tokenizer training + both batch-local packings replayed
    // via bat-partitioned windows (bat 0 = even ids = file a)
    "q_stream_pack" -> ExtHelpers.streamPackOracle(32, 512),
    // carry mode must equal the batch packing of the whole corpus —
    // the q_tokenize_roundtrip pack arithmetic, no bat column
    "q_stream_pack_carry" -> ExtHelpers.tokenizePackOracle(32, 512),
    // unigram training + the bat-partitioned pack arithmetic
    "q_stream_unigram_pack" -> graft.ext.Unigram.streamPackOracleSql(512),
    // WordPiece vocabulary cut + greedy walk + the same pack arithmetic
    "q_stream_wordpiece_pack" -> graft.ext.WordPiece.streamPackOracleSql(512),
    // base-corpus thresholds applied to the doubled union — the
    // q_temperature_mix grid arithmetic with counts from BASE docs only
    "q_stream_temperature_mix" ->
      """WITH sk AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN 'rare'
        |         WHEN doc_id % 10 <= 2 THEN 'mid'
        |         ELSE 'bulk' END AS source
        |  FROM documents),
        |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |      FROM sk GROUP BY source),
        |m AS (SELECT min(n) AS nmin FROM c),
        |t AS (SELECT c.source,
        |        CASE WHEN sqrt(CAST(m.nmin AS DOUBLE) / c.n) >= 1.0 THEN 'g'
        |             ELSE printf('%08x', CAST(least(
        |               floor(sqrt(CAST(m.nmin AS DOUBLE) / c.n)
        |                 * 4294967296.0 + 0.5), 4294967295.0) AS BIGINT))
        |        END AS thr
        |      FROM c, m),
        |u AS (SELECT doc_id, source FROM sk
        |      UNION ALL
        |      SELECT doc_id + 1000000 AS doc_id, source FROM sk)
        |SELECT u.doc_id, u.source
        |FROM u JOIN t USING (source)
        |WHERE md5(CAST(u.doc_id AS VARCHAR)) < t.thr
        |ORDER BY u.doc_id""".stripMargin,
    // the batch epoch-mix oracle verbatim — the gate and rep explode
    // are stateless per-row, so the streamed rows are split-invariant
    "q_stream_epoch_mix" -> ScaleOpsQueries.oracleSql("q_epoch_mix"),
    // the batch MLM oracle verbatim — masking is a stateless per-row
    // projection, so the streamed pairs are split-invariant
    "q_stream_mlm" -> CurationQueries.oracleSql("q_mlm_masking"),
    // stateless 1->N Append: union across batches = the batch split
    "q_stream_sentences" -> ScaleOpsQueries.oracleSql("q_sentence_split"),
    // the span CTE chain over the doubled planted corpus — base build +
    // two incremental appends must together equal the batch tag of the
    // union (bench = src0 of the union on both sides)
    "q_stream_span_ingest" ->
      (CurationQueries.spanCtesSql(
        """(SELECT doc_id, source, text FROM documents
          | UNION ALL
          | SELECT doc_id + 1000000 AS doc_id, source, text FROM documents) AS u
          |""".stripMargin) + """
        |SELECT doc_id, tag, p_start, p_end, start, "end", score
        |FROM spans ORDER BY doc_id, tag, start""".stripMargin),
    // the batch CDC oracle verbatim — chunking is per-document, so the
    // stream must emit the identical chunk relation
    "q_stream_chunk_cdc" -> ExtQueries.oracleSql("q_chunk_cdc"),
    // stateless Append: union across batches = the batch walk
    "q_stream_warc" -> IngestQueries.oracleSql("q_warc_members"),
    // incremental attribute appends must equal a full tag of the union
    "q_stream_attrs_ingest" -> CurationQueries.dolmaAttrsSql(
      "clf_keep AND gopher_keep",
      rel = """(SELECT doc_id, text FROM documents
              | UNION ALL
              | SELECT doc_id + 1000000, text FROM documents) AS u""".stripMargin),
    // maintained-index recall is structural (copy ≡ original ⇒ same
    // cell, cosine 1.0): top-1 of every query is its ingested copy
    "q_stream_ann_ingest" ->
      """SELECT vec_id AS qid, vec_id + 1000000 AS hit
        |FROM embeddings WHERE vec_id % 37 = 0 ORDER BY qid""".stripMargin,
    // immutable fixture inputs → golden row set (see FixtureGolden)
    "q_stream_doc_pipeline" ->
      """SELECT * FROM (VALUES
        |  ('big.pdf', 'text/plain', 'application/pdf', 65599, 'POSITIVE'),
        |  ('simple.doc', 'text/plain', 'application/msword', 931, 'POSITIVE'),
        |  ('simple.docx', 'text/plain',
        |   'application/vnd.openxmlformats-officedocument.wordprocessingml.document', 934, 'POSITIVE'),
        |  ('simple.pdf', 'text/plain', 'application/pdf', 949, 'POSITIVE')
        |) AS t(filename, mime_type, orig_mime_type, text_chars, sentiment)
        |ORDER BY filename""".stripMargin,
    // watermark-closed windows only: end ≤ max(event time) − 30 min.
    // All arithmetic in integer micros (hour = 3 600 000 000 µs).
    // This inclusive µs-exact cutoff IS the engine rule for ALIGNED
    // window ends — a window whose end equals the ms-floored watermark
    // EMITS (probed boundary-exact in EmissionRuleSpec; sessions below
    // differ: strict <). No ms-floor is needed here because for an
    // ms-aligned end+delay, floor_ms(max) ≥ X ⇔ max ≥ X.
    "q_stream_window" ->
      """WITH e AS (SELECT epoch_ns(ts) // 1000 AS tus, event_type, value FROM events)
        |SELECT (tus // 3600000000) * 3600000000 AS window_start_us,
        |  event_type, count(*) AS n,
        |  cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM e
        |GROUP BY 1, 2
        |HAVING window_start_us + 3600000000 + 1800000000 <= (SELECT max(tus) FROM e)
        |ORDER BY window_start_us, event_type""".stripMargin,
    // the exactly-once sink must emit the identical window set
    "q_stream_window_once" ->
      """WITH e AS (SELECT epoch_ns(ts) // 1000 AS tus, event_type, value FROM events)
        |SELECT (tus // 3600000000) * 3600000000 AS window_start_us,
        |  event_type, count(*) AS n,
        |  cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM e
        |GROUP BY 1, 2
        |HAVING window_start_us + 3600000000 + 1800000000 <= (SELECT max(tus) FROM e)
        |ORDER BY window_start_us, event_type""".stripMargin,
    // the batch SCD2 derivation restricted to CLOSED intervals
    "q_stream_scd2" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tus,
        |             event_type
        |           FROM events),
        |ch AS (SELECT *, lag(event_type, 1) OVER (PARTITION BY user_id
        |         ORDER BY tus ASC, event_id ASC) AS prev_type FROM e),
        |c2 AS (SELECT user_id, event_id, tus, event_type FROM ch
        |       WHERE prev_type IS NULL OR prev_type <> event_type),
        |r AS (SELECT user_id, event_type, tus AS valid_from,
        |        lead(tus, 1) OVER (PARTITION BY user_id
        |          ORDER BY tus ASC, event_id ASC) AS valid_to
        |      FROM c2)
        |SELECT user_id, event_type, valid_from, valid_to FROM r
        |WHERE valid_to IS NOT NULL
        |ORDER BY user_id, valid_from, valid_to, event_type""".stripMargin,

    // same synthetic hour-bucket times, same inclusive aligned-end
    // close rule; max(tus) over TOKEN rows (the watermark advances on
    // the exploded stream)
    "q_stream_trending" ->
      """WITH f AS (
        |  SELECT 1700000000000000 + (doc_id % 4) * 3600000000 +
        |           (doc_id % 3600) * 1000000 AS tus,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |counts AS (
        |  SELECT (tus // 3600000000) * 3600000000 AS window_start_us,
        |    tok, count(*) AS n
        |  FROM f GROUP BY 1, 2
        |  HAVING window_start_us + 3600000000 + 1800000000 <=
        |    (SELECT max(tus) FROM f)),
        |r AS (SELECT window_start_us, tok, n,
        |        CAST(row_number() OVER (PARTITION BY window_start_us
        |          ORDER BY n DESC, tok) AS INT) AS rank
        |      FROM counts)
        |SELECT window_start_us, rank, tok, n
        |FROM r WHERE rank <= 5 ORDER BY window_start_us, rank""".stripMargin,
    // bounded input: the last Complete emission IS the batch aggregate
    "q_stream_complete" ->
      """SELECT event_type, count(*) AS n,
        |  cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY n DESC, event_type""".stripMargin,
    // each event expands to its 2 covering window starts (the second
    // is always valid: tus − wstart ∈ [30 min, 60 min) < length);
    // watermark-closed filter as in q_stream_window — same inclusive
    // engine-exact cutoff (sliding windows share StateStoreSaveExec's
    // aligned-end eviction; EmissionRuleSpec pins the boundary)
    "q_stream_sliding" ->
      """WITH e AS (SELECT epoch_ns(ts) // 1000 AS tus, event_type, value
        |           FROM events),
        |w AS (SELECT tus, event_type, value,
        |        unnest([(tus // 1800000000) * 1800000000,
        |                (tus // 1800000000) * 1800000000 - 1800000000]) AS window_start_us
        |      FROM e)
        |SELECT window_start_us, event_type, count(*) AS n,
        |  cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM w
        |GROUP BY 1, 2
        |HAVING window_start_us + 3600000000 + 1800000000 <= (SELECT max(tus) FROM e)
        |ORDER BY window_start_us, event_type""".stripMargin,
    // same gap rule as q_sessionize (new session when diff > gap), in
    // MICROS; only sessions closed under the watermark emit in Append.
    // The cutoff mirrors the ENGINE's emission rule exactly: Spark
    // floors max event time to MILLISECONDS before subtracting the
    // delay, and holds a session whose end equals the watermark
    // (strict <, demonstrated on 4.1.2) — session ends carry arbitrary
    // microsecond offsets, so unlike the aligned tumbling/sliding
    // window ends the inclusive micro-exact form would diverge on data
    // landing in the sub-millisecond boundary band
    "q_stream_session_window" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus FROM events),
        |marked AS (
        |  SELECT user_id, tus,
        |    CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus)
        |           > 1800000000
        |         OR lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, tus,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY tus
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM marked),
        |agg AS (
        |  SELECT user_id, session_idx, min(tus) AS session_start_us,
        |    max(tus) AS last_us, count(*) AS n_events
        |  FROM sessions GROUP BY 1, 2)
        |SELECT user_id, session_start_us, n_events
        |FROM agg, (SELECT max(tus) AS mx FROM e) m
        |WHERE last_us + 1800000000 < (m.mx // 1000) * 1000 - 1800000000
        |ORDER BY user_id, session_start_us""".stripMargin,
    // the enrichment join is stateless, so the oracle is the plain
    // batch join over the same dimension derivation
    "q_stream_enrich" ->
      """SELECT event_id, substring(md5(event_type), 1, 8) AS type_code,
        |  epoch_ns(ts) // 1000 AS tus
        |FROM events ORDER BY event_id""".stripMargin,
    // the batch interval join the stream-stream join must reproduce
    "q_stream_join" ->
      """SELECT c.user_id, c.event_id, epoch_ns(c.ts) // 1000 AS tus,
        |  epoch_ns(p.ts) // 1000 AS ptus, p.value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        | AND p.ts >= c.ts - INTERVAL 1 HOUR
        |ORDER BY c.user_id, tus, ptus""".stripMargin,
    // matched pairs unconditionally; unmatched clicks gated by the
    // pinned t + 1ms ≤ min-watermark rule (OuterJoinEmissionSpec)
    "q_stream_join_outer" ->
      """WITH c AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tus
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_ns(ts) // 1000 AS ptus, value
        |      FROM events WHERE event_type = 'purchase'),
        |w AS (SELECT least((SELECT (max(tus) // 1000) * 1000 FROM c),
        |                   (SELECT (max(ptus) // 1000) * 1000 FROM p))
        |             - 1800000000 AS wm),
        |m AS (SELECT c.user_id, c.event_id, c.tus, p.ptus, p.value
        |      FROM c JOIN p ON c.user_id = p.user_id
        |        AND p.ptus <= c.tus AND p.ptus >= c.tus - 3600000000),
        |unmatched AS (
        |  SELECT c.user_id, c.event_id, c.tus,
        |    CAST(NULL AS BIGINT) AS ptus, CAST(NULL AS DOUBLE) AS value
        |  FROM c CROSS JOIN w
        |  WHERE c.tus + 1000 <= w.wm
        |    AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
        |      AND p.ptus <= c.tus AND p.ptus >= c.tus - 3600000000))
        |SELECT user_id, event_id, tus, ptus, value FROM m
        |UNION ALL SELECT user_id, event_id, tus, ptus, value FROM unmatched
        |ORDER BY user_id, tus, event_id, ptus NULLS FIRST,
        |  value NULLS FIRST""".stripMargin,
    "q_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, epoch_ns(ts) AS tns,
        |    CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts))
        |           OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) > 1800000000000
        |         OR lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) IS NULL
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, tns,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY tns
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM marked)
        |SELECT user_id, cast(session_idx AS INT) AS session_idx,
        |  count(*) AS n_events,
        |  cast((max(tns) - min(tns)) // 1000000000 AS BIGINT) AS duration_sec
        |FROM sessions GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    // the doubled stream deduped = the distinct key set of the original
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, epoch_ns(ts) // 1000 AS tus, event_type
        |FROM events ORDER BY user_id, tus, event_type""".stripMargin,
    // canonical fingerprints of the doubled corpus = distinct
    // canonical fps of the original (every variant collapses)
    "q_stream_canonical_dedup" ->
      s"""WITH c AS (
         |  SELECT text FROM documents
         |  UNION ALL
         |  SELECT ${graft.ext.TextStats.plantedVariantSql("text")} FROM documents),
         |n AS (SELECT ${graft.ext.TextStats.normalizeSql("text")} AS norm
         |      FROM c)
         |SELECT DISTINCT sha256(norm) AS fp FROM n ORDER BY fp""".stripMargin,
    // watermarked dedup, planted duplicates all in-watermark → same
    // distinct-canonical-fp contract as the unbounded-state form
    "q_stream_dedup_watermark" ->
      s"""WITH c AS (
         |  SELECT text FROM documents
         |  UNION ALL
         |  SELECT ${graft.ext.TextStats.plantedVariantSql("text")} FROM documents),
         |n AS (SELECT ${graft.ext.TextStats.normalizeSql("text")} AS norm
         |      FROM c)
         |SELECT DISTINCT sha256(norm) AS fp FROM n ORDER BY fp""".stripMargin,
    // the Jaccard relation over the doubled corpus (same shingle
    // semantics as the batch jaccard oracles in ExtQueries)
    "q_stream_neardup" ->
      """WITH c AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 1000000, text FROM documents),
        |tok AS (SELECT doc_id, generate_subscripts(t,1) pos, unnest(t) w
        |        FROM (SELECT doc_id, string_split(text,' ') t FROM c)),
        |sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
        |       FROM tok a JOIN tok b ON b.doc_id=a.doc_id AND b.pos=a.pos+1
        |                  JOIN tok c ON c.doc_id=a.doc_id AND c.pos=a.pos+2),
        |sizes AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id i, b.doc_id j, count(*) cnt
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1,2)
        |SELECT i, j, floor(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt) * 10000 + 0.5) / 10000 AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
        |WHERE cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt) >= 0.8
        |ORDER BY i, j""".stripMargin,
    // text-derived columns only: whichever duplicate wins in-stream,
    // (fp, quality) is the same — DISTINCT over the batch mirror
    "q_stream_funnel" ->
      s"""WITH scored AS (
         |  SELECT text,
         |    ${graft.ext.TextStats.langIdSql("text")} AS lang_pred,
         |    ${graft.ext.TextStats.qualitySql("text")} AS quality
         |  FROM documents)
         |SELECT DISTINCT sha256(text) AS fp, quality FROM scored
         |WHERE lang_pred = 'en' AND quality >= 0.5
         |  AND md5(sha256(text)) < '80000000'
         |ORDER BY fp""".stripMargin
  )
}
