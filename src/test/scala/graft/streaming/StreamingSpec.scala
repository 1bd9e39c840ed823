package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import scala.jdk.CollectionConverters._

/** Streaming behaviors the batch oracle can't check: incremental
  * micro-batches through the file source, watermark-gated append
  * output, and mapGroupsWithState session state held across batches.
  */
class StreamingSpec extends AnyFunSuite with SparkSuite {
  private def tmpDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_stream").toFile
    d.deleteOnExit(); d
  }

  test("windowed agg over the streaming engine equals batch on bounded input") {
    val sf = "/root/testdata/sf0.001"
    val streamed = StreamPipeline.runToCompletion(spark,
      StreamPipeline.windowedCounts(StreamPipeline.readEvents(spark, sf)), "wspec")
    val batch = StreamPipeline.windowedCounts(graft.queries.Tables.events(spark, sf))
    assert(streamed.count() == batch.count())
    val s1 = streamed.orderBy("window_start_us", "event_type").collect().map(_.toString)
    val b1 = batch.orderBy("window_start_us", "event_type").collect().map(_.toString)
    assert(s1.sameElements(b1))
  }

  test("append path emits exactly the watermark-closed windows") {
    val sf = "/root/testdata/sf0.001"
    val events = graft.queries.Tables.events(spark, sf)
    val out = tmpDir()
    val appended = StreamPipeline.runAppendToDir(spark,
      StreamPipeline.windowedCounts(
        StreamPipeline.readEvents(spark, sf), watermark = Some("30 minutes")),
      out.getAbsolutePath, Seq("event_type"))
    // expected: the batch result restricted to windows the watermark
    // closed — end (start + 1h) ≤ max event time − 30 min
    val maxUs = events.select(max(expr("ts div 1000"))).head().getLong(0)
    val expected = StreamPipeline.windowedCounts(events)
      .filter(col("window_start_us") + 3600000000L + 1800000000L <= maxUs)
    val a = appended.select("window_start_us", "event_type", "n", "total_value")
      .orderBy("window_start_us", "event_type").collect().map(_.toString)
    val e = expected.orderBy("window_start_us", "event_type").collect().map(_.toString)
    assert(a.nonEmpty)
    assert(a.sameElements(e))
    // partitioned sink: one batch_id dir per micro-batch, one
    // event_type dir per type inside it
    val batchDirs = out.listFiles().filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(batchDirs.nonEmpty)
    assert(batchDirs.exists(_.listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("event_type="))))
  }

  test("exactly-once sink: a replayed micro-batch rewrites, not duplicates") {
    import spark.implicits._
    val out = tmpDir()
    val w = StreamPipeline.idempotentBatchWriter(out.getAbsolutePath, Seq("event_type"))
    val batch = Seq(("click", 1L), ("click", 2L), ("buy", 3L))
      .toDF("event_type", "k")
    w(batch, 7)
    w(batch, 7) // crash between sink write and offset commit → replay
    val readBack = spark.read.parquet(out.getAbsolutePath)
    assert(readBack.count() == 3) // not 6 — the replay overwrote
    assert(readBack.select("batch_id").distinct().count() == 1)
    // a DIFFERENT batch id still appends alongside
    w(batch.filter(col("k") === 1L), 8)
    assert(spark.read.parquet(out.getAbsolutePath).count() == 4)
  }

  test("stateParts sizes the stream's own session; a concurrent query keeps the caller's width") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sf = "/root/testdata/sf0.001"
    val own = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(own != 8)
    // a second thread plans a shuffle while the stream starts and runs
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    @volatile var done = false
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val planner = new Thread(() => try while (!done) {
      val plan = spark.range(100).groupBy(col("id") % 3).count()
        .queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.initialPlan
          case p => p
        }
      plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
        .foreach(widths.add)
    } catch { case e: Throwable => errors.add(e); () })
    planner.start()
    val out = try StreamPipeline.runAppendToDir(spark,
      StreamPipeline.windowedCounts(
        StreamPipeline.readEvents(spark, sf), watermark = Some("30 minutes")),
      tmpDir().getAbsolutePath, Seq("event_type"), stateParts = Some(8))
    finally { done = true; planner.join() }
    assert(out.count() > 0)
    assert(errors.isEmpty, errors)
    assert(!widths.isEmpty)
    assert(widths.asScala.toSet == Set(own))
  }

  test("file source delivers files incrementally (ListFile state analogue)") {
    import spark.implicits._
    val dir = tmpDir()
    val schema = "user_id LONG, ts LONG"
    Seq((1L, 1000L)).toDF("user_id", "ts").write.parquet(dir + "/f1")
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // backpressure knob
      .parquet(dir + "/f*/")
    val q = in.groupBy().count()
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("inc").start()
    try {
      q.processAllAvailable()
      assert(spark.table("inc").head().getLong(0) == 1L)
      Seq((2L, 2000L), (3L, 3000L)).toDF("user_id", "ts").write.parquet(dir + "/f2")
      q.processAllAvailable()
      assert(spark.table("inc").head().getLong(0) == 3L) // only new file added
    } finally q.stop()
  }

  test("document pipeline runs unchanged under streaming ingest (SURVEY §7.3 step 5)") {
    import graft.pipeline.DocPipeline
    val fixtures = graft.Fixtures.dir
    val schema = spark.read.format("binaryFile").load(fixtures).schema
    val stream = spark.readStream.format("binaryFile")
      .schema(schema) // streaming sources don't infer
      .option("pathGlobFilter", "*.pdf") // ListFile File Filter analogue
      .load(fixtures)
    val enriched = DocPipeline.enrich(stream) // same DAG as batch
    val q = enriched
      .select("filename", "mime_type", "orig_mime_type", "error")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("docstream").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("docstream").collect()
      assert(rows.length == 2) // simple.pdf + big.pdf
      assert(rows.forall(_.getAs[String]("orig_mime_type") == "application/pdf"))
      assert(rows.forall(_.getAs[String]("error") == null))
    } finally q.stop()
  }

  test("streaming routes write partitioned files via foreachBatch (MergeContent+PutFile)") {
    import spark.implicits._
    val in = tmpDir(); val out = tmpDir()
    Seq(("a", "POSITIVE"), ("b", "NEGATIVE"), ("c", "POSITIVE"))
      .toDF("id", "sentiment").write.parquet(in + "/b1")
    val stream = spark.readStream.schema("id STRING, sentiment STRING")
      .parquet(in + "/b*/")
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // one pass, one dir per route — the streaming MergeContent+PutFile
        batch.persist()
        batch.write.mode("append").partitionBy("sentiment")
          .parquet(out.getAbsolutePath)
        batch.unpersist(); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val dirs = out.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("sentiment=POSITIVE", "sentiment=NEGATIVE"))
    assert(spark.read.parquet(out.getAbsolutePath).count() == 3)
  }

  test("mapGroupsWithState holds open sessions across micro-batches") {
    import spark.implicits._
    val dir = tmpDir()
    val gap = StreamPipeline.GapNanos
    // batch 1: two events 1s apart (one open session for user 1)
    Seq(StreamPipeline.Event(1L, 0L), StreamPipeline.Event(1L, 1000000000L))
      .toDF().write.parquet(dir + "/b1")
    val in = spark.readStream.schema("user_id LONG, ts LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir + "/b*/").as[StreamPipeline.Event]
    val q = StreamPipeline.sessionizeStream(in)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sess").count() == 0) // session still open in state
      // batch 2: an event past the gap closes session 1
      Seq(StreamPipeline.Event(1L, gap * 2)).toDF().write.parquet(dir + "/b2")
      q.processAllAvailable()
      val closed = spark.table("sess").as[StreamPipeline.Session].collect()
      assert(closed.length == 1)
      assert(closed.head == StreamPipeline.Session(1L, 1, 2, 1))
    } finally q.stop()
  }

  test("scd2Stream closes intervals across micro-batches and drops late rows") {
    import spark.implicits._
    val dir = tmpDir()
    // batch 1: user 1 at type A (open interval from t=1s)
    Seq(StreamPipeline.TypedEvent(1L, 10L, 1000000000L, "A"))
      .toDF().write.parquet(dir + "/b1")
    val in = spark.readStream
      .schema("user_id LONG, event_id LONG, ts LONG, event_type STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir + "/b*/").as[StreamPipeline.TypedEvent]
    val q = StreamPipeline.scd2Stream(in)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("scd2spec").start()
    try {
      q.processAllAvailable()
      assert(spark.table("scd2spec").count() == 0) // interval still open
      // batch 2: a change at t=5s closes [1s, 5s)
      Seq(StreamPipeline.TypedEvent(1L, 20L, 5000000000L, "B"))
        .toDF().write.parquet(dir + "/b2")
      q.processAllAvailable()
      val closed = spark.table("scd2spec")
        .as[StreamPipeline.Scd2Closed].collect()
      assert(closed.toSeq == Seq(
        StreamPipeline.Scd2Closed(1L, "A", 1000000L, 5000000L)))
      // batch 3: a LATE C row at t=2s — behind the open B interval —
      // must be dropped, not rewrite history or emit a bogus close
      Seq(StreamPipeline.TypedEvent(1L, 15L, 2000000000L, "C"))
        .toDF().write.parquet(dir + "/b3")
      q.processAllAvailable()
      assert(spark.table("scd2spec").count() == 1)
    } finally q.stop()
  }

  test("streaming dedup drops duplicates arriving in a LATER micro-batch") {
    import spark.implicits._
    val dir = tmpDir()
    // two files, forced into separate micro-batches: the duplicate key
    // in file 2 must be dropped by state carried from file 1
    Seq((1L, 1000000000L, "click"), (2L, 2000000000L, "view"))
      .toDF("user_id", "ts", "event_type").write.parquet(dir + "/f1")
    Seq((1L, 1000000000L, "click"), (3L, 3000000000L, "click"))
      .toDF("user_id", "ts", "event_type").write.parquet(dir + "/f2")
    val in = spark.readStream.schema("user_id LONG, ts LONG, event_type STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir + "/f*/")
    val out = StreamPipeline.runAppendToMemory(spark,
      StreamPipeline.dedupEvents(in), "dedupspec")
    val keys = out.select("user_id").as[Long].collect().sorted
    assert(keys.sameElements(Array(1L, 2L, 3L))) // the re-sent (1, click) is gone
  }

  test("incremental near-dup finds a pair whose sides arrive in DIFFERENT batches") {
    import spark.implicits._
    val dir = tmpDir()
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // doc 2 = doc 1 + one token: 8 vs 9 3-gram shingles, 8 shared →
    // Jaccard 8/9 ≈ 0.889 ≥ 0.8
    Seq((1L, base)).toDF("doc_id", "text").write.parquet(dir + "/f1")
    Seq((2L, base + " lambda"), (3L, "totally unrelated words here now"))
      .toDF("doc_id", "text").write.parquet(dir + "/f2")
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1") // force the cross-batch path
      .parquet(dir + "/f*/")
    val corpus = Seq((1L, base), (2L, base + " lambda"),
      (3L, "totally unrelated words here now")).toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("graft_nd_store")
    val out = java.nio.file.Files.createTempDirectory("graft_nd_out")
    java.nio.file.Files.delete(store); java.nio.file.Files.delete(out)
    val pairs = StreamPipeline.incrementalNearDups(spark, stream, corpus,
        store.toString, out.toString)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    // (1, 2) can only be detected against the persisted store: doc 1's
    // bands were written by batch 1, doc 2 arrived in batch 2
    assert(pairs == Set((1L, 2L)))
  }

  test("streaming SemDeDup: a clone arriving in a LATER batch drops against the stored representative") {
    import spark.implicits._
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val dir = tmpDir()
    // batch 1: two separated directions; batch 2: a ×2 clone of doc 1
    // (CROSS-BATCH semantic dup — only detectable against the
    // committed representative store) plus a fresh direction
    Seq((1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0)))
      .toDF("vec_id", "embedding").coalesce(1).write.parquet(dir + "/f1")
    Seq((11L, v(2, 0, 0, 0)), (12L, v(0, 0, 1, 0)))
      .toDF("vec_id", "embedding").coalesce(1).write.parquet(dir + "/f2")
    val root = tmpDir().getAbsolutePath
    val boot = Seq((1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0)),
      (3L, v(0, 0, 1, 0)), (4L, v(0, 0, 0, 1)))
      .toDF("vec_id", "embedding")
    graft.ext.SemDedup.initStream(spark, root, boot, "vec_id", "embedding",
      k = 2, iters = 2)
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1") // force the cross-batch path
      .parquet(dir + "/f*/")
    val n = StreamPipeline.semDedupIngest(spark, stream, root,
      "vec_id", "embedding", tau = 0.9)
    assert(n == 2, s"expected 2 micro-batches, got $n")
    val out = graft.ext.SemDedup.readStreamVerdicts(spark, root)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> true, 2L -> true, 11L -> false, 12L -> true))
    // state honesty: the representative store holds ONLY kept docs —
    // a store that accumulates dropped docs re-grows the corpus
    val repIds = graft.ext.StagedBatches.committedDirs(spark, root)
      .flatMap(b => spark.read.parquet(s"$b/reps")
        .select($"id").as[Long].collect())
      .toSet
    assert(repIds == Set(1L, 2L, 12L))
  }

  test("streaming SemDeDup: the in-batch i<j rule matches the batch operator") {
    import spark.implicits._
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val dir = tmpDir()
    // ONE batch carrying both sides of a dup pair: smaller id wins,
    // exactly the batch operator's rule
    Seq((1L, v(1, 0, 0, 0)), (5L, v(3, 0, 0, 0)), (9L, v(0, 1, 0, 0)))
      .toDF("vec_id", "embedding").coalesce(1).write.parquet(dir + "/f1")
    val root = tmpDir().getAbsolutePath
    graft.ext.SemDedup.initStream(spark, root,
      Seq((1L, v(1, 0, 0, 0)), (9L, v(0, 1, 0, 0)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 2, iters = 2)
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(dir + "/f*/")
    StreamPipeline.semDedupIngest(spark, stream, root,
      "vec_id", "embedding", tau = 0.9)
    val out = graft.ext.SemDedup.readStreamVerdicts(spark, root)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> true, 5L -> false, 9L -> true))
  }

  test("dropDuplicatesWithinWatermark EVICTS key state once the watermark passes") {
    import spark.implicits._
    val dir = tmpDir()
    val t0 = 1700000000L * 1000000L // µs
    def write(sub: String, rows: (String, Long)*): Unit =
      rows.toSeq.toDF("k", "tus").write.parquet(s"$dir/$sub")
    write("f1", ("k1", t0))
    val in = spark.readStream.schema("k STRING, tus LONG").parquet(dir + "/f*/")
      .withColumn("etime", timestamp_micros(col("tus")))
      .withWatermark("etime", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val q = in.select("k").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("wmevict").start()
    try {
      q.processAllAvailable()
      assert(spark.table("wmevict").as[String].collect().toSeq == Seq("k1"))
      // in-watermark duplicate: dropped by state
      write("f2", ("k1", t0 + 60L * 1000000L))
      q.processAllAvailable()
      assert(spark.table("wmevict").count() == 1)
      // advance the watermark an hour past k1's entry → eviction
      write("f3", ("other", t0 + 3600L * 1000000L))
      q.processAllAvailable()
      // the same key re-sent AFTER eviction is re-admitted and
      // RE-EMITTED — the bounded-state trade-off that distinguishes
      // this operator from unbounded dropDuplicates
      write("f4", ("k1", t0 + 3600L * 1000000L))
      q.processAllAvailable()
      val ks = spark.table("wmevict").as[String].collect().sorted.toSeq
      assert(ks == Seq("k1", "k1", "other"))
      // LATE re-send: k1 with its ORIGINAL event time, now far below
      // the watermark (~t0+50min) and with its first state entry long
      // evicted. The engine must LATE-DROP it, not re-admit it — this
      // is the behavior q_stream_dedup_watermark's any-batch-split
      // determinism stands on (a planted duplicate whose original's
      // state was evicted arrives with the same old event time and
      // must not re-emit).
      write("f5", ("k1", t0))
      q.processAllAvailable()
      val ks2 = spark.table("wmevict").as[String].collect().sorted.toSeq
      assert(ks2 == Seq("k1", "k1", "other"), s"late row was not dropped: $ks2")
    } finally q.stop()
  }

  test("IVF ingest appends across micro-batches and probes see the result") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val baseN = emb.count()
    val idxDir = new java.io.File(tmpDir(), "idx").getAbsolutePath
    graft.ext.Ivf.buildIndex(emb, "vec_id", "embedding", idxDir, k = 8, iters = 2)
    val srcDir = tmpDir()
    val copies = emb.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    // two files → two micro-batches under maxFilesPerTrigger=1
    copies.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$srcDir/a")
    copies.filter(col("vec_id") % 2 =!= 0).coalesce(1)
      .write.parquet(s"$srcDir/b")
    val stream = spark.readStream.schema(copies.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(srcDir.getAbsolutePath)
    val nBatches = StreamPipeline.ivfIngest(spark, stream, idxDir,
      "vec_id", "embedding")
    assert(nBatches >= 2, s"expected >= 2 micro-batches, saw $nBatches")
    // the maintained corpus (base + committed staged batches) holds
    // base + ingested rows, all cell-assigned
    val corpus = graft.ext.Ivf.readCorpus(spark, idxDir)
    assert(corpus.count() == baseN * 2)
    assert(corpus.filter(col("cell").isNull).count() == 0)
    // a probe over the maintained index finds each ingested copy as the
    // exact top-1 of its original (cosine 1.0)
    val queries = emb.filter(col("vec_id") % 13 === 0)
    val top1 = graft.ext.Ivf.topKIndexed(spark, idxDir, queries,
        "vec_id", "embedding", k = 1, nProbe = 2)
      .filter(col("rank") === 1)
      .select(col("qid"), col("nid")).as[(Long, Long)].collect().toMap
    for ((qid, nid) <- top1)
      assert(nid == qid + 1000000L, s"query $qid top-1 was $nid")
    assert(top1.nonEmpty)
  }

  test("bounded-group guard: a hot key fails loudly at the cap, not OOM") {
    // under the cap: identity
    assert(StreamPipeline.boundedBuffer(1L, Iterator(1, 2, 3), cap = 3)
      .sameElements(Array(1, 2, 3)))
    // over the cap: a descriptive failure naming the key
    val e = intercept[IllegalStateException] {
      StreamPipeline.boundedBuffer(42L, Iterator.from(0), cap = 100)
    }
    assert(e.getMessage.contains("42") && e.getMessage.contains("100"))
    assert(e.getMessage.contains("bounded-group"))
  }

  test("carry-mode pack ingest is idempotent under full-stream redelivery") {
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val wids = graft.ext.Bpe.wordIdRelation(docs, "text", 16).persist()
    val srcDir = tmpDir()
    // two files with strictly increasing mtimes → deterministic
    // file→batch mapping on every (re)start
    for ((name, par) <- Seq(("a", 0), ("b", 1))) {
      val build = new java.io.File(srcDir, s"build_$name")
      docs.filter(col("doc_id") % 2 === par).coalesce(1)
        .write.parquet(build.getAbsolutePath)
      val part = build.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + par * 60000L)
      build.listFiles().foreach(_.delete()); build.delete()
    }
    val outDir = new java.io.File(tmpDir(), "carryout").getAbsolutePath
    def runStream(): Unit = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet").parquet(srcDir.getAbsolutePath)
      StreamPipeline.packIngestCarry(spark, stream, outDir, wids,
        "doc_id", "text", seqLen = 64)
    }
    runStream()
    def serveRows() = StreamPipeline.packCarryServe(spark, outDir, 64)
      .collect().map(_.toString).sorted.toSeq
    val first = serveRows()
    assert(first.nonEmpty)
    // a restart WITHOUT a source checkpoint redelivers every file from
    // batch 0 — each batch's generation is already committed, so the
    // re-run must change NOTHING (the r15 review found the recovery
    // path reading the redelivered batch's own generation as prior
    // state and double-packing the corpus)
    runStream()
    assert(serveRows() == first, "redelivered batches must be no-ops")
    wids.unpersist()
  }

  test("BM25 ingest appends across micro-batches; stats track the union") {
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idxDir = new java.io.File(tmpDir(), "bmidx").getAbsolutePath
    graft.ext.Bm25.ensureIndex(docs, "doc_id", "text", idxDir)
    val statsBefore = spark.read.parquet(s"$idxDir/stats").collect()(0)
    val srcDir = tmpDir()
    val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text"))
    copies.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$srcDir/a")
    copies.filter(col("doc_id") % 2 =!= 0).coalesce(1)
      .write.parquet(s"$srcDir/b")
    val stream = spark.readStream.schema(copies.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(srcDir.getAbsolutePath)
    val nBatches = StreamPipeline.bm25Ingest(spark, stream, idxDir,
      "doc_id", "text")
    assert(nBatches >= 2, s"expected >= 2 micro-batches, saw $nBatches")
    // each batch stages under batches/b_<key>/ and commits atomically;
    // the SERVING fold over base + committed batches — column sums,
    // per-token sums — sees every streamed doc: n_docs and total
    // length both exactly double (copies are verbatim)
    assert(graft.ext.Bm25.committedBatchDirs(spark, idxDir).nonEmpty)
    val statsAfter = spark.read
      .parquet(graft.ext.Bm25.storePaths(spark, idxDir, "stats"): _*)
      .agg(sum(col("n_docs")), sum(col("tot_dl"))).collect()(0)
    assert(statsAfter.getLong(0) == statsBefore.getLong(0) * 2)
    assert(statsAfter.getLong(1) == statsBefore.getLong(1) * 2)
    // folded df doubled for every token (same text, disjoint new ids)
    val badDf = spark.read
      .parquet(graft.ext.Bm25.storePaths(spark, idxDir, "df"): _*)
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))
      .filter(col("df") % 2 =!= 0)
    assert(badDf.count() == 0, "every token's folded df must double")
    // and a probe's top-1 scores the union corpus: for each query doc
    // its +1M copy carries the identical token profile, so the copy's
    // score equals the best any identical-profile doc can reach
    val tf = spark.read
      .parquet(graft.ext.Bm25.storePaths(spark, idxDir, "tf"): _*)
    assert(tf.filter(col("doc_id") >= 1000000L).count() ==
      tf.filter(col("doc_id") < 1000000L).count())
  }

  test("a drain on the caller's session leaves its conf unchanged") {
    import spark.implicits._
    // every micro-batch body runs on `spark` itself (fold included:
    // autoCompactEvery = 2), so a conf write there would reach any
    // reader planning concurrently; a sampler thread reads the conf
    // for the whole drain, as such a reader would
    val root = new java.io.File(tmpDir(), "store").getAbsolutePath
    graft.ext.GenerationStore.publish(spark, root) { g =>
      graft.ext.Bm25.ensureIndex(
        Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text"),
        "doc_id", "text", g)
    }
    val srcDir = tmpDir()
    Seq((10L, "alpha delta"), (11L, "delta")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$srcDir/a")
    Seq((20L, "gamma gamma"), (21L, "epsilon")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$srcDir/b")
    val stream = spark.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(srcDir.getAbsolutePath)
    val before = spark.conf.getAll
    val changed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val samples = new java.util.concurrent.atomic.AtomicLong(0)
    @volatile var done = false
    val sampler = new Thread(() => while (!done) {
      val now = spark.conf.getAll
      (before.keySet ++ now.keySet).filter(k => before.get(k) != now.get(k))
        .foreach(k => changed.add(s"$k: ${before.get(k)} -> ${now.get(k)}"))
      samples.incrementAndGet()
      Thread.sleep(2)
    })
    sampler.start()
    val n = try StreamPipeline.bm25IngestGen(spark, stream, root,
      "doc_id", "text", autoCompactEvery = 2)
    finally { done = true; sampler.join() }
    assert(n == 2)
    assert(samples.get > 10, "the sampler must run through the drain")
    assert(changed.isEmpty, changed)
    assert(spark.conf.getAll == before)
  }
}
