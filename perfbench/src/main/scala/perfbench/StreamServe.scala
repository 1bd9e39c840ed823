package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.LinkedBlockingQueue
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.ext.{Bm25, Compaction, GenerationStore}
import graft.streaming.StreamPipeline

/** Open-loop writes beside closed-loop reads over a BM25 index kept in
  * a generation store.
  *
  * Set-up publishes generation 0 (`GenerationStore.publish` +
  * `Bm25.ensureIndex`) over a seed-chosen fifth of the testdata
  * documents and stages every file the generator will drop. In the
  * window, a generator thread moves one parquet file of new documents
  * into the spool every `IntervalMs`, the first at the window's start;
  * the main thread hands each file, oldest first, to
  * `StreamPipeline.bm25IngestGen` (auto-compaction every third batch,
  * GC age `GcAgeMs`), and one reader thread loops `currentGenDir` +
  * `Bm25.topK(k = 10)` on seed-chosen query terms. Each commit is timed
  * from the moment its file was due. One staged file is ingested before
  * the window to warm the write path. */
final class StreamServe extends Workload {

  private val IntervalMs = 4500L
  private val GcAgeMs = 6000L
  private val CompactEvery = 3
  private var docsPerFile = 250
  private var dir: Path = _
  private var root: String = _
  private var maxFiles = 0
  private var queries: Seq[Seq[(Int, String)]] = Nil
  private val committedFiles = mutable.ArrayBuffer.empty[Int]

  private def staged(j: Int): Path = dir.resolve("staged").resolve(s"f=$j")

  private def docs(ctx: Ctx): DataFrame =
    ctx.spark.read.parquet(s"${ctx.args.testdata}/documents.parquet").select(col("doc_id"), col("text"))

  private def gen0(ctx: Ctx): DataFrame =
    docs(ctx).filter(pmod(col("doc_id") + lit(ctx.seed), lit(5)) === 0)

  /** File j: a contiguous (mod corpus size) slice of `docsPerFile`
    * documents starting at a seed offset, with fresh ids and one new
    * tail word each. */
  private def newDocs(ctx: Ctx, n: Long): DataFrame = {
    val start = lit(ctx.seed * 131)
    docs(ctx).crossJoin(broadcast(ctx.spark.range(0, maxFiles).select(col("id").as("f"))))
      .filter(pmod(col("doc_id") - col("f") * docsPerFile - start, lit(n)) < docsPerFile)
      .select(col("f"),
        (col("doc_id") + (col("f") + 1) * 1000000L).as("doc_id"),
        concat(col("text"), lit(" wn"), col("f").cast("string"), lit("q"),
          pmod(col("doc_id") + lit(ctx.seed), lit(1000)).cast("string")).as("text"))
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    if (ctx.args.smoke) docsPerFile = 50
    maxFiles = (ctx.args.seconds * 1000 / IntervalMs).toInt + 2
    if (dir != null) Probes.deleteTree(dir)
    dir = ctx.work.resolve(s"stream_$rep")
    Probes.deleteTree(dir)
    root = dir.resolve("store").toString
    val base = gen0(ctx)
    val p0 = System.nanoTime()
    GenerationStore.publish(spark, root)(g => Bm25.ensureIndex(base, "doc_id", "text", g))
    ctx.rec.sample("store_publish_s", (System.nanoTime() - p0) / 1e9)
    val n = docs(ctx).count()
    newDocs(ctx, n).repartition(maxFiles, col("f")).write.partitionBy("f")
      .parquet(dir.resolve("staged").toString)
    // seed-chosen reads: each query is the distinct tokens of one
    // generation-0 document, four documents per read
    val texts = base.orderBy(col("doc_id")).limit(40).collect().map(r => (r.getLong(0), r.getString(1)))
    queries = texts.toSeq.grouped(4).map(_.map { case (id, txt) =>
      txt.split(' ').filter(_.nonEmpty).distinct.toSeq.map(tok => (id.toInt, tok))
    }.reduce(_ ++ _)).toSeq
  }

  private def qterms(ctx: Ctx, q: Seq[(Int, String)]): DataFrame = {
    import ctx.spark.implicits._
    q.toDF("qid", "tok")
  }

  /** Moves staged file `j` into a fresh inbox of its own and returns
    * the stream over it. */
  private def inboxStream(ctx: Ctx, from: Path, j: Int): DataFrame = {
    val inbox = Files.createDirectories(dir.resolve(s"inbox_$j"))
    Files.move(from, inbox.resolve(s"file_$j.parquet"), StandardCopyOption.ATOMIC_MOVE)
    ctx.spark.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(inbox.toString)
  }

  private def ingest(ctx: Ctx, stream: DataFrame): Unit =
    StreamPipeline.bm25IngestGen(ctx.spark, stream, root, "doc_id", "text",
      autoCompactEvery = CompactEvery, gcAgeMs = GcAgeMs)

  /** Warms the write and read paths once: the last staged file is
    * ingested before the window (and is part of the oracle's union),
    * then one read runs. */
  def warmAndCheck(ctx: Ctx): Unit = {
    val j = maxFiles - 1
    ctx.asOp("stream")(ingest(ctx, inboxStream(ctx, stagedFile(j), j)))
    committedFiles += j
    ctx.asOp("query") {
      val cur = GenerationStore.currentGenDir(ctx.spark, root).get
      ctx.check("stream_serve warm read returns rows")(
        Bm25.topK(ctx.spark, cur, qterms(ctx, queries.head), 10).collect().nonEmpty)
    }
  }

  private def stagedFile(j: Int): Path = {
    val s = Files.list(staged(j))
    try s.filter(_.toString.endsWith(".parquet")).findFirst().get finally s.close()
  }

  /** The store functions bm25IngestGen calls, in its order, each in a
    * span — the traced run's replica of one ingest call. The batch runs
    * at the batch-sized shuffle width, as StreamPipeline's drain loop
    * sets it. */
  private def tracedIngest(ctx: Ctx, stream: DataFrame): Unit = {
    val t = ctx.tracer
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try t.span(name)(f)
      finally ctx.rec.sample(name, (System.nanoTime() - t0) / 1e9)
    }
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        t.withRecording(true) {
          t.span("streaming.batch") {
            if (!batch.isEmpty) {
              val sp = batch.sparkSession
              val key = "spark.sql.shuffle.partitions"
              val prev = sp.conf.get(key)
              val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                sp.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"))
              val bytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes
              sp.conf.set(key, ((bytes + advisory - 1) / advisory).max(1).min(prev.toInt).toInt)
              try {
                val cur = timed("store.resolve")(GenerationStore.currentGenDir(sp, root)).get
                timed("store.ingest")(Bm25.ingestIntoIndex(sp, cur, batch, "doc_id", "text"))
                if (timed("store.list")(Bm25.committedBatchDirs(sp, cur)).length >= CompactEvery) {
                  timed("store.compact")(Compaction.compactBm25ToGeneration(sp, root))
                  timed("store.gc")(GenerationStore.gc(sp, root, GcAgeMs))
                }
              } finally sp.conf.set(key, prev)
            }
          }
        }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  def measure(ctx: Ctx, deadlineNs: Long): Unit = {
    val spark = ctx.spark
    val spool = Files.createDirectories(dir.resolve("spool"))
    val t0Ms = System.currentTimeMillis()
    val deadlineMs = t0Ms + (deadlineNs - System.nanoTime()) / 1000000
    val dues = Iterator.from(0).map(j => t0Ms + j * IntervalMs).takeWhile(_ < deadlineMs)
      .toIndexedSeq.take(maxFiles - 1)
    val ready = new LinkedBlockingQueue[Integer]()
    @volatile var generatorDone = false
    @volatile var stop = false
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()

    val generator = new Thread(() => try {
      dues.zipWithIndex.foreach { case (due, j) =>
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(stagedFile(j), spool.resolve(s"file_$j.parquet"), StandardCopyOption.ATOMIC_MOVE)
        ctx.rec.sample("gen_due_written_ms", Seq(due, System.currentTimeMillis()))
        ready.put(j)
      }
    } catch { case e: Throwable => errors.add(e) } finally generatorDone = true, "perfbench-generator")

    val reader = new Thread(() => try {
      var i = 0
      while (!stop) {
        val traced = ctx.args.trace && i % 2 == 1
        val q = queries(i % queries.length)
        ctx.tracer.withRecording(traced) {
          ctx.asOp("query") {
            val q0 = System.nanoTime()
            ctx.attempt("stream_serve top-k read") {
              val r0 = System.nanoTime()
              val cur = ctx.tracer.span("store.resolve")(GenerationStore.currentGenDir(spark, root)).get
              if (traced) ctx.rec.sample("store.resolve", (System.nanoTime() - r0) / 1e9)
              if (traced) ctx.rec.sample("batch_dirs_at_query", Bm25.committedBatchDirs(spark, cur).length)
              val rows = ctx.tracer.span("store.topk")(Bm25.topK(spark, cur, qterms(ctx, q), 10).collect())
              val perQid = rows.groupBy(_.getInt(0)).values.map(_.length)
              if (rows.isEmpty || perQid.exists(_ > 10)) sys.error(s"bad top-k shape: ${rows.length} rows")
            }.foreach(_ => ctx.rec.sample(if (traced) "query_s_traced" else "query_s",
              (System.nanoTime() - q0) / 1e9))
          }
        }
        i += 1
      }
    } catch { case e: Throwable => errors.add(e) }, "perfbench-reader")

    if (ctx.args.trace) storeSizes()
    val writtenBefore = seenFiles.values.sum
    generator.start()
    reader.start()
    var k = 0
    var windowCommits = 0
    try {
      while (!(generatorDone && ready.isEmpty)) {
        val j = ready.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (j != null) {
          val stream = inboxStream(ctx, spool.resolve(s"file_$j.parquet"), j)
          val traced = ctx.args.trace && k % 2 == 1
          ctx.asOp("stream") {
            ctx.attempt("stream_serve ingest") {
              ctx.confGuard(if (traced) tracedIngest(ctx, stream) else ingest(ctx, stream))
            }.foreach { _ =>
              ctx.rec.sample(if (traced) "commit_due_done_ms_traced" else "commit_due_done_ms",
                Seq(dues(j), System.currentTimeMillis()))
              committedFiles += j
              windowCommits += 1
            }
          }
          if (ctx.args.trace) storeSizes()
          k += 1
        }
      }
    } finally {
      stop = true
      generator.join()
      reader.join()
    }
    errors.forEach(e => ctx.fail(s"stream_serve load thread: $e"))
    ctx.rec.value("docs_committed", windowCommits * docsPerFile)
    baseBytes = writtenBefore
  }

  private var baseBytes = 0L

  private val seenFiles = mutable.Map.empty[String, Long]

  /** Bytes the store has written so far (every file ever seen under the
    * root), sampled after each ingest call in a traced run. */
  private def storeSizes(): Unit = {
    val s = Files.walk(Path.of(root))
    try s.filter(Files.isRegularFile(_)).forEach { p =>
      try seenFiles.getOrElseUpdate(p.toString, Files.size(p))
      catch { case _: java.io.IOException => () }
    } finally s.close()
  }

  private def treeStats(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val fs = s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      (fs.length.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  /** Oracle (q_stream_genstore_bm25's check): the final generation
    * serves every query exactly as a from-scratch build over the union
    * of generation 0 and every committed file. */
  def finalCheck(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val cur = GenerationStore.currentGenDir(spark, root).get
    val files = committedFiles.map(j => dir.resolve(s"inbox_$j").toString).toSeq
    val union = if (files.isEmpty) gen0(ctx)
      else gen0(ctx).unionByName(spark.read.parquet(files: _*))
    val fresh = dir.resolve("from_scratch").toString
    Bm25.ensureIndex(union, "doc_id", "text", fresh)
    val all = qterms(ctx, queries.flatten)
    val got = Bm25.topK(spark, cur, all, 10).collect().toSeq.map(_.toString).sorted
    val want = Bm25.topK(spark, fresh, all, 10).collect().toSeq.map(_.toString).sorted
    ctx.check("stream_serve final top-k == from-scratch build over the union")(
      got == want && got.nonEmpty)
    if (ctx.args.trace) {
      storeSizes()
      val (files, bytes) = treeStats(Path.of(root))
      val (_, curBytes) = treeStats(Path.of(cur))
      val inBytes = committedFiles.map(j => treeStats(dir.resolve(s"inbox_$j"))._2).sum
      ctx.tracer.set("store.files", files.toDouble)
      ctx.tracer.set("store.space_amp", bytes.toDouble / curBytes)
      ctx.tracer.set("store.write_amp", (seenFiles.values.sum - baseBytes).toDouble / math.max(1L, inBytes))
    }
  }

  def probeLayers(ctx: Ctx): Unit = {
    Probes.functionsLayer(ctx, gen0(ctx))
    Probes.extractLayer(ctx, Probes.probeDocs(ctx.seed * 100000L, 20), reps = 3)
  }
}
