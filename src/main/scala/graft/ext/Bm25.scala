package graft.ext

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

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
  *    probe's pushed `tok IN (…)` filter prunes most files and row
  *    groups at the scan via their min/max on `tok`;
  *  - `df/`: (tok, df), same layout;
  *  - `stats/`: the 1-row (n_docs, tot_dl).
  *
  * The three relations have FIXED schemas ([[TfSchema]], [[DfSchema]],
  * [[StatsSchema]]): every writer casts to them and every reader reads
  * with them, so no read pays a parquet schema-inference job.
  *
  * Every read and fold works on one [[Snapshot]]: the base relations
  * plus the staged batches committed when the snapshot was listed —
  * ONE listing, shared by tf, df and stats. A batch that commits
  * mid-read is then wholly outside the read, never in tf but missing
  * from df/stats.
  *
  * Scoring follows the repo's cross-engine discipline: per-term
  * contributions rounded to 6 decimals and summed as exact decimals,
  * terminal score through the floor contract. Constants are written as
  * source literals (2.2, 1.2, 0.25, 0.75) on BOTH engines — deriving
  * 1+k1 at runtime could differ from the parsed literal by an ulp.
  */
object Bm25 {

  /** `tf/`'s fixed schema. `doc_id` is `long` whatever id type the
    * caller's documents carry: the writers cast it. */
  val TfSchema: StructType = StructType(Seq(
    StructField("tok", StringType), StructField("doc_id", LongType),
    StructField("tf", LongType), StructField("dl", LongType)))

  /** `df/`'s fixed schema: per-token document frequencies (per-batch
    * increments, in a staged batch). */
  val DfSchema: StructType = StructType(Seq(
    StructField("tok", StringType), StructField("df", LongType)))

  /** `stats/`'s fixed schema: the corpus (n_docs, tot_dl) (per-batch
    * increments, in a staged batch). */
  val StatsSchema: StructType = StructType(Seq(
    StructField("n_docs", LongType), StructField("tot_dl", LongType)))

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
      writeTf(docs, idCol, textCol, dir)
      deriveFromTf(docs.sparkSession, dir)
    }

  /** The (tok, doc_id, tf, dl) posting rows of `docs`, in [[TfSchema]]
    * (`doc_id` cast to `long`), from one tokenize pass: `dl` is a
    * window count over the document's token rows and `tf` their
    * (doc_id, tok) count, so one clustering by doc_id serves both —
    * one exchange over a partitioned input, none over a single
    * partition. A doc_id that several rows share is one document. */
  private def postings(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    TextStats.tokenRows(docs, idCol, textCol)
      .select(col(idCol).cast(LongType).as("doc_id"), col("tok"))
      // a posting needs a document: a null id has none
      .filter(col("doc_id").isNotNull)
      .withColumn("dl", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .groupBy(col("doc_id"), col("tok"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))

  /** Tokenize `docs` and write their posting rows as the initial
    * build's token-partitioned tf store. */
  private def writeTf(docs: DataFrame, idCol: String, textCol: String,
                      dir: String): Unit =
    postings(docs, idCol, textCol)
      // write width sized from the SOURCE corpus bytes (the compaction
      // fold's TargetFileBytes policy), not the session shuffle width
      .repartition(Compaction.writerWidth(docs), col("tok"))
      .sortWithinPartitions(col("tok"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/tf")

  /** Re-derive df/ and stats/ from the WRITTEN tf relation (distinct
    * per doc for dl) — never from the corpus: the derived relations
    * must agree with tf/ forever, and the re-derivation cost is
    * bounded by index cardinality (posting rows), not corpus size. */
  private def deriveFromTf(spark: SparkSession, dir: String): Unit = {
    val tfIdx = spark.read.schema(TfSchema).parquet(s"$dir/tf")
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

  /** One consistent view of the index at `dir`: the base relations plus
    * the committed staged `batches` of one listing, each relation read
    * with its fixed schema. */
  private[ext] final case class Snapshot(dir: String, batches: Seq[String]) {
    def paths(sub: String): Seq[String] =
      StagedBatches.paths(dir, batches, sub)
    def tf(spark: SparkSession): DataFrame =
      spark.read.schema(TfSchema).parquet(paths("tf"): _*)
    def df(spark: SparkSession): DataFrame =
      spark.read.schema(DfSchema).parquet(paths("df"): _*)
    def stats(spark: SparkSession): DataFrame =
      spark.read.schema(StatsSchema).parquet(paths("stats"): _*)
  }

  /** Lists `dir`'s committed batches once. */
  private[ext] def snapshot(spark: SparkSession, dir: String): Snapshot =
    Snapshot(dir, committedBatchDirs(spark, dir))

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
    * writes — never an index rescan. A batch that fits one file
    * ([[Compaction.writerWidth]] 1, as a streaming micro-batch of a
    * few hundred documents does) is read through `coalesce(1)`
    * ([[Compaction.TokWrite]]): the tokenize, the counts, the distinct
    * and the stats aggregate then run in one task and plan no
    * exchange. A crash ANYWHERE before the
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
    val w = Compaction.TokWrite(Compaction.writerWidth(batch))
    // one tokenize pass serves the tf write AND both delta writes
    val tfdl = postings(w.input(batch), idCol, textCol).persist()
    try {
      // the three staged sub-writes all read the persisted tfdl and
      // write disjoint dirs — overlap them (guide §2.6); the commit
      // marker stays strictly after the join, so the atomicity
      // contract is unchanged
      ParJobs.run(
        () => w.byTok(tfdl)
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

  /** Top-k BM25 per query, read from one [[snapshot]] of the index at
    * `dir`. `queryTerms` is the small (qid, tok) relation; it is
    * collected to the driver. One small job fetches the query terms'
    * df rows (a pushed-down `tok IN (…)` filter) and every stats row;
    * the driver folds the committed deltas (a per-token sum for df, a
    * column sum for stats). The tf scan carries the same pushed
    * `tok IN (…)` filter, so it reads only the files and row groups
    * whose token range intersects the query, and joins a broadcast
    * local (qid, tok, df) relation; n_docs and avgdl enter the score
    * as literals. The score expressions are the Catalyst ones a
    * full-store join would evaluate (Spark's `log` is
    * `StrictMath.log`), in the same operand order. The read has one
    * exchange: the scan stage pre-aggregates its (qid, doc_id) groups
    * and hashes them to the aggregate's partitions, which
    * `coalesce(1)` reads in one task that also runs the final
    * aggregate, the rank window and the (qid, rank) order, so neither
    * needs an exchange (or a sampling job) of its own.
    * Jobs per read: the df/stats fetch, the broadcast, the scan stage
    * and the result stage (plus one to collect `queryTerms` when it is
    * not a local relation).
    *
    * The result has qid (the input's type), rank, doc_id, n_match and
    * score, ordered by (qid, rank). A duplicate (qid, tok) row counts
    * twice, as a join counts it; a query's own doc_id is never a
    * candidate. */
  def topK(spark: SparkSession, dir: String, queryTerms: DataFrame,
           k: Int): DataFrame = {
    val snap = snapshot(spark, dir)
    val qt = queryTerms.select(col("qid"), col("tok"))
    val qrows = qt.collect()
    val terms = qrows.toSeq.flatMap(r => Option(r.getString(1))).distinct
    // one job: the query terms' df deltas and every stats row (a null
    // tok marks a stats row — `tok IN (…)` never keeps a null tok)
    val noLong = lit(null).cast(LongType)
    val fetched = snap.df(spark).filter(col("tok").isin(terms: _*))
      .select(col("tok"), col("df"), noLong.as("n_docs"), noLong.as("tot_dl"))
      .unionByName(snap.stats(spark).select(lit(null).cast(StringType).as("tok"),
        noLong.as("df"), col("n_docs"), col("tot_dl")))
      .collect()
    val (dfRows, statRows) = fetched.partition(!_.isNullAt(0))
    val dfOf = dfRows.groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)
    val nDocs = statRows.map(_.getLong(2)).sum
    // tot_dl is null only in a base built over no documents (a sum over
    // no rows); its n_docs is 0, so it adds nothing either way
    val totDl = statRows.filterNot(_.isNullAt(3)).map(_.getLong(3)).sum
    val qdfRows = qrows.toSeq.flatMap(r => Option(r.getString(1)).flatMap(dfOf.get)
      .map(d => Row(r.get(0), r.getString(1), d)))
    val qdf = spark.createDataFrame(qdfRows.asJava, StructType(Seq(
      qt.schema("qid"), qt.schema("tok"), StructField("df", LongType))))
    val cand = snap.tf(spark)
      .filter(col("tok").isin(dfOf.keys.toSeq: _*))
      .join(broadcast(qdf), Seq("tok"))
      .filter(col("doc_id") =!= col("qid"))
    // the same IEEE doubles Spark's long-to-double cast and division
    // give; with n_docs 0 there is no posting to score, so the avgdl
    // literal (NaN then) is never read
    val nd = lit(nDocs.toDouble)
    val avgdl = lit(totDl.toDouble / nDocs)
    val idf = log(lit(1.0) + (nd - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfn = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    val scored = cand
      .select(col("qid"), col("doc_id"),
        round(idf * tfn, 6).cast("decimal(14,6)").as("c6"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_match"),
        (floor(sum(col("c6")).cast("double") * 1e4 + 0.5) / 1e4).as("score"))
      // the final aggregate, the window and the sort share one task, so
      // neither needs a second exchange; the scan stage's partial
      // aggregate has already cut each (qid, doc_id) group to one row
      // per scan partition, so that task never sees raw postings
      .coalesce(1)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id"), col("n_match"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }
}
