package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one staged commit every file-fed store and stream sink uses
  * ([[Bm25.ingestIntoIndex]], [[Ivf.ingestIntoIndex]],
  * [[KMeans.ingestIntoShards]], [[CountMin.ingestIntoStore]],
  * [[Attributes]], [[SemDedup.ingestBatch]] and the pack and near-dup
  * sinks of [[graft.streaming.StreamPipeline]]).
  *
  *  - LAYOUT: one batch's relations live under `<dir>/batches/b_<key>/`
  *    and become visible through ONE exclusive `_COMMITTED` create
  *    ([[GenerationStore.createExclusive]]) — so a concurrent reader
  *    folds a batch entirely or not at all (a plain `mode("append")`
  *    makes a batch's files visible one job-commit rename at a time, so
  *    a mid-commit lister can see a TORN batch). An uncommitted dir is
  *    invisible to every reader and every fold.
  *  - KEYS: the caller names the batch. The streaming drain keys a
  *    micro-batch by the files it scanned, so the same files delivered
  *    again — a retried batch, or a fresh query without a checkpoint
  *    (the file source's seen-files log is ListFile's listing state,
  *    and it lives in the checkpoint) — map to the same dir. Like
  *    ListFile, this assumes a file is never rewritten in place: new
  *    content under a staged path keeps the old key and is skipped.
  *    Direct callers that stage ad-hoc DataFrames default to a fresh
  *    random key.
  *  - REDELIVERY: [[stage]] on a key that is committed, or that the
  *    store's generation records as folded, does nothing. This is
  *    Spark's own `FileStreamSink` rule (skip a batch its
  *    `_spark_metadata` log holds), keyed by input files instead of
  *    the engine's batch id.
  *  - FOLDS: a compaction lists the committed batches once
  *    ([[snapshot]]), folds exactly those, and records their keys —
  *    plus the keys its source generation had folded — in the new
  *    generation's `_FOLDED` file ([[recordFolded]]), so a key stays
  *    known after its dir is folded away. Like `_spark_metadata`, that
  *    list grows by one line per batch ever staged into the store.
  *
  * This is the append-only relaxation [[GenerationStore]] sanctions for
  * committed generations; the same layout also serves plain,
  * never-compacted store dirs.
  */
private[graft] object StagedBatches {

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** A random key, for a batch no redelivery can repeat. */
  def freshKey(): String = java.util.UUID.randomUUID().toString.replace("-", "")

  /** The key of a batch dir. */
  def keyOf(batchDir: String): String = new Path(batchDir).getName.stripPrefix("b_")

  /** Stage batch `key` of the store at `dir`: unless it is already
    * committed or folded, delete any uncommitted debris of an earlier
    * attempt, let `write` materialize the batch's relations under the
    * batch dir it is handed, and commit. Returns whether it staged
    * (false: the key was already applied and nothing ran). A failure
    * in `write` leaves an uncommitted dir that the next attempt with
    * the same key deletes. */
  def stage(spark: SparkSession, dir: String, key: String = freshKey())
           (write: String => Unit): Boolean = {
    val bd = s"$dir/batches/b_$key"
    val (fs, bp) = fsOf(spark, bd)
    val applied = fs.exists(new Path(bp, "_COMMITTED")) ||
      foldedKeys(spark, dir).contains(key)
    if (!applied) {
      fs.delete(bp, true)
      write(bd)
      commit(spark, bd)
    }
    !applied
  }

  /** The commit point: the batch is invisible until this exclusive
    * create succeeds. A second commit of one batch fails. */
  private[ext] def commit(spark: SparkSession, batchDir: String): Unit = {
    val (fs, bp) = fsOf(spark, batchDir)
    fs.mkdirs(bp)
    val out = GenerationStore.createExclusive(fs, new Path(bp, "_COMMITTED"))
    if (out == null) sys.error(
      s"staged batch ${keyOf(batchDir)} is already committed under $batchDir")
    out.close()
  }

  /** Committed staged-batch dirs under `dir/batches`, sorted for
    * deterministic path lists. Driver-side listing, bounded by batches
    * since the last compaction (the generation ingests'
    * `autoCompactEvery` bounds that). */
  def committedDirs(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fsOf(spark, s"$dir/batches")
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(bp => fs.exists(new Path(bp, "_COMMITTED")))
      .map(_.toString).sorted.toSeq
  }

  /** Keys the generation at `dir` records as folded ([[recordFolded]]);
    * empty for a store that was never compacted. */
  def foldedKeys(spark: SparkSession, dir: String): Set[String] = {
    val (fs, p) = fsOf(spark, s"$dir/_FOLDED")
    if (!fs.exists(p)) Set.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  /** One consistent view of the store at `dir`: its base relations
    * plus the committed `batches` of one listing. */
  final case class Snapshot(dir: String, batches: Seq[String]) {
    /** The `sub` relation's read paths: base + each batch. */
    def paths(sub: String): Seq[String] = s"$dir/$sub" +: batchPaths(sub)
    /** The `sub` relation's paths in the batches only. */
    def batchPaths(sub: String): Seq[String] = batches.map(b => s"$b/$sub")
    /** The compacted `base/` relation, when a fold has written one, plus
      * each batch's `sub`. */
    def withBase(spark: SparkSession, sub: String): Seq[String] = {
      val (fs, base) = fsOf(spark, s"$dir/base")
      (if (fs.exists(base)) Seq(base.toString) else Seq.empty) ++ batchPaths(sub)
    }
    def keys: Seq[String] = batches.map(keyOf)
    /** The `sub` relation, read with its fixed `schema`. */
    def read(spark: SparkSession, sub: String, schema: StructType): DataFrame =
      spark.read.schema(schema).parquet(paths(sub): _*)
  }

  /** Lists `dir`'s committed batches once. */
  def snapshot(spark: SparkSession, dir: String): Snapshot =
    Snapshot(dir, committedDirs(spark, dir))

  /** Write `outDir`'s folded keys: those `snap`'s source generation had
    * folded, plus the keys of the batches `snap` lists (the ones the
    * fold into `outDir` just read). */
  private[ext] def recordFolded(spark: SparkSession, snap: Snapshot,
                                outDir: String): Unit = {
    val keys = (foldedKeys(spark, snap.dir) ++ snap.keys).toSeq.sorted
    val out = fsOf(spark, s"$outDir/_FOLDED") match { case (fs, p) => fs.create(p, false) }
    try out.write(keys.map(_ + "\n").mkString.getBytes("UTF-8"))
    finally out.close()
  }
}
