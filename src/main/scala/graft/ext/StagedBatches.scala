package graft.ext

import org.apache.spark.sql.SparkSession

/** The shared STAGED-BATCH append discipline every ingest store uses
  * ([[Bm25.ingestIntoIndex]], [[Ivf.ingestIntoIndex]],
  * [[Attributes.ingestIntoAttributes]] /
  * [[Attributes.ingestIntoSpanAttributes]]): a micro-batch's rows are
  * fully materialized under a fresh `<store>/batches/<id>/` dir and
  * become visible through ONE atomic `_COMMITTED` file create — so a
  * concurrent reader folds a batch entirely or not at all (a plain
  * `mode("append")` makes a batch's files visible one job-commit
  * rename at a time, so a mid-commit lister can see a TORN batch).
  * A crashed ingest leaves an uncommitted dir readers ignore and
  * compaction never folds. This is exactly the append-only relaxation
  * [[GenerationStore]] sanctions for committed generations; the same
  * layout also serves plain, never-compacted store dirs.
  */
private[graft] object StagedBatches {

  /** A fresh batch dir name under `dir/batches` — staged, not yet
    * committed. */
  def freshBatchDir(dir: String): String =
    s"$dir/batches/b_" +
      java.util.UUID.randomUUID().toString.replace("-", "")

  /** The commit point: the batch is invisible until this single atomic
    * create succeeds. */
  def commit(spark: SparkSession, batchDir: String): Unit = {
    val mp = new org.apache.hadoop.fs.Path(s"$batchDir/_COMMITTED")
    mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(mp, false).close()
  }

  /** Committed staged-batch dirs under `dir/batches`, sorted for
    * deterministic path lists. Driver-side listing, bounded by batches
    * since the last compaction (the generation ingests'
    * `autoCompactEvery` bounds that). */
  def committedDirs(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/batches")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(bp => fs.exists(new org.apache.hadoop.fs.Path(bp, "_COMMITTED")))
      .map(_.toString).sorted.toSeq
  }

  /** The `sub` relation's read paths: base store + every COMMITTED
    * staged batch. */
  def storePaths(spark: SparkSession, dir: String, sub: String): Seq[String] =
    s"$dir/$sub" +: committedDirs(spark, dir).map(b => s"$b/$sub")
}
