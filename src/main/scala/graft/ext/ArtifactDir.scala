package graft.ext

import org.apache.spark.sql.SparkSession

/** Shared build-once skeleton for persisted serving artifacts (IVF
  * index, BM25 inverted file, trigram postings, Dolma attributes,
  * tokenizer models): a `dir/_BUILT` idempotence guard, then
  * same-corpus stale-sibling GC, then the build, then the marker. The
  * content-signature dir-naming convention means a regenerated corpus
  * keys to a NEW dir and its predecessors are unreachable forever —
  * the GC deletes siblings sharing the family+path-hash prefix so the
  * artifact root doesn't grow unboundedly.
  *
  * The marker is written by [[ensure]] itself, strictly after `build`
  * returns — never borrowed from one of the artifact's sub-relations.
  * A build that writes several relations (BM25's `df/` and `stats/`
  * run in parallel) can finish any one of them before the others, so
  * a sub-relation's `_SUCCESS` would declare a half-built artifact
  * complete. A dir WITHOUT the marker is therefore an unfinished build
  * and is deleted before building again.
  *
  * SINGLE-WRITER assumption (every family inherits it): there is no
  * lock between the marker probe, the GC, and the build — two
  * drivers building concurrently can overwrite each other's partial
  * output, and the GC can delete a stale-signature sibling out from
  * under a reader still probing it. Correct for a deployment where
  * builds are serialized (this harness's single driver, or an
  * external scheduler); a multi-writer serving tier builds inside a
  * [[GenerationStore.publish]] instead.
  */
private[ext] object ArtifactDir {

  /** The completion marker [[ensure]] writes after a build. */
  val Marker = "_BUILT"

  /** No-op when `dir/_BUILT` exists; otherwise delete any unfinished
    * build at `dir`, GC siblings whose name shares the prefix captured
    * by `prefixRe` (a dir name NOT matching the family pattern is
    * caller-chosen: nothing safe to GC), run `build`, and mark `dir`
    * built. */
  def ensure(spark: SparkSession, dir: String,
             prefixRe: scala.util.matching.Regex)(build: => Unit): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dirPath, Marker)
    if (fs.exists(marker)) return
    if (fs.exists(dirPath)) fs.delete(dirPath, true)
    dirPath.getName match {
      case prefixRe(prefix) =>
        val parent = dirPath.getParent
        if (parent != null && fs.exists(parent))
          fs.listStatus(parent)
            .filter(s => s.getPath.getName.startsWith(prefix) &&
              s.getPath.getName != dirPath.getName)
            .foreach(s => fs.delete(s.getPath, true))
      case _ => () // caller-chosen dir name: nothing safe to GC
    }
    build
    fs.create(marker, true).close()
  }
}
