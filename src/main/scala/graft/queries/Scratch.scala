package graft.queries

import org.apache.spark.sql.DataFrame

/** Scratch directories for the queries that write their own sources,
  * sinks or stores under `java.io.tmpdir`. */
private[queries] object Scratch {

  /** Delete `f` and everything under it (a missing `f` is a no-op). */
  def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
    f.delete(); ()
  }

  /** Deterministic per-sf scratch path `graft_<name>_<hash of d>`,
    * WIPED. Returns the path without recreating it; callers that need
    * the directory to exist call createDirectories. */
  def freshScratchDir(d: String, name: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${name}_${Integer.toHexString(d.hashCode)}")
    deleteRec(p.toFile)
    p
  }

  /** Write `df` as the single parquet file `name`.parquet inside
    * `srcDir` — one file per planned micro-batch for the
    * maxFilesPerTrigger=1 ingest harnesses. */
  def writeOnePart(srcDir: java.nio.file.Path, name: String,
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
    deleteRec(build.toFile)
  }
}
