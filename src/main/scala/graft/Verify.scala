package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = args.splitAt(2)
    val spark = GraftSession.local(GraftSession.cores)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional trailing args: run only the named queries (iteration aid);
    // unknown names fail fast — a typo must not masquerade as clean verify
    val unknown = only.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only.contains).toMap
    val failed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    selected.foreach { case (name, fn) =>
      // each query runs in its own CacheScope (the library's loan
      // pattern releases the shared-core caches at scope exit); the
      // clearCache below is the backstop for query-local persists
      try graft.ext.CacheScope.withScope {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name -> String.valueOf(e.getMessage)
      }
      // drop caches persisted inside operators (tokenized relations,
      // route fan-out) so queries don't inherit each other's memory
      // pressure — same policy as Bench's timed loop
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A query that throws writes NO output dir, and the downstream
    // compare only iterates over dirs that exist — in round 9 the
    // testdata regeneration broke 11 ts-dependent queries and the
    // correctness record silently shrank around them while still
    // reading "all pass". Make that failure mode impossible to miss:
    // a manifest in the output dir plus a LOUD final line, and the
    // failure count in the exit message.
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
      failed.map { case (n, m) => s"${q(n)}: ${q(m)}" }
        .mkString("{", ",", "}"))
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] *** ${failed.length}/${selected.size} queries FAILED " +
          s"(no output written): ${failed.map(_._1).mkString(", ")} ***")
    else
      System.err.println(s"[verify] all ${selected.size} queries wrote output")
    spark.stop()
    // Exit nonzero on any failure so an exit-status-only gate also sees it
    // (the manifest + check_oracle remain the primary detection path).
    if (failed.nonEmpty) sys.exit(1)
  }
}
