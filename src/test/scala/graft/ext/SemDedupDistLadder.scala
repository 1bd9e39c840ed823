package graft.ext

import org.apache.spark.sql.functions._

/** One-off ladder rung for the DISTRIBUTED SemDeDup trainer (VERDICT
  * r17 #2): times the exact q_semdedup_autok plan (embeddings + ×1.5
  * clones, targetCellSize 512) with training forced through either
  * path, so SCALE.md can record driver-trained vs distributed-trained
  * at the same corpus and k. Test scope — diagnostic tooling, not
  * product surface.
  *
  * Usage: Test/runMain graft.ext.SemDedupDistLadder <sfDir> <driver|dist> [iters]
  */
object SemDedupDistLadder {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mode = args(1)
    val iters = args.lift(2).map(_.toInt).getOrElse(3)
    val distributedK = mode match {
      case "driver" => Int.MaxValue
      case "dist"   => 1
      case m        => sys.error(s"mode must be driver|dist, got $m")
    }
    val spark = graft.GraftSession.local(graft.GraftSession.cores)
    spark.sparkContext.setLogLevel("WARN")

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val clones = emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
    val all = emb.select(col("vec_id"), col("embedding")).unionByName(clones)
    val n = all.count()
    val k = SemDedup.kFor(n, 512)
    // printed before the warm-up, so a run stopped by a timeout or an
    // out-of-memory kill still shows its rung and heap in the log
    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    println(s"""{"semdedup_ladder_start":{"mode":"$mode","dir":"$dir","n":$n,"k":$k,"max_heap_mb":$heapMb}}""")
    Console.out.flush()

    def pass(): Long = CacheScope.withScope {
      val out = SemDedup.semDedupAuto(all, "vec_id", "embedding", 0.9,
        targetCellSize = 512, distributedK = distributedK)
      out.write.format("noop").mode("overwrite").save()
      // kept planted clones — zero while the clone construction's
      // float noise stays clear of every cell boundary: each clone's
      // original sits in its cell at cosine ≈ 1. MEASURED LIMIT of
      // this oracle (round 19): the ×1.5f float multiply leaves ~1e-8
      // unit-vector noise, and at the k≈4700 crossover rung the cell-
      // boundary density makes ~0.3% of clones flip cells in EITHER
      // training mode — so the count is REPORTED, and required zero
      // only at the ladder's established small-k rungs.
      out.filter(col("id") >= 1000000L && col("kept")).count()
    }
    val keptClones = pass() // warmup, and the planted-contract check
    val plantedClones = clones.count()
    // the zero-clones oracle is a MEASURED margin of the ×1.5f clone
    // construction (~1e-8 unit-vector float noise): it held at the
    // k=47 and k=469 rungs and breaks at k≈4700 (~0.3% of clones flip
    // cells in EITHER training mode as boundary density grows), so it
    // is required exactly zero only in the established small-k regime —
    // and BOUNDED above it (≤1% of planted clones, ~3× the measured
    // float-noise flip rate): a regression keeping most clones must
    // fail the rung, not ride the waiver (ADVICE r19)
    require(
      if (k < 1024) keptClones == 0L
      else keptClones <= plantedClones / 100,
      s"planted contract violated: $keptClones of $plantedClones clones " +
        s"survived at k=$k (allowed: ${if (k < 1024) 0L else plantedClones / 100})")
    val times = (1 to iters).map { _ =>
      val t0 = System.nanoTime(); pass(); (System.nanoTime() - t0) / 1e9
    }.sorted
    println(f"""{"semdedup_ladder":{"mode":"$mode","dir":"$dir","n":$n,"k":$k,"median_s":${times(times.length / 2)}%.2f,"min_s":${times.head}%.2f,"iters":$iters,"kept_clones":$keptClones}}""")
    spark.stop()
  }
}
