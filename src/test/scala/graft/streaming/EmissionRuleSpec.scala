package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Pins the engine's Append-mode emission rule for ALIGNED window ends
  * against a live Structured Streaming run — the cutoff the
  * tumbling/sliding oracles (q_stream_window, q_stream_sliding) mirror.
  *
  * Empirical finding (Spark 4.1.2, this spec): a time window whose end
  * EQUALS the watermark is EMITTED — the eviction comparison for
  * `window()` aggregation is INCLUSIVE (end ≤ watermark). With the
  * watermark computed from a millisecond-floored max event time and a
  * window end that is itself ms-aligned (any whole-second length and
  * slide), the emission condition collapses to the µs-exact
  *
  *   emit  ⇔  window_end + delay ≤ max(event time)
  *
  * because for X a multiple of 1 ms, floor_ms(max) ≥ X ⇔ max ≥ X.
  * So the oracles' `window_start + len + delay <= max(tus)` filter is
  * the engine rule EXACTLY — no ms-floor adjustment needed.
  *
  * This is the OPPOSITE boundary behavior from session windows, where
  * a round-7 probe showed a session whose end equals the watermark is
  * HELD (strict <) — and session ends carry arbitrary µs offsets, so
  * that oracle must (and does) apply the ms-floor explicitly. The two
  * rules live in different physical operators (StateStoreSaveExec vs
  * SessionWindowStateStoreSaveExec); this spec exists so a Spark
  * upgrade that changes either boundary fails loudly here rather than
  * as a once-in-a-corpus oracle hash flake.
  */
class EmissionRuleSpec extends AnyFunSuite with SparkSuite {
  // hour-aligned epoch second (472223 * 3600); window [t0, t0+1h),
  // watermark delay 30 min → the window closes when the watermark
  // reaches t0 + 1h, driven by a max event near t0 + 1h30m
  private val t0s = 1700002800L

  /** Emitted window starts (µs) when the stream holds one in-window
    * event plus a watermark-driver event at t0+1h30m + `offsetUs`. */
  private def emittedStarts(offsetUs: Long): Set[Long] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_emit").toFile
    dir.deleteOnExit()
    val ns = Seq(
      (t0s * 1000000L + 600L * 1000000L) * 1000L,                // in-window
      ((t0s + 5400L) * 1000000L + offsetUs) * 1000L)             // driver
    ns.map(n => (n, "click", 1.0)).toDF("ts", "event_type", "value")
      .write.parquet(s"$dir/data")
    val stream = spark.readStream
      .schema("ts LONG, event_type STRING, value DOUBLE")
      .parquet(s"$dir/data")
    val agg = StreamPipeline.windowedCounts(stream, watermark = Some("30 minutes"))
    val out = java.nio.file.Files.createTempDirectory("graft_emit_out")
    java.nio.file.Files.delete(out)
    StreamPipeline.runAppendToDir(spark, agg, out.toString, Seq("event_type"))
      .select("window_start_us").collect().map(_.getLong(0)).toSet
  }

  test("aligned window end == watermark EMITS (inclusive, µs-exact cutoff)") {
    val start = t0s * 1000000L
    assert(emittedStarts(0L) === Set(start))           // max = end+delay exactly
    assert(emittedStarts(999L) === Set(start))         // sub-ms band also emits
    assert(emittedStarts(-1L) === Set.empty[Long])     // 1 µs short: held
  }
}
