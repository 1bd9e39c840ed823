package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Pins the engine's null-row emission rule for the watermarked
  * stream-stream LEFT OUTER interval join — the boundary
  * q_stream_join_outer's oracle mirrors.
  *
  * Empirical finding (Spark 4.1.2, this spec): with per-stream
  * watermarks W = ms_floor(max event time) − delay combined by MIN
  * (the default multipleWatermarkPolicy), an unmatched left row at
  * event time t emits its null row iff
  *
  *   t + 1 ms ≤ min-watermark
  *
  * — one full millisecond STRICTER than the inner-result rule (matched
  * pairs emit as soon as both sides have arrived, independent of the
  * watermark). Probed at ±1 µs around the boundary: W = t leaves the
  * row held; W = t + 1 ms emits rows at t and t − 1 µs but HOLDS
  * t + 1 µs (the +1 ms is StreamingSymmetricHashJoinExec's
  * state-watermark adjustment). A Spark upgrade that shifts this
  * boundary fails here loudly rather than as an oracle hash flake.
  */
class OuterJoinEmissionSpec extends AnyFunSuite with SparkSuite {
  private val H = 3600L * 1000000L
  private val D = 1800L * 1000000L
  private val base = 1700000000L * 1000000L

  /** Null-emitted click ids for boundary clicks at T−1µs, T, T+1µs
    * (ids 0, 1, 2) when the LEFT watermark driver sits at
    * T + delay + `driverOff` µs (right watermark driven far ahead, so
    * the min is the left one: W = ms_floor(T + driverOff)). */
  private def nullEmitted(driverOff: Long): Set[Long] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ojpin").toString
    val T = base + 2 * H
    val clicks = Seq(T - 1L, T, T + 1L, T + D + driverOff)
      .zipWithIndex.map { case (t, i) => (i.toLong, 7L, t) }
    clicks.toDF("click_id", "uid", "ctus").write.parquet(s"$dir/c")
    Seq((101L, 999L, base + 10 * H, 9.9))
      .toDF("p_id", "p_uid", "ptus", "value").write.parquet(s"$dir/p")
    val cs = spark.readStream.schema("click_id LONG, uid LONG, ctus LONG")
      .parquet(s"$dir/c")
      .select(col("click_id"), col("uid"), timestamp_micros(col("ctus")).as("ctime"))
      .withWatermark("ctime", "30 minutes")
    val ps = spark.readStream.schema("p_id LONG, p_uid LONG, ptus LONG, value DOUBLE")
      .parquet(s"$dir/p")
      .select(col("p_id"), col("p_uid"), timestamp_micros(col("ptus")).as("ptime"),
        col("value"))
      .withWatermark("ptime", "30 minutes")
    val j = cs.join(ps,
      col("uid") === col("p_uid") &&
        col("ptime") <= col("ctime") &&
        col("ptime") >= col("ctime") - expr("INTERVAL 1 HOUR"), "left_outer")
    val name = s"ojpin${driverOff}_${System.nanoTime()}"
    val q = j.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).filter(col("p_id").isNull)
      .select(col("click_id")).collect().map(_.getLong(0)).toSet
  }

  test("W = t holds the row; W = t + 1ms emits t and t−1µs but holds t+1µs") {
    assert(nullEmitted(0L) == Set.empty)        // W = T: nothing emits
    assert(nullEmitted(999L) == Set.empty)      // sub-ms offsets floor away
    assert(nullEmitted(1000L) == Set(0L, 1L))   // W = T+1ms: T−1µs, T emit
    assert(nullEmitted(999999L) == Set(0L, 1L, 2L)) // W = T+999ms: all emit
  }
}
