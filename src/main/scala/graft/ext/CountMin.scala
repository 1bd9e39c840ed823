package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch (Cormode & Muthukrishnan '05) over a token stream —
  * the fixed-memory frequency estimator for heavy-hitter mining when
  * the vocabulary itself is too large to aggregate exactly: the sketch
  * is Depth·Width counters REGARDLESS of corpus or vocabulary size,
  * where the exact `vocab` aggregation shuffles one row per distinct
  * token.
  *
  * Scale shape: one narrow token explode, a Depth× row multiplier that
  * map-side combine collapses to ≤ Depth·Width partial sums per
  * partition, and a Depth·Width-row sketch relation (4096 rows at the
  * defaults) that BROADCASTS to every estimate join — the corpus is
  * never shuffled and never rescanned per probe. Estimation never
  * under-counts (the CMS guarantee: every point estimate ≥ the true
  * count); over-count error is bounded by ε·N with ε = e/Width per the
  * paper.
  *
  * Determinism: the row hashes are the repo's md5 selector arithmetic
  * (`conv(substr(md5("r:" ++ tok)), 16, 10) % Width` — identical in
  * DuckDB via the `'0x' || substr(md5(…))` cast precedent), so the
  * whole sketch, every estimate, and the heavy-hitter ranking are
  * bit-exact across engines — the oracle replays the sketch rather
  * than trusting a planted contract.
  */
object CountMin {

  /** Independent hash rows. */
  val Depth = 4
  /** Buckets per row (error bound ε = e/Width of total token mass). */
  val Width = 1024L

  /** Row-r bucket of a token: first 8 md5 hex digits of "r:token". */
  def bucket(r: Int, tok: Column): Column =
    conv(substring(md5(concat(lit(s"$r:"), tok).cast("binary")), 1, 8), 16, 10)
      .cast("long") % Width

  /** One row per token occurrence (the `Sampling.vocab` tokenizer). */
  def tokens(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")

  /** The sketch: (r, b, cnt), ≤ Depth·Width rows. */
  def sketch(toks: DataFrame): DataFrame =
    toks.select(posexplode(array((0 until Depth).map(r => bucket(r, col("tok"))): _*)))
      .groupBy(col("pos").as("r"), col("col").as("b"))
      .agg(count(lit(1)).as("cnt"))

  /** STAGE one batch's PARTIAL sketch as batch `key` under
    * `batches/b_<key>/sketch` ([[StagedBatches.stage]]: one exclusive
    * `_COMMITTED` create, a no-op for a key already applied). CMS is
    * mergeable — counters of independent sketches sum — so maintenance
    * is append-only; staging (rather than the earlier plain
    * `mode("append")`) closes the holes mergeability does NOT cover: a
    * reader folding the store while an append's files become visible
    * one job-commit rename at a time sees a TORN partial sketch — SOME
    * counters of the batch added, others not — which breaks the
    * min-over-rows estimate's "never under-counts relative to the
    * folded state" reading, and a crashed or redelivered batch would
    * double-count. With staging a batch folds once, entirely or not at
    * all. The store grows ≤ Depth·Width rows per batch between
    * compactions; [[storeSketch]] folds committed batches (+ the
    * compacted `base/`, when one exists) back to one sketch. */
  def ingestIntoStore(dir: String, batch: DataFrame, textCol: String,
                      key: String = StagedBatches.freshKey()): Boolean =
    StagedBatches.stage(batch.sparkSession, dir, key) { batchDir =>
      sketch(tokens(batch, textCol)).write.parquet(s"$batchDir/sketch")
    }

  /** The merged sketch of everything ingested: SUM per counter before
    * any min — the mergeability identity sum-of-sketches =
    * sketch-of-union. */
  private[ext] def storeSketch(spark: org.apache.spark.sql.SparkSession,
                               snap: StagedBatches.Snapshot): DataFrame = {
    val paths = snap.withBase(spark, "sketch")
    require(paths.nonEmpty,
      s"count-min store at ${snap.dir} is empty (no base, no committed batches)")
    spark.read.parquet(paths: _*)
      .groupBy(col("r"), col("b")).agg(sum(col("cnt")).as("cnt"))
  }

  /** [[storeSketch]] over the store's current committed batches. */
  def storeSketch(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    storeSketch(spark, StagedBatches.snapshot(spark, dir))

  /** Column names [[estimates]] uses internally — a candidate relation
    * carrying any of them would collide with the explode/join plumbing
    * and mis-estimate, so the contract is enforced loudly. */
  private val ReservedCols = Set("r", "b", "pos", "col", "cnt", "est")

  /** Point estimates for candidate tokens: min over the Depth row
    * counters, where a counter no token ever hashed to is a true ZERO
    * (left join + coalesce — an inner join would silently overestimate
    * absent probes by dropping their empty rows). `cands` must carry a
    * `tok` column and none of [[ReservedCols]]; all its columns pass
    * through with SET semantics (the estimate groups by every
    * candidate column, so exact-duplicate candidate rows collapse to
    * one — pass a distinct/aggregated candidate relation). The sketch
    * side broadcasts (bounded Depth·Width rows). */
  def estimates(cands: DataFrame, sk: DataFrame): DataFrame = {
    require(cands.columns.contains("tok"), "estimates: cands needs a 'tok' column")
    val clash = cands.columns.filter(ReservedCols)
    require(clash.isEmpty,
      s"estimates: candidate columns collide with internals: ${clash.mkString(", ")}")
    val passThrough = cands.columns.map(col).toSeq
    cands
      .select(passThrough :+
        posexplode(array((0 until Depth).map(r => bucket(r, col("tok"))): _*)): _*)
      .withColumnsRenamed(Map("pos" -> "r", "col" -> "b"))
      .join(broadcast(sk), Seq("r", "b"), "left")
      .groupBy(passThrough: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
