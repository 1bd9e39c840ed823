package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over an embedding column — the topic
  * clustering / cluster-balanced-sampling primitive of a training-data
  * pipeline (the SemDeDup cells are a driver-sample variant; this is
  * the full-corpus operator).
  *
  * Cross-engine discipline: everything after quantization is INTEGER.
  * Points quantize once to non-negative longs
  * `floor((x + Shift) · Quant)` (float→double cast is exact, the add
  * and the power-of-two multiply are IEEE-identical on Spark and
  * DuckDB), centroids live at scale `Quant · CScale`, distances are
  * exact long sums of squared diffs, and centroid means use truncating
  * division — identical on positive operands in Scala (`/`), Spark
  * (`div`) and DuckDB (`//`). Ties in the argmin break to the lowest
  * centroid index via struct-ordered `array_min`. The oracle
  * ([[unrolledSql]]) replays the SAME rounds as chained CTEs from the
  * same constants, so assignments are bit-identical after any number
  * of iterations — no float sum ever crosses engines.
  *
  * Scale shape: the E-step is MAP-ONLY — centroids are k·d longs of
  * broadcast driver metadata riding the expression tree, never a join.
  * The M-step aggregates the unfanned (cluster, q) rows with the
  * vector-summing [[graft.functions.LongVecSum]] (one hash probe per
  * row, one d-long buffer per cluster — the earlier posexplode form
  * fanned every row d× and paid the aggregate per element); partial
  * aggregation collapses each partition to ≤ k array rows, and the
  * collect is k rows of bounded model metadata — the Ivf precedent. The quantized
  * points localCheckpoint once (the MLlib-style cache every Lloyd
  * implementation needs: iters+1 passes re-read them); overflow is
  * impossible by construction (|x| < Shift = 4 → q < 2^17,
  * scaled diff < 2^26, squared < 2^52, ×dim(64) < 2^58 « 2^63).
  *
  * Overlong-row guard: quantization raises on |x| ≥ Shift rather than
  * silently wrapping — a corrupt embedding fails the job loudly (the
  * weightedTopK precondition precedent).
  */
object KMeans {

  /** Embedding components must satisfy |x| < Shift (asserted). */
  val Shift = 4.0
  /** Point quantization scale (2^14 — exact power-of-two multiply). */
  val Quant = 16384L
  /** Extra centroid scale so means keep 8 fractional bits. */
  val CScale = 256L

  /** Non-negative long quantization of a float/double array column.
    * NULL vectors and NULL components raise like out-of-range values —
    * a null would otherwise quantize to null and silently drag its
    * centroid coordinate toward zero in the M-step. */
  def quantCol(vec: Column): Column = {
    val quantized = transform(vec, x => {
      val xd = x.cast("double")
      when(xd.isNull || abs(xd) >= lit(Shift),
        raise_error(concat(lit(s"KMeans: component null or |x| >= $Shift: "),
          coalesce(xd.cast("string"), lit("null")))))
        .otherwise(floor((xd + lit(Shift)) * lit(Quant.toDouble)))
        .cast("long")
    })
    when(vec.isNull, raise_error(lit("KMeans: null embedding vector")))
      .otherwise(quantized)
  }

  /** Squared distance from the quantized point column `q` to one
    * centroid (scale Quant·CScale), as an exact long sum — the
    * codegen'd no-allocation form (the zip_with fold allocated a
    * d-element temp array per point PER CENTROID; same left-to-right
    * long sum, bit-identical). */
  private def distTo(c: Array[Long]): Column =
    graft.functions.QuantSqDist.distCol(col("q"), typedLit(c.toSeq), CScale)

  /** Map-only assignment of every point to its nearest centroid;
    * ties break to the lowest index (struct-ordered array_min). Keeps
    * the winning squared distance as `dist2` (exact long). */
  private def assign(pts: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    val best = array_min(array(cents.indices.map(i =>
      struct(distTo(cents(i)).as("d"), lit(i).as("c"))): _*))
    pts.withColumn("cluster", best.getField("c"))
      .withColumn("dist2", best.getField("d"))
  }

  private def quantPoints(em: DataFrame, idCol: String, vecCol: String): DataFrame =
    em.select(col(idCol).cast("long").as("vec_id"), quantCol(col(vecCol)).as("q"))

  /** The Lloyd loop over an already-quantized (vec_id, q) relation:
    * seed from the k lowest ids, `iters` rounds of (assign,
    * mean-update; an emptied cluster keeps its previous centroid). */
  private def lloyd(pts: DataFrame, k: Int, iters: Int): Array[Array[Long]] = {
    var cents: Array[Array[Long]] = pts.orderBy(col("vec_id")).limit(k).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Long](1).map(_ * CScale).toArray)
    require(cents.length == k, s"KMeans: k=$k but only ${cents.length} points")
    for (_ <- 1 to iters) {
      // vector-summing aggregate over the unfanned (cluster, q) rows:
      // the posexplode form paid the hash aggregate per ELEMENT (d×
      // the rows) and collected k·d rows; this collects k array rows.
      // Long sums are order-independent — values bit-identical.
      val sums = assign(pts, cents)
        .groupBy(col("cluster"))
        .agg(graft.functions.LongVecSum.sumCol(col("q")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone()) // an emptied cluster keeps its centroid
      sums.foreach { r =>
        val s = r.getSeq[Long](1)
        val n = r.getLong(2)
        val c = next(r.getInt(0))
        var i = 0
        while (i < c.length) {
          // positive operands: Scala `/`, Spark `div`, DuckDB `//` agree
          c(i) = s(i) * CScale / n
          i += 1
        }
      }
      cents = next
    }
    cents
  }

  /** Train and return the centroid model alone — k·d longs of driver
    * metadata, the broadcastable artifact a serving/streaming tier
    * assigns against ([[assignWith]]). The quantized-points
    * localCheckpoint lives only for the iters+1 training passes and is
    * freed here ([[CacheScope.releaseCheckpoint]]) instead of lingering
    * until driver GC. */
  def fitCentroids(em: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int): Array[Array[Long]] = {
    require(k >= 1 && iters >= 0, s"KMeans: need k >= 1, iters >= 0 (got $k, $iters)")
    val pts = quantPoints(em, idCol, vecCol).localCheckpoint()
    try lloyd(pts, k, iters)
    finally CacheScope.releaseCheckpoint(pts)
  }

  /** Map-only assignment of a (possibly streaming) relation against a
    * trained centroid model: no join, no shuffle, no state — the
    * centroids ride the expression tree as literals. */
  def assignWith(em: DataFrame, idCol: String, vecCol: String,
                 cents: Array[Array[Long]]): DataFrame =
    assign(quantPoints(em, idCol, vecCol), cents)
      .select(col("vec_id"), col("cluster"))

  /** STAGE one batch of assignments into the topic-shard store as
    * batch `key` under `batches/b_<key>/shards` (cluster-partitioned,
    * the serving layout) and commit with one exclusive `_COMMITTED`
    * create ([[StagedBatches.stage]], a no-op for a key already
    * applied) — the plain `mode("append")` this replaces made a batch's
    * files visible one job-commit rename at a time (a concurrent shard
    * reader could see a torn batch) and left a crashed append's partial
    * rows behind to double on retry; with staging a batch is visible
    * entirely or not at all. Map-only: centroids ride the expression
    * tree, one cluster-clustered write per batch. */
  def ingestIntoShards(dir: String, batch: DataFrame, idCol: String,
                       vecCol: String, cents: Array[Array[Long]],
                       key: String = StagedBatches.freshKey()): Boolean =
    // map-only like the append it replaces — no per-batch shuffle; the
    // compaction fold restores file-per-cluster locality
    StagedBatches.stage(batch.sparkSession, dir, key) { batchDir =>
      assignWith(batch, idCol, vecCol, cents)
        .write.partitionBy("cluster").parquet(s"$batchDir/shards")
    }

  /** The maintained shard store as one relation: the compacted `base/`
    * (when a compaction has produced one) + every COMMITTED staged
    * batch of `snap`, per-root reads unioned (partition discovery
    * cannot host roots of different depths in one FileIndex; each root
    * contributes its own cluster-partitioned scan). */
  private[ext] def readShards(spark: org.apache.spark.sql.SparkSession,
                              snap: StagedBatches.Snapshot): DataFrame = {
    val paths = snap.withBase(spark, "shards")
    require(paths.nonEmpty,
      s"k-means shard store at ${snap.dir} is empty (no base, no committed batches)")
    paths.map(spark.read.parquet(_)).reduce(_.unionByName(_))
  }

  /** [[readShards]] over the store's current committed batches. */
  def readShards(spark: org.apache.spark.sql.SparkSession,
                 dir: String): DataFrame =
    readShards(spark, StagedBatches.snapshot(spark, dir))

  /** Lloyd k-means: [[fitCentroids]] then the final (idCol, cluster)
    * assignment against the post-update centroids. The final
    * assignment deliberately re-reads the SOURCE (one extra map-only
    * quantization pass) rather than the training checkpoint, so the
    * checkpoint blocks can be freed the moment training ends instead
    * of living as long as the caller's plan. */
  def fit(em: DataFrame, idCol: String, vecCol: String,
          k: Int, iters: Int): DataFrame =
    assignWith(em, idCol, vecCol, fitCentroids(em, idCol, vecCol, k, iters))

  /** Model-quality summary (the elbow/inertia diagnostic): per final
    * cluster, member count and the EXACT within-cluster sum of squared
    * quantized distances. The sum runs in DECIMAL(38,0): per-point
    * dist2 is bounded by dim·2^52-ish longs, so a corpus-sized long
    * sum would silently wrap right where the metric matters most. */
  def inertia(em: DataFrame, idCol: String, vecCol: String,
              k: Int, iters: Int): DataFrame = {
    val cents = fitCentroids(em, idCol, vecCol, k, iters)
    assign(quantPoints(em, idCol, vecCol), cents)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        // accumulate in decimal (no wrap), emit as long — exact while
        // total inertia < 2^63, i.e. ~2^12 corpus-points per cluster
        // of worst-case distance; callers at larger scale read the
        // decimal directly via a wider projection
        sum(col("dist2").cast("decimal(38,0)")).cast("long").as("inertia"))
      .orderBy(col("cluster"))
  }

  /** The identical computation as DuckDB SQL over `table(vec_id,
    * embedding)`: CTE chain `pts, c0, a1, s1, c1, …, a{iters+1}`;
    * the final relation is `a${iters + 1}(vec_id, cluster)`. Callers
    * append their own SELECT. */
  def unrolledSql(k: Int, iters: Int, dim: Int, table: String): String = {
    val sb = new StringBuilder
    val sq = s"(p.q[j]*$CScale - c.c[j])"
    sb.append(s"WITH pts AS (SELECT vec_id, list_transform($table.embedding, " +
      s"x -> CAST(floor((CAST(x AS DOUBLE) + CAST($Shift AS DOUBLE)) * $Quant) AS BIGINT)) AS q " +
      s"FROM $table),\n")
    sb.append(s"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, " +
      s"list_transform(q, x -> x * $CScale) AS c " +
      s"FROM (SELECT * FROM pts ORDER BY vec_id LIMIT $k)),\n")
    for (t <- 1 to iters + 1) {
      sb.append(s"a$t AS (SELECT vec_id, q, CAST(cidx AS INT) AS cluster, dist FROM (" +
        s"SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cidx) AS rn FROM (" +
        s"SELECT p.vec_id, p.q, c.cidx, " +
        s"list_sum(list_transform(range(1, ${dim + 1}), j -> $sq * $sq)) AS dist " +
        s"FROM pts p CROSS JOIN c${t - 1} c)) WHERE rn = 1)")
      if (t <= iters) {
        sb.append(s",\ns$t AS (SELECT cluster, j, sum(q[j]) AS s, count(*) AS n " +
          s"FROM a$t CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS j) GROUP BY 1, 2),\n")
        sb.append(s"c$t AS (SELECT prev.cidx, coalesce(nw.c, prev.c) AS c " +
          s"FROM c${t - 1} prev LEFT JOIN (SELECT cluster AS cidx, " +
          s"list(CAST(s * $CScale // n AS BIGINT) ORDER BY j) AS c FROM s$t GROUP BY 1) nw " +
          s"USING (cidx)),\n")
      } else sb.append("\n")
    }
    sb.toString
  }
}
