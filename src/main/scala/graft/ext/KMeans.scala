package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{CentroidUpdate, QuantArgmin}

/** Lloyd k-means over an embedding column — the topic clustering /
  * cluster-balanced-sampling primitive of a training-data pipeline.
  * [[lloyd]] is the engine's one integer Lloyd program: it trains
  * independent groups of centroids, and k-means here is its one-group
  * case, SemDeDup's distributed trainer
  * ([[SemDedup.trainDistributedCells]]) its ⌈√k⌉-group case.
  *
  * Cross-engine discipline: everything after quantization is INTEGER.
  * Points quantize once to non-negative longs
  * `floor((x + Shift) · Quant)` (float→double cast is exact, the add
  * and the power-of-two multiply are IEEE-identical on Spark and
  * DuckDB), centroids live at scale `Quant · CScale`, distances are
  * exact long sums of squared diffs, and centroid means use truncating
  * division — identical on positive operands in Scala (`/`), Spark
  * (`div`) and DuckDB (`//`). Ties in the argmin break to the lowest
  * centroid index ([[graft.functions.QuantArgmin]]). The oracle
  * ([[unrolledSql]]) replays the SAME rounds as chained CTEs from the
  * same constants, so assignments are bit-identical after any number
  * of iterations — no float sum ever crosses engines.
  *
  * Scale shape: the model is a relation with one row per group, and a
  * point meets only its own group's centroids, through one codegen'd
  * argmin over them. A model that fits Spark's broadcast threshold is
  * broadcast — k-means' always is, being driver metadata — so its
  * E-step moves no point; a larger one is joined by shuffle. The
  * M-step is one per-group aggregate
  * ([[graft.functions.CentroidUpdate]]: per-cell vector sums, one
  * buffer probe per point row, partial aggregation collapsing each
  * partition to ≤ k·d longs). Trained models are served as k·d literal
  * longs riding the expression tree ([[assignWith]]). The quantized
  * points localCheckpoint once (every round re-reads them); overflow
  * is impossible by construction (|x| < Shift = 4 → q < 2^17,
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

  /** Nearest of the centroids `cents` (at scale Quant·CScale, sorted
    * by cell) to the quantized point column `q`: `struct<idx, dist>`. */
  private def argmin(cents: Column): Column =
    QuantArgmin.argminCol(col("q"), cents, CScale)

  /** Map-only assignment of every point to its nearest centroid, ties
    * to the lowest index; keeps the winning squared distance as
    * `dist2` (exact long). */
  private def assign(pts: DataFrame, cents: Array[Array[Long]]): DataFrame =
    pts.withColumn("best", argmin(typedLit(cents.toSeq.map(_.toSeq))))
      .select(col("*"), col("best.idx").as("cluster"), col("best.dist").as("dist2"))
      .drop("best")

  private def quantPoints(em: DataFrame, idCol: String, vecCol: String): DataFrame =
    em.select(col(idCol).cast("long").as("vec_id"), quantCol(col(vecCol)).as("q"))

  /** The integer Lloyd program over quantized points `(id, q, grp)`.
    * Group `grp` trains `alloc(grp)` centroids on its own points: the
    * seeds are its lowest ids (all of them when it has fewer), then
    * `iters` rounds of assign and mean-update, where an emptied cell
    * keeps its previous centroid. Returns the model, one row per group
    * `(grp, off, cents)`: `cents` sorted by seed id, and `off` the
    * group's first cell label (groups in `grp` order), so a point's
    * label is `off` + its centroid's index ([[nearest]]).
    *
    * The model is a lazy plan: the rounds chain into one query, each
    * round one join of the points with the previous model and one
    * per-group aggregate ([[graft.functions.CentroidUpdate]]), so a
    * round costs one shuffle of partial buffers. `bc` broadcasts the
    * model to the points; the caller decides it from the model's exact
    * size (Σalloc·d longs), which plan statistics cannot give — a
    * model's estimate is the product of its inputs'. Otherwise the
    * points shuffle to their group's model row.
    *
    * Seeds: one group takes its k lowest ids as one distributed
    * top-k; several take a per-group top-N window, which plans as a
    * WindowGroupLimit (no full per-group sort) while the largest
    * allocation stays within
    * `spark.sql.optimizer.windowGroupLimitThreshold` (1000 by default). */
  private[ext] def lloyd(pts: DataFrame, alloc: Seq[(Int, Int)], bc: Boolean,
                         iters: Int): DataFrame = {
    val byGrp = alloc.sortBy(_._1)
    val offs = byGrp.map(_._1).zip(byGrp.scanLeft(0)(_ + _._2)).toMap
    val seeds =
      if (byGrp.size == 1) pts.orderBy(col("id")).limit(byGrp.head._2)
      else pts
        .withColumn("rn", row_number().over(Window.partitionBy(col("grp")).orderBy(col("id"))))
        .filter(col("rn") <= lit(byGrp.map(_._2).max))
        .filter(col("rn") <= element_at(typedLit(alloc.toMap), col("grp")))
    var model = seeds.groupBy(col("grp"))
      .agg(sort_array(collect_list(struct(col("id"), col("q")))).as("s"))
      .select(col("grp"), element_at(typedLit(offs), col("grp")).as("off"),
        transform(col("s"), e => transform(e.getField("q"), x => x * lit(CScale)))
          .as("cents"))
    // the group's model row rides the M-step as one extra row per group
    // with q NULL, so no point row carries a copy of its group's model
    val modelRows = pts.sparkSession.createDataFrame(byGrp.map(_._1).map(Tuple1(_)))
      .toDF("grp").select(col("grp"), lit(null).cast("array<bigint>").as("q"))
    for (_ <- 1 to iters) {
      model = join(pts.select(col("grp"), col("q")).unionByName(modelRows), model, bc)
        // and only that row keeps the centroids into the aggregate
        .select(col("grp"), col("off"), col("q"), col("best.idx").as("idx"),
          when(col("q").isNull, col("cents")).as("prev"))
        .groupBy(col("grp"))
        .agg(max(col("off")).as("off"),
          CentroidUpdate.updateCol(col("q"), col("idx"), col("prev"), CScale).as("cents"))
    }
    model
  }

  /** Every point against its group's row of a [[lloyd]] model, with its
    * nearest centroid `best` (struct of `idx`, `dist`). */
  private def join(pts: DataFrame, model: DataFrame, bc: Boolean): DataFrame =
    pts.join(if (bc) broadcast(model) else model, Seq("grp"))
      .withColumn("best", argmin(col("cents")))

  /** The points of `pts` labelled by a [[lloyd]] model: `cell` is the
    * group's `off` + the index of the point's nearest centroid. */
  private[ext] def nearest(pts: DataFrame, model: DataFrame, bc: Boolean): DataFrame =
    join(pts, model, bc).select(col("id"), (col("off") + col("best.idx")).as("cell"))

  /** Train and return the centroid model alone — k·d longs of driver
    * metadata, the broadcastable artifact a serving/streaming tier
    * assigns against ([[assignWith]]): [[lloyd]] with one group of k
    * seeds, its model broadcast (it is collected and served as literals
    * anyway). The quantized-points localCheckpoint lives only for the
    * training query and is freed here ([[CacheScope.releaseCheckpoint]])
    * instead of lingering until driver GC. */
  def fitCentroids(em: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int): Array[Array[Long]] = {
    require(k >= 1 && iters >= 0, s"KMeans: need k >= 1, iters >= 0 (got $k, $iters)")
    val pts = quantPoints(em, idCol, vecCol)
      .select(col("vec_id").as("id"), col("q"), lit(0).as("grp")).localCheckpoint()
    try {
      val cents = lloyd(pts, Seq(0 -> k), bc = true, iters).select(col("cents")).collect()
        .flatMap(_.getSeq[scala.collection.Seq[Long]](0).map(_.toArray))
      require(cents.length == k, s"KMeans: k=$k but only ${cents.length} points")
      cents
    } finally CacheScope.releaseCheckpoint(pts)
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
