package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication"): embedding-space
  * deduplication that catches SEMANTIC duplicates exact/minhash text
  * dedup cannot see. The published recipe: k-means the (normalized)
  * embeddings, then inside each cluster drop every member whose cosine
  * to another member exceeds τ, keeping one representative per
  * semantic-duplicate group (here: the lowest id, the repo's canonical
  * tie-break).
  *
  * Built from the parts this engine already trusts: the deterministic
  * driver-sample Lloyd trainer ([[Ivf.train]] — bounded O(sample·k·dim)
  * driver work regardless of corpus size) and the codegen'd
  * [[graft.functions.DotProduct]] via [[Similarity.dotUdf]]. Vectors
  * are L2-normalized BEFORE clustering, so scaling noise cannot split a
  * duplicate pair across cells and the within-cell dot product IS the
  * cosine.
  *
  * Scale shape: one shuffle of (id, unit-vector) rows on the cell key;
  * the quadratic is confined within cells — Σ|cell|² is the SemDeDup
  * cost knob, controlled by k (at 100 TB raise k so cells stay
  * executor-sized; the paper runs 50k clusters over 5B embeddings).
  * Below [[DistributedK]] the centroid model is k·dim doubles riding a
  * udf closure — bounded metadata, like the IVF serving path; at and
  * past it, training AND assignment go fully distributed
  * ([[trainDistributedCells]]) so nothing k-sized ever sits on the
  * driver or in a closure. */
object SemDedup {

  /** The paper's cell-sizing discipline made explicit (Abbas et al.
    * run 50k clusters over 5B embeddings ≈ 100k per cell — k GROWS
    * with n): choose k so the EXPECTED cell size stays
    * ~`targetCellSize`, making the within-cell pairwise term
    * Σ|cell|² ≈ n·targetCellSize — LINEAR in n — where a fixed k
    * degrades to n²/k (the one superlinear curve the sf1→sf10 ladder
    * measured: 12.0× per decade at pinned k=16, SCALE.md). Floor 16 =
    * the operator default, so small corpora behave identically. */
  def kFor(n: Long, targetCellSize: Long): Int = {
    require(targetCellSize > 0, s"targetCellSize must be > 0: $targetCellSize")
    math.max(16L, (n + targetCellSize - 1) / targetCellSize).toInt
  }

  /** [[semDedup]] with k auto-scaled by [[kFor]] — the shape to copy
    * at corpus scale. Costs ONE extra count scan of the id column to
    * size k; the count is a number, not data, on the driver. Past
    * [[DistributedK]] cells, training itself goes distributed
    * ([[trainDistributedCells]]): the driver never collects more than
    * a √k-bounded sample regardless of k. */
  def semDedupAuto(emb: DataFrame, idCol: String, vecCol: String,
                   tau: Double, targetCellSize: Long = 512,
                   iters: Int = 3,
                   distributedK: Int = DistributedK): DataFrame =
    semDedup(emb, idCol, vecCol, tau,
      k = kFor(emb.select(col(idCol)).count(), targetCellSize),
      iters = iters, distributedK = distributedK)

  /** Flat nearest-centroid above this k pays more in assignment than
    * the cells save in comparison — switch to two-level. */
  private val TwoLevelK = 64

  /** k at or above which cell TRAINING goes distributed
    * ([[trainDistributedCells]]). Below it, the driver-sample
    * [[Ivf.train]] collects ~max(4096, k) vectors and runs an
    * O(sample·k·d) Lloyd; at auto-scaled k = n/targetCellSize a
    * 1B-embedding corpus gives k ≈ 2M — a ~1 GB driver collect, an
    * O(k²·d) single-core loop, and a k·d closure broadcast — so past
    * SOME k the training must go distributed (VERDICT r17 #2).
    *
    * WHERE that threshold sits was re-tuned by measurement in round 19
    * (the r18 constant, 4096, was argued from flop counts and never
    * run): at the first rung AT the old threshold — n=2.4M, k=4688,
    * d=64, SynthScale ×1000 — the driver trainer finished the full
    * semDedupAuto pass in 128.6 s while the distributed trainer took
    * 882.7 s; after the E-step's allocation fix (a no-allocation
    * codegen'd distance) the gap is still 1.7×
    * (100.8 s vs 168.8 s — SCALE.md round-19 table). Equating the
    * driver's single-core Lloyd term (~k²·d·iters/10⁹ s, the only
    * driver cost that outgrows the distributed program) against the
    * measured distributed E-step overhead (∝ n·√k·d, and n = 512·k
    * under auto-k — the d's cancel) puts the TIME crossover near
    * k ≈ 10⁶ at any dimension; the driver's 8·k·d-byte collect +
    * closure wall arrives first at high d (≈200 MB at k=32768,
    * d=768). 32768 sits below both walls at every dimension this
    * engine ships (d ≤ 768) while keeping the measured-faster driver
    * path for the decade the old constant wrongly routed distributed;
    * callers at very high d should pass a lower `distributedK` (the
    * knob is a parameter everywhere). */
  val DistributedK = 32768

  /** DISTRIBUTED two-level Lloyd over the unit-vector relation:
    * returns (id, cell) with cell densely numbered in [0, #cells).
    * Nothing corpus-sized ever reaches the driver, and the model only
    * as a broadcast within Spark's threshold — the other collects are
    * [[Ivf.train]]'s coarse sample (⌈√k⌉ centroids) and the
    * ≤⌈√k⌉-row group-count/seed-allocation table.
    *
    * Structure (the serving-side two-level assignment, applied to
    * training): a bounded coarse model partitions the space into
    * g = ⌈√k⌉ FIXED groups; seeds are allocated per group
    * proportionally to its point count (largest-remainder, every live
    * group ≥ 1 seed, capped by group size — so every point always has
    * candidates and no group empties out); then [[KMeans.lloyd]], the
    * engine's one integer Lloyd program, trains the groups
    * independently: each point is scored by one codegen'd argmin over
    * its own group's ≈√k centroids, so the E-step is O(n·√k·d)
    * arithmetic with no per-candidate row and no aggregate keyed by
    * point. Group boundaries make the clustering approximate in
    * exactly the way the serving path already is — SemDeDup tolerates
    * it by design (cells only decide which pairs are COMPARED, and
    * identical unit vectors co-assign under any deterministic
    * function; SemDedupSpec pins driver-trained ≡ distributed-trained
    * planted verdicts).
    *
    * Determinism discipline: everything after the coarse assignment is
    * INTEGER ([[KMeans]]'s quantization — points at scale Quant,
    * centroids at Quant·CScale, exact long distances, truncating-
    * division means, argmin ties to the lowest cell) — no float sum
    * ever depends on row order, so the assignment is bit-stable across
    * runs and partitionings. */
  private[ext] def trainDistributedCells(unit: DataFrame, k: Int,
                                         iters: Int): DataFrame = {
    if (unit.isEmpty) {
      // empty input: no sample to train on ([[Ivf.train]] requires a
      // non-empty sample) and no groups to allocate — return the empty
      // (id, cell) relation instead of crashing (ADVICE r18). One
      // LIMIT-1 scan, negligible next to the iters+2 training passes.
      return CacheScope.register(
        unit.select(col("id"), lit(0).cast("int").as("cell"))
          .limit(0).persist())
    }
    val g = math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
    val coarse = Ivf.train(unit, "id", "v", g, iters)
    val grpUdf = udf((v: Seq[Double]) => coarse.nearest(v, 1)(0))
    // quantized points with their FIXED coarse group: iters+2 passes
    // re-read them (the KMeans localCheckpoint rationale)
    val pts = unit.select(col("id"), KMeans.quantCol(col("v")).as("q"),
      grpUdf(col("v")).as("grp")).localCheckpoint()

    // per-group seed allocation: ≤ g rows on the driver — bounded by
    // √k, not k. Largest-remainder proportional shares, floor 1 per
    // live group, capped at the group's size.
    val counts = pts.groupBy(col("grp")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = counts.map(_._2).sum.max(1L)
    val base = counts.map { case (grp, c) =>
      (grp, c, math.max(1L, math.min(c, k.toLong * c / total)))
    }
    var left = k.toLong - base.map(_._3).sum
    // distribute any remainder by largest fractional share (ties to
    // the lower group id via the stable sort), still capped by size.
    // Pass until left==0 or NO group has remaining capacity (the
    // fixed *8 bound could strand seeds when the remainder
    // concentrates in a few uncapped groups — ADVICE r18); when total
    // capacity < k (k > n) the loop stops with fewer seeds, which is
    // every seed the corpus can support.
    val alloc = scala.collection.mutable.Map(base.map(b => b._1 -> b._3): _*)
    if (left > 0) {
      val order = base.sortBy { case (grp, c, _) =>
        (-(k.toLong * c % total), grp)
      }
      var progressed = true
      while (left > 0 && progressed) {
        progressed = false
        var i = 0
        while (left > 0 && i < order.length) {
          val (grp, c, _) = order(i)
          if (alloc(grp) < c) { alloc(grp) += 1; left -= 1; progressed = true }
          i += 1
        }
      }
    }
    val groups = alloc.toSeq.map { case (grp, a) => grp -> a.toInt }
    // the model is Σalloc centroids of d longs: broadcast it when that
    // fits the session's threshold, else shuffle the points to it
    val bc = groups.map(_._2.toLong).sum * coarse.centroids.head.length * 8 <=
      unit.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val asg = CacheScope.register(
      KMeans.nearest(pts, KMeans.lloyd(pts, groups, bc, iters), bc).persist())
    asg.count() // materialize BEFORE the checkpoint blocks are freed
    CacheScope.releaseCheckpoint(pts)
    asg
  }

  /** The per-vector cell-assignment function: flat O(k·d) nearest for
    * small k; TWO-LEVEL (coarse-quantized) for k > [[TwoLevelK]] — the
    * centroids themselves are clustered into ⌈√k⌉ groups (one driver
    * Lloyd over the k centroid points, bounded metadata) and a vector
    * probes only its nearest group's members: O((√k + k/√k)·d) ≈
    * O(2√k·d) per row. Without this, assignment is O(n·k·d) =
    * O(n²·d / targetCellSize) at auto-scaled k and silently re-becomes
    * the quadratic auto-k exists to kill (measured at sf10: flat
    * assignment at k=469 ate the entire pairwise saving — 27.9 s vs
    * fixed-k's 29.5). Group-boundary assignments become approximate,
    * which SemDeDup tolerates BY DESIGN: cells only decide which pairs
    * are COMPARED (the published recipe's k-means is itself an
    * approximation), and a duplicate pair's identical unit vectors
    * co-assign under any deterministic function, so planted contracts
    * and the dedup guarantee for exact semantic duplicates are
    * unaffected. */
  private def assignFn(model: Ivf.Model): Seq[Double] => Int = {
    val k = model.centroids.length
    if (k <= TwoLevelK) { (vec: Seq[Double]) => model.nearest(vec, 1)(0) }
    else {
      val g = math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
      val coarse = Ivf.lloyd(model.centroids.map(_.clone()), g, 3)
      val byGroup = Array.fill(g)(
        scala.collection.mutable.ArrayBuffer.empty[Int])
      model.centroids.indices.foreach { ci =>
        byGroup(coarse.nearest(model.centroids(ci).toSeq, 1)(0)) += ci
      }
      // only non-empty groups are probe targets (a coarse center can
      // end up with zero members; probing it would have no answer)
      val live = byGroup.zipWithIndex.filter(_._1.nonEmpty)
      val liveCenters = Ivf.Model(live.map { case (_, gi) => coarse.centroids(gi) })
      val liveMembers: Array[Array[Int]] = live.map(_._1.toArray)
      (vecSeq: Seq[Double]) => {
        val vec = vecSeq.toArray // List-representation guard (Ivf.Model.nearest)
        val mem = liveMembers(liveCenters.nearest(vec, 1)(0))
        var best = mem(0)
        var bestD = Double.MaxValue
        mem.foreach { ci =>
          val cent = model.centroids(ci)
          var d = 0.0
          var i = 0
          val len = math.min(cent.length, vec.length)
          while (i < len) { val df = cent(i) - vec(i); d += df * df; i += 1 }
          if (d < bestD || (d == bestD && ci < best)) { bestD = d; best = ci }
        }
        best
      }
    }
  }

  /** (id, v) unit-vector rows: L2-normalized double vectors keyed by
    * id — the input relation of both the batch operator and the
    * streaming maintainer. */
  private[graft] def unitRows(emb: DataFrame, idCol: String,
                              vecCol: String): DataFrame = {
    val vd = transform(col(vecCol), x => x.cast("double"))
    emb
      .select(col(idCol).as("id"), vd.as("v0"))
      .withColumn("n2", aggregate(col("v0"), lit(0.0), (a, x) => a + x * x))
      .select(col("id"),
        transform(col("v0"), x => x / sqrt(col("n2"))).as("v"))
  }

  /** (id, cell, kept) for every input vector. `kept=false` iff some
    * same-cell member with a smaller id sits within cosine ≥ τ.
    * At k ≥ `distributedK` the cells train distributed
    * ([[trainDistributedCells]]); below it, the bounded driver-sample
    * [[Ivf.train]] + closure assignment. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               tau: Double, k: Int = 16, iters: Int = 3,
               distributedK: Int = DistributedK): DataFrame = {
    val unit = unitRows(emb, idCol, vecCol)
    // PERSIST the assigned relation: it feeds BOTH pair sides and the
    // final join-back, and assignment is O(√k·dim) per row — unpersisted
    // it re-runs three times. CacheScope loan pattern: released at the
    // caller's scope exit.
    val cells = if (k >= distributedK) {
      // the (id, cell) assignment is already persisted inside the
      // trainer; the vector join-back re-derives unit (one narrow
      // normalize scan), keeping the cached footprint to 2 longs/row
      // plus this joined relation
      CacheScope.register(unit.join(trainDistributedCells(unit, k, iters),
        Seq("id")).persist())
    } else {
      val model = Ivf.train(unit, "id", "v", k, iters)
      val assign = udf(assignFn(model))
      CacheScope.register(
        unit.withColumn("cell", assign(col("v"))).persist())
    }
    val a = cells.select(col("cell"), col("id").as("i"), col("v").as("va"))
    val b = cells.select(col("cell"), col("id").as("j"), col("v").as("vb"))
    // SHUFFLED HASH, pinned in the auto-scaled-k regime: there the
    // join key is a HIGH-cardinality cell id with the build side
    // bounded per key by the target cell size, so a per-partition hash
    // table streams the probe side with no sort and no spill. Left to
    // AQE the strategy flips between hash and sort-merge run to run
    // (stats sit near the boundary once `cells` is cached), and the
    // SMJ mode buffers whole cells per key through spilling
    // ExternalAppendOnlyUnsafeRowArrays — measured 13 s vs 58 s
    // BIMODAL on the same sf10 input; pinning removes the coin flip.
    // At SMALL fixed k the trade inverts (few giant keys leave
    // partitions idle and per-key bucket chains huge — measured 75 s
    // pinned vs 33 s under AQE's choice at sf10's misconfigured
    // k=16), so the fixed-k path keeps AQE's judgment.
    val aSide = if (k > TwoLevelK) a.hint("shuffle_hash") else a
    val dropped = aSide.join(b, Seq("cell"))
      .filter(col("i") < col("j"))
      .filter(Similarity.dotUdf(col("va"), col("vb")) >= tau)
      .select(col("j").as("id")).distinct()
    cells
      .join(dropped.withColumn("d", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell").cast("int").as("cell"),
        coalesce(col("d"), lit(false)).as("dropped"))
      .withColumn("kept", !col("dropped"))
      .drop("dropped")
  }

  // ---------- streaming / incremental SemDeDup ----------
  //
  // The semantic-dedup analogue of the engine's other streaming
  // maintainers (the MinHash band store, the staged IVF ingest): a
  // continuously-ingesting corpus needs per-batch cell assignment
  // against a FROZEN centroid model plus within-cell cosine
  // comparison against the stored representatives, with the staged
  // atomic-commit discipline ([[StagedBatches]]) so a concurrent
  // reader never sees a torn batch.
  //
  // Layout under `root`:
  //   centroids/              frozen unit-space model (cell, c)
  //   batches/b_<key>/reps        the batch's KEPT representatives (id, cell, v)
  //   batches/b_<key>/verdicts    the batch's verdicts (id, cell, kept)
  //   batches/b_<key>/_COMMITTED  the single exclusive commit marker
  //
  // Verdict semantics — FIRST-WINS streaming discipline: an incoming
  // doc DROPS iff some already-committed representative in its cell,
  // or some smaller-id member of its own batch in the same cell, sits
  // within cosine ≥ τ. That is the batch operator's non-transitive
  // in-batch rule plus arrival order across batches: only KEPT docs
  // enter the store, so a dropped doc never suppresses anything in a
  // LATER batch (in-batch it can, exactly as [[semDedup]]'s i<j rule
  // can). Identical unit vectors co-assign under the frozen model as
  // under any deterministic assignment, so a planted clone drops
  // whenever its original arrived no later than it.
  //
  // 100 TB shape: state is the representative relation (id + cell +
  // unit vector ≈ the post-dedup corpus embeddings) on distributed
  // storage — never in a driver or state store; a batch's work is one
  // cell-keyed batch×store join plus the in-batch self-join, linear
  // in batch size × cell occupancy, never corpus². The k-row frozen
  // model is the only driver-resident object (the IVF serving
  // contract); centroid drift is handled by the next full rebuild,
  // the standard IVF maintenance split. A crashed attempt leaves an
  // uncommitted dir every read ignores, and a redelivered batch is a
  // no-op ([[StagedBatches.stage]]); a doc id that arrives again in a
  // NEW file never pairs with its own earlier representative (the id
  // guard).

  private val RepSchema = "id LONG, cell INT, v ARRAY<DOUBLE>"
  private val StreamVerdictSchema = "id LONG, cell INT, kept BOOLEAN"

  private def emptyOf(spark: org.apache.spark.sql.SparkSession,
                      ddl: String): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** Trains and freezes the cell model from a bootstrap corpus —
    * run ONCE before the stream starts (the [[Ivf.buildIndex]]
    * split: build batch, maintain streaming). The driver-sample
    * trainer suffices here because the frozen model is serving
    * metadata (k·d rows), not per-corpus state. */
  def initStream(spark: org.apache.spark.sql.SparkSession, root: String,
                 bootstrap: DataFrame, idCol: String, vecCol: String,
                 k: Int = 16, iters: Int = 3): Unit = {
    val model = Ivf.train(unitRows(bootstrap, idCol, vecCol), "id", "v",
      k, iters)
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
  }

  /** The frozen per-vector assignment (two-level past [[TwoLevelK]],
    * like the batch path). k rows collected — bounded model metadata. */
  private def loadAssigner(spark: org.apache.spark.sql.SparkSession,
                           root: String): Seq[Double] => Int = {
    val cents = spark.read.parquet(s"$root/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    assignFn(Ivf.Model(cents.map(_._2)))
  }

  /** One micro-batch step: assign cells under the frozen model,
    * compare within-cell against the committed representatives plus
    * the batch's own smaller ids, and stage verdicts + new
    * representatives as batch `key` ([[StagedBatches.stage]]: one
    * exclusive commit, a no-op for a key already applied). */
  def ingestBatch(root: String, batch: DataFrame, idCol: String,
                  vecCol: String, tau: Double,
                  key: String = StagedBatches.freshKey()): Boolean = {
    val s = batch.sparkSession
    StagedBatches.stage(s, root, key) { bd =>
      val assign = udf(loadAssigner(s, root))
      // persisted: feeds the cross join, the self join, and both writes
      val asg = unitRows(batch, idCol, vecCol)
        .withColumn("cell", assign(col("v"))).persist()
      try {
        val repPaths = StagedBatches.committedDirs(s, root).map(d => s"$d/reps")
        val store =
          if (repPaths.isEmpty) emptyOf(s, RepSchema)
          else s.read.schema(RepSchema).parquet(repPaths: _*)
        // cross-batch: the store holds only EARLIER batches (this
        // batch's dir is uncommitted until the end), so first-wins is
        // structural; the id guard keeps a doc id seen again from
        // pairing with its own earlier representative
        val cross = asg.as("a").join(store.as("b"),
            col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id"))
          .filter(Similarity.dotUdf(col("a.v"), col("b.v")) >= tau)
          .select(col("a.id").as("id"))
        // in-batch: the batch operator's i<j rule within this batch
        val inBatch = asg.select(col("cell"), col("id").as("i"), col("v").as("va"))
          .join(asg.select(col("cell"), col("id").as("j"), col("v").as("vb")),
            Seq("cell"))
          .filter(col("i") < col("j"))
          .filter(Similarity.dotUdf(col("va"), col("vb")) >= tau)
          .select(col("j").as("id"))
        val dropped = cross.unionByName(inBatch).distinct().persist()
        // both staged writes read the persisted asg + dropped and write
        // disjoint dirs — overlap them (guide §2.6); the commit marker
        // stays strictly after the join
        try ParJobs.run(
          () => asg.join(dropped.withColumn("d", lit(true)), Seq("id"), "left")
            .select(col("id"), col("cell").cast("int").as("cell"),
              (!coalesce(col("d"), lit(false))).as("kept"))
            .write.parquet(s"$bd/verdicts"),
          () => asg.join(dropped, Seq("id"), "left_anti")
            .select(col("id"), col("cell").cast("int").as("cell"), col("v"))
            .write.parquet(s"$bd/reps"))
        finally { dropped.unpersist(); () }
      } finally { asg.unpersist(); () }
    }
  }

  /** All committed verdicts so far: (id, cell, kept). */
  def readStreamVerdicts(spark: org.apache.spark.sql.SparkSession,
                         root: String): DataFrame = {
    val paths = StagedBatches.committedDirs(spark, root)
      .map(d => s"$d/verdicts")
    if (paths.isEmpty) emptyOf(spark, StreamVerdictSchema)
    else spark.read.schema(StreamVerdictSchema).parquet(paths: _*)
  }
}
