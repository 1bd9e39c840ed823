package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the coarse-
  * quantizer counterpart to [[Similarity.lshTopK]]: k-means-style
  * centroids partition the corpus into cells; a query scans only its
  * `nProbe` closest cells.
  *
  * Training is deterministic AND bounded: a hash-sampled subset of the
  * corpus (capped at `sampleTarget` vectors, one filtered scan, no
  * global window / no per-iteration corpus shuffle) is collected once
  * and Lloyd runs driver-side on that fixed-size sample. The centroid
  * set broadcasts; assignment is a narrow map over the corpus. The
  * 100 TB shape: the training scan reads only (id, vec) columns and the
  * sample predicate is a pushable hash filter; assign in one pass
  * partitioned by cell id and store cell id as a partition column so
  * queries prune to nProbe cells at the SCAN (partition pruning, not a
  * post-filter).
  */
object Ivf {

  final case class Model(centroids: Array[Array[Double]]) {
    def nearest(vec: Seq[Double], n: Int): Array[Int] = {
      // NORMALIZE to an array before the index loop: Spark's UDF
      // deserializer hands Seq[Double] as a scala List in some plan
      // modes (2.13's immutable.Seq default builder), where vec(i) is
      // O(i) and the distance loop silently goes O(d²) — observed as a
      // BIMODAL 4× slowdown of whole queries (jstack: every executor
      // thread in List.apply inside this closure). One O(d) copy per
      // call is noise; pathological indexing never happens.
      val v = vec.toArray
      val scored = centroids.indices.map { c =>
        var d = 0.0
        val cent = centroids(c)
        var i = 0
        val len = math.min(cent.length, v.length)
        while (i < len) { val diff = cent(i) - v(i); d += diff * diff; i += 1 }
        (c, d)
      }
      scored.sortBy { case (c, d) => (d, c) }.take(n).map(_._1).toArray
    }
  }

  /** Deterministic, scale-bounded training: hash-sample ~`sampleTarget`
    * vectors in one filtered scan (`xxhash64(id) % m == 0` — no global
    * window, no rank funnel), collect the sample once, seed with every
    * (|sample|/k)-th vector by id, then run `iters` Lloyd steps locally
    * on the sample. Driver compute is O(sampleTarget × k × dim) per
    * iteration — fixed regardless of corpus size. */
  def train(emb: DataFrame, idCol: String, vecCol: String,
            k: Int = 16, iters: Int = 3, sampleTarget: Int = 4096): Model = {
    val sample = hashSample(emb, idCol, vecCol, sampleTarget, k)
    require(sample.nonEmpty, "ivf training sample is empty")
    lloyd(sample, k, iters)
  }

  /** One filtered scan → the driver-side training sample, id-sorted so
    * the draw is deterministic regardless of partitioning. */
  private def hashSample(emb: DataFrame, idCol: String, vecCol: String,
                         sampleTarget: Int, k: Int): Array[Array[Double]] = {
    val n = emb.count()
    val m = math.max(1L, n / math.max(sampleTarget.toLong, k.toLong))
    emb
      .filter(pmod(xxhash64(col(idCol)), lit(m)) === 0)
      .select(col(idCol).cast("string").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
      .map(_._2)
  }

  /** Deterministic Lloyd on a driver-side sample: every (|s|/k)-th
    * vector seeds, `iters` assign/average steps. Shared by the coarse
    * quantizer ([[train]]), each PQ subspace ([[trainPq]]) and
    * [[SemDedup]]'s two-level assignment, which clusters the CENTROIDS
    * themselves. */
  private[ext] def lloyd(sample: Array[Array[Double]], k: Int, iters: Int): Model = {
    val stride = math.max(sample.length / k, 1)
    val seeds = sample.indices.collect {
      case i if i % stride == 0 => sample(i).clone()
    }.take(k).toArray

    var cents = seeds
    var it = 0
    while (it < iters) {
      val dim = cents.headOption.map(_.length).getOrElse(0)
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      val model = Model(cents)
      sample.foreach { v =>
        val c = model.nearest(v, 1)(0)
        val s = sums(c)
        var i = 0
        val len = math.min(dim, v.length)
        while (i < len) { s(i) += v(i); i += 1 }
        counts(c) += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c) // keep an empty cell's seed
        else sums(c).map(_ / counts(c))
      }.toArray
      it += 1
    }
    Model(cents)
  }

  private def assignUdf(model: Model, nProbe: Int) =
    udf((vec: Seq[Double]) => model.nearest(vec, nProbe))

  // ---- product quantization (Jégou et al., TPAMI 2011) ---------------

  /** PQ codebooks: `books(j)(c)` is centroid `c` of subspace `j` — the
    * dsub = dim∕m consecutive components starting at j·dsub. A vector
    * encodes as m unsigned-byte codes (one codebook index per
    * subspace): at m=8 over 64-dim floats that is 8 bytes against 256
    * float bytes, a 32× smaller index than the raw vectors and 4×
    * under the int8 index — the memory/IO shape that makes a 10⁹-row
    * ANN index fit a cluster's page cache. */
  final case class PqModel(books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def ks: Int = books.head.length
    def dsub: Int = books.head.head.length

    /** Nearest-centroid code per subspace (ties → lowest code, like
      * [[Model.nearest]]). */
    def encode(vecSeq: Seq[Double]): Array[Byte] = {
      val vec = vecSeq.toArray // List-representation guard ([[Model.nearest]])
      val out = new Array[Byte](m)
      var j = 0
      while (j < m) {
        val book = books(j)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < book.length) {
          val cent = book(c)
          var d = 0.0
          var i = 0
          while (i < cent.length) {
            val off = j * dsub + i
            val x = if (off < vec.length) vec(off) else 0.0
            val diff = cent(i) - x
            d += diff * diff
            i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(j) = best.toByte
        j += 1
      }
      out
    }

    /** L2 norm of the reconstruction Σⱼ book(j)(codeⱼ) — stored per
      * indexed vector so the ADC score can be norm-corrected into a
      * cosine against the reconstruction. */
    def reconNorm(codes: Array[Byte]): Double = {
      var s = 0.0
      var j = 0
      while (j < m) {
        val cent = books(j)(codes(j) & 0xff)
        var i = 0
        while (i < cent.length) { s += cent(i) * cent(i); i += 1 }
        j += 1
      }
      math.sqrt(s)
    }

    /** Per-QUERY lookup table, flattened `[j·ks + c] = ⟨q_j, book(j)(c)⟩`:
      * computed once per query (m·ks small dot products), then every
      * candidate scores with m table reads ([[graft.functions.PqAdc]])
      * instead of a dim-length multiply-add. */
    def lut(vecSeq: Seq[Double]): Array[Double] = {
      val vec = vecSeq.toArray // List-representation guard ([[Model.nearest]])
      val out = new Array[Double](m * ks)
      var j = 0
      while (j < m) {
        val book = books(j)
        var c = 0
        while (c < book.length) {
          val cent = book(c)
          var d = 0.0
          var i = 0
          while (i < cent.length) {
            val off = j * dsub + i
            if (off < vec.length) d += cent(i) * vec(off)
            i += 1
          }
          out(j * ks + c) = d
          c += 1
        }
        j += 1
      }
      out
    }
  }

  /** PQ training: ONE [[hashSample]] draw, then an independent
    * deterministic [[lloyd]] per subspace over the sliced sample —
    * driver compute is m × O(sampleTarget × ks × dsub) per iteration,
    * fixed regardless of corpus size (the [[train]] bound, m times). */
  def trainPq(emb: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, ks: Int = 16, iters: Int = 3,
              sampleTarget: Int = 4096): PqModel =
    trainPqOn(hashSample(emb, idCol, vecCol, sampleTarget, ks), m, ks, iters)

  /** [[trainPq]] on an already-drawn sample — [[buildPqIndex]] reuses
    * the coarse quantizer's draw so one index build scans the corpus
    * for its sample exactly once. */
  def trainPqOn(sample: Array[Array[Double]], m: Int, ks: Int,
                iters: Int): PqModel = {
    require(sample.nonEmpty, "pq training sample is empty")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim is not divisible by m=$m subspaces")
    val dsub = dim / m
    val books = Array.tabulate(m) { j =>
      val sub = sample.map(_.slice(j * dsub, (j + 1) * dsub))
      lloyd(sub, ks, iters).centroids
    }
    PqModel(books)
  }

  /** The float index of `emb` (`vec_id`, `embedding`), the corpus at
    * `corpusDir`, served from its build-once store
    * ([[GenerationStore.ensureForCorpus]]; k and iters join the key).
    * Returns the generation dir to serve. */
  def indexFor(emb: DataFrame, corpusDir: String, k: Int, iters: Int): String =
    GenerationStore.ensureForCorpus(emb.sparkSession,
        s"graft_ivf_v1_k${k}_i$iters", corpusDir) {
      buildIndex(emb, "vec_id", "embedding", _, k, iters)
    }

  /** [[indexFor]] for the int8-quantized inverted file. */
  def quantizedIndexFor(emb: DataFrame, corpusDir: String, k: Int,
                        iters: Int): String =
    GenerationStore.ensureForCorpus(emb.sparkSession,
        s"graft_ivfq8_v1_k${k}_i$iters", corpusDir) {
      buildQuantizedIndex(emb, "vec_id", "embedding", _, k, iters)
    }

  /** [[indexFor]] for the product-quantized inverted file — m and ks
    * join the key because the code layout changes with them. */
  def pqIndexFor(emb: DataFrame, corpusDir: String, k: Int, iters: Int,
                 m: Int = 8, ks: Int = 16): String =
    GenerationStore.ensureForCorpus(emb.sparkSession,
        s"graft_ivfpq_v1_k${k}_i${iters}_m${m}_ks$ks", corpusDir) {
      buildPqIndex(emb, "vec_id", "embedding", _, k, iters, m, ks)
    }

  /** Train-once / query-many: build the inverted file ON DISK — the
    * centroid table plus the corpus re-written with `cell` as a
    * PARTITION column — so queries reuse the model and prune to their
    * probed cells AT THE SCAN (partition pruning / DPP) instead of
    * retraining and re-assigning per invocation. A plain writer into
    * `dir`: [[indexFor]] runs it once per corpus content, everything
    * per-query lives in [[topKIndexed]]. The 100 TB shape: the rewrite
    * is one narrow pass over (id, vec), and each of the k cell directories is written by
    * the tasks that hold its rows. */
  def buildIndex(emb: DataFrame, idCol: String, vecCol: String, dir: String,
                 k: Int = 16, iters: Int = 3, sampleTarget: Int = 4096): Unit =
    buildIndexWith(emb, idCol, vecCol, dir, k, iters, sampleTarget) { (prep, _, _) =>
      prep.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/corpus")
    }

  /** [[buildIndex]] with the corpus partitions stored INT8-QUANTIZED
    * ([[Quantize.int8]]): `qv8` array<tinyint> + per-vector `scale` +
    * the precomputed quantized squared norm `qnn2` — ~⅛ the vector
    * bytes of the float index (8-byte doubles → 1-byte ints; the
    * VERDICT's ≈¼ is the conservative bound with parquet framing).
    * Cells are assigned on the FLOAT vector before quantization, so
    * the coarse quantizer is identical to the float index's. */
  def buildQuantizedIndex(emb: DataFrame, idCol: String, vecCol: String, dir: String,
                          k: Int = 16, iters: Int = 3, sampleTarget: Int = 4096): Unit =
    buildIndexWith(emb, idCol, vecCol, dir, k, iters, sampleTarget) { (prep, _, _) =>
      Quantize.int8(prep, "nvec")
        .withColumn("qv8", transform(col("qvec"), x => x.cast("tinyint")))
        .withColumn("qnn2", Similarity.dotUdf(col("qvec"), col("qvec")))
        .select(col("nid"), col("scale"), col("qv8"), col("qnn2"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/corpus")
    }

  /** [[buildIndex]] with the corpus partitions stored PRODUCT-QUANTIZED:
    * per row only the m-byte code word (BINARY), the precomputed
    * reconstruction norm, and the cell — at m=8 over 64-dim vectors
    * that is ~32× under the float index and ~4× under int8, the layout
    * where a 10⁹-vector index fits in cluster page cache. The PQ
    * codebooks (m·ks·dsub doubles — bounded model metadata) persist
    * beside the coarse centroids; cells are assigned on the FLOAT
    * vector, so the coarse quantizer is identical to the float
    * index's. Encoding is the legitimate-UDF case: per-row codebook
    * search has no builtin, and it runs once per vector at BUILD time,
    * never on the per-pair serving path. */
  def buildPqIndex(emb: DataFrame, idCol: String, vecCol: String, dir: String,
                   k: Int = 16, iters: Int = 3, m: Int = 8, ks: Int = 16,
                   sampleTarget: Int = 4096): Unit =
    buildIndexWith(emb, idCol, vecCol, dir, k, iters, sampleTarget) { (prep, _, sample) =>
      // the coarse draw is reused: with sampleTarget ≥ max(k, ks) —
      // always, in practice — hashSample's modulus is identical for
      // both, so this is the exact sample trainPq would have re-drawn
      val pq = trainPqOn(sample, m, ks, iters)
      val spark = emb.sparkSession
      import spark.implicits._
      pq.books.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
      }.toSeq.toDF("subspace", "code", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/pqbooks")
      val enc = udf((v: Seq[Double]) => pq.encode(v))
      prep
        .withColumn("codes", enc(col("nvec")))
        .withColumn("rnorm", udf((c: Array[Byte]) => pq.reconNorm(c)).apply(col("codes")))
        .select(col("nid"), col("codes"), col("rnorm"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/corpus")
    }

  /** Shared train-once body: deterministic training, centroid table
    * write; `writeCorpus` receives the cell-assigned prepared corpus
    * (nid, nvec, nn2, cell) and owns the partitioned layout. */
  private def buildIndexWith(emb: DataFrame, idCol: String, vecCol: String,
                             dir: String, k: Int, iters: Int, sampleTarget: Int)(
      writeCorpus: (DataFrame, Model, Array[Array[Double]]) => Unit): Unit = {
    val spark = emb.sparkSession
    // ONE sample draw (count + filtered collect) serves the coarse
    // quantizer here AND the callback's subspace training (PQ) — a
    // second draw with the same parameters would be a byte-identical
    // redundant corpus pass
    val sample = hashSample(emb, idCol, vecCol, sampleTarget, k)
    require(sample.nonEmpty, "ivf training sample is empty")
    val model = lloyd(sample, k, iters)
    import spark.implicits._
    model.centroids.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    writeCorpus(
      Similarity.prepared(emb, idCol, vecCol, "nid", "nvec", "nn2")
        .withColumn("cell", assignUdf(model, 1)(col("nvec")).getItem(0))
        // cluster the write by cell: one build-time shuffle buys
        // file-per-cell locality (instead of every task spraying a
        // small file into every cell dir — tasks × cells tiny files
        // whose parquet framing dwarfs the vector bytes); width sized
        // from the source bytes (Compaction's TargetFileBytes policy)
        .repartition(Compaction.writerWidth(emb), col("cell")),
      model, sample)
  }

  /** The corpus of one listing — base build + every COMMITTED staged
    * batch, `snap.paths("corpus")` — as one union, for FOLDS
    * (compaction), where pruning is irrelevant because every row is
    * rewritten anyway. All serving and compaction reads of a float
    * index read the paths of a snapshot, so an uncommitted (in-flight
    * or crashed) batch is invisible everywhere by construction.
    * Partition discovery cannot host roots of different depths in one
    * FileIndex, so each root reads separately; serving joins each
    * root against the query side INSTEAD of using this union, keeping
    * DPP on the base scan (see [[topKIndexed]]). */
  private[ext] def readCorpus(spark: SparkSession,
                              snap: StagedBatches.Snapshot): DataFrame =
    snap.paths("corpus").map(spark.read.parquet(_)).reduce(_.unionByName(_))

  /** [[readCorpus]] over the index's current committed batches. */
  def readCorpus(spark: SparkSession, dir: String): DataFrame =
    readCorpus(spark, StagedBatches.snapshot(spark, dir))

  /** Appends new vectors to an existing FLOAT index WITHOUT
    * retraining: cells come from the frozen centroid model (the
    * standard IVF maintenance contract — centroids drift only at the
    * next full rebuild) and rows take the same (nid, nvec, nn2, cell)
    * shape [[buildIndex]] writes — but STAGED as batch `key` under
    * `batches/b_<key>/corpus` ([[StagedBatches.stage]]: one exclusive
    * `_COMMITTED` create, a no-op for a key already applied), NOT
    * appended in place: Spark's job commit makes a plain
    * `mode("append")`'s files visible one rename at a time, so a
    * concurrent reader that resolved the index mid-commit could list a
    * TORN batch. With staging, serving ([[topKIndexed]], over one
    * snapshot) folds only the batches committed at its own
    * listing time — a batch landing mid-read is a LATER state, never
    * a torn one, which is exactly the append-only relaxation
    * [[GenerationStore]] sanctions. One narrow map + one
    * cell-clustered write per batch — no shuffle of existing index
    * data, no driver collect beyond the cached k-row model. A crashed
    * ingest leaves an uncommitted dir serving ignores and compaction
    * never folds. Returns whether the batch was staged. */
  def ingestIntoIndex(spark: SparkSession, indexDir: String, batch: DataFrame,
                      idCol: String, vecCol: String,
                      key: String = StagedBatches.freshKey()): Boolean =
    StagedBatches.stage(spark, indexDir, key) { batchDir =>
      val model = loadModel(spark, indexDir)
      Similarity.prepared(batch, idCol, vecCol, "nid", "nvec", "nn2")
        .withColumn("cell", assignUdf(model, 1)(col("nvec")).getItem(0))
        .repartition(Compaction.writerWidth(batch), col("cell"))
        .write.partitionBy("cell").parquet(s"$batchDir/corpus")
    }

  /** Centroids load once per JVM per index (k rows — bounded model
    * metadata, not corpus data) and are reused by every query. */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, Model]()

  def loadModel(spark: SparkSession, dir: String): Model =
    modelCache.computeIfAbsent(dir, _ => {
      val rows = spark.read.parquet(s"$dir/centroids").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
      Model(rows.map(_._2))
    })

  /** PQ codebooks load once per JVM per index (m·ks rows of dsub
    * doubles — bounded model metadata, like [[loadModel]]). */
  private val pqModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, PqModel]()

  def loadPqModel(spark: SparkSession, dir: String): PqModel =
    pqModelCache.computeIfAbsent(dir, _ => {
      val rows = spark.read.parquet(s"$dir/pqbooks").collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      val m = rows.map(_._1._1).max + 1
      val ks = rows.map(_._1._2).max + 1
      val byKey = rows.toMap
      PqModel(Array.tabulate(m, ks)((j, c) => byKey((j, c))))
    })

  /** Shared top-k tail: rank `scored` (qid, nid, score) per query,
    * keep the k best, round the reported score. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("nid").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), round(col("score"), 4).as("score"))
  }

  /** ANN top-k over a persisted index: NO training, counting, or corpus
    * collect in the query body. Queries hash to their nProbe cells via
    * the broadcast centroid model; the corpus side is a scan of the
    * cell-partitioned parquet joined on the partition column, so
    * Catalyst's dynamic partition pruning restricts the scan to the
    * probed cells (visible as `PartitionFilters: [dynamicpruning#…]`
    * in the formatted plan). */
  def topKIndexed(spark: SparkSession, indexDir: String, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int = 5,
                  nProbe: Int = 4): DataFrame = {
    val model = loadModel(spark, indexDir)
    val q = Similarity.prepared(queries, idCol, vecCol, "qid", "qvec", "qn2")
      .withColumn("cell", explode(assignUdf(model, nProbe)(col("qvec"))))
    // base + committed staged batches: each root joins the broadcast
    // query side SEPARATELY (one FileIndex per root) — a single
    // multi-root relation is impossible (partition discovery rejects
    // roots of different depths) and a Union under one join would
    // break the pruning rule's scan match. Per-root joins give EVERY
    // root its own DPP partition pruning (verified in the formatted
    // plan: both the corpus-sized base scan and each staged-batch
    // scan carry `dynamicpruningexpression(cell IN ...)` partition
    // filters); join count is bounded by the staged batches since the
    // last compaction — the bounded-delta fold the BM25 df/stats
    // serving pays.
    val scored = StagedBatches.snapshot(spark, indexDir).paths("corpus")
      .map { p =>
        spark.read.parquet(p).join(broadcast(q), "cell")
          .filter(col("qid") =!= col("nid"))
          .withColumn("score",
            Similarity.dotUdf(col("qvec"), col("nvec")) /
              sqrt(col("qn2") * col("nn2")))
      }
      .reduce(_.unionByName(_))
    rankTopK(scored, k)
  }

  /** ANN top-k over the QUANTIZED inverted file — the production
    * serving shape at corpus scale: candidate generation and first-pass
    * scoring read only the int8 index (≈⅛ the bytes → ≈⅛ the scan IO
    * of the float index), and full-precision vectors are fetched from
    * the lake ONLY for the ≤ k·`rerank` survivors per query (an
    * id-keyed join, the verifyJaccard pattern). The approximate score
    * is cosine against the integer vector directly — symmetric
    * per-vector quantization cancels out of cosine, so the stored
    * scale never enters the score (error O(1/254) per element, far
    * under any real ranking margin). DPP prunes the index scan to the
    * probed cells exactly as in [[topKIndexed]]. */
  def topKQuantized(spark: SparkSession, indexDir: String, lake: DataFrame,
                    queries: DataFrame, idCol: String, vecCol: String,
                    k: Int = 5, nProbe: Int = 4, rerank: Int = 4): DataFrame = {
    val model = loadModel(spark, indexDir)
    val corpus = spark.read.parquet(s"$indexDir/corpus")
    // ONE query-side prepare feeds both passes — the probe frame adds
    // the exploded cell, the re-rank frame just renames, so the
    // normalization/norm work is defined (and maintained) once
    val qp = Similarity.prepared(queries, idCol, vecCol, "qid", "qvec", "qn2")
    val q = qp.withColumn("cell", explode(assignUdf(model, nProbe)(col("qvec"))))
    // int8 first pass: DotProduct casts the tinyint array to double in
    // codegen — no interpreted transform on the per-pair path
    val approx = corpus.join(broadcast(q), "cell")
      .filter(col("qid") =!= col("nid"))
      .withColumn("ascore",
        Similarity.dotUdf(col("qvec"), col("qv8")) / sqrt(col("qn2") * col("qnn2")))
    rerankFloat(approxSurvivors(approx, k, rerank), lake, qp, idCol, vecCol, k)
  }

  /** Approximate-pass survivor funnel shared by the compressed serving
    * paths: rank `approx` (qid, nid, ascore) per query and keep the
    * k·`rerank` best (qid, nid) for the float re-rank. */
  private def approxSurvivors(approx: DataFrame, k: Int, rerank: Int): DataFrame = {
    val aw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("ascore").desc, col("nid").asc)
    approx
      .withColumn("arank", row_number().over(aw))
      .filter(col("arank") <= k * rerank)
      .select(col("qid"), col("nid"))
  }

  /** Float re-rank shared by the compressed serving paths (int8, PQ):
    * only the approximate pass's survivors (qid, nid) fetch
    * full-precision vectors from the lake — an id-keyed join — score
    * exactly, and keep the final top-k; reported scores are exact
    * cosines, never approximations. `qp` is the shared query-side
    * prepare (qid, qvec, qn2). */
  private def rerankFloat(survivors: DataFrame, lake: DataFrame, qp: DataFrame,
                          idCol: String, vecCol: String, k: Int): DataFrame = {
    val lakeP = Similarity.prepared(lake, idCol, vecCol, "lid", "nvec", "nn2")
    val qf = qp.select(col("qid").as("fqid"), col("qvec").as("fqvec"),
      col("qn2").as("fqn2"))
    val exact = survivors
      .join(lakeP, col("nid") === col("lid"))
      .join(broadcast(qf), col("qid") === col("fqid"))
      .withColumn("score",
        Similarity.dotUdf(col("fqvec"), col("nvec")) / sqrt(col("fqn2") * col("nn2")))
    rankTopK(exact, k)
  }

  /** ANN top-k over the PRODUCT-QUANTIZED inverted file — the deepest
    * compression tier: candidate generation reads only
    * (nid, codes, rnorm, cell), first-pass scoring is pure ADC — the
    * query's flattened lookup table rides the broadcast probe row and
    * every candidate costs m table reads through the codegen'd
    * [[graft.functions.PqAdc]] (no dim-length arithmetic, no UDF on
    * the per-pair path) — and the norm-corrected score ranks by cosine
    * against the reconstruction. Survivors re-rank in float from the
    * lake ([[rerankFloat]]), so reported scores are exact. DPP prunes
    * the index scan to the probed cells as in [[topKIndexed]]. */
  def topKPq(spark: SparkSession, indexDir: String, lake: DataFrame,
             queries: DataFrame, idCol: String, vecCol: String,
             k: Int = 5, nProbe: Int = 4, rerank: Int = 4): DataFrame = {
    val model = loadModel(spark, indexDir)
    val pq = loadPqModel(spark, indexDir)
    val corpus = spark.read.parquet(s"$indexDir/corpus")
    val lutUdf = udf((v: Seq[Double]) => pq.lut(v))
    val qp = Similarity.prepared(queries, idCol, vecCol, "qid", "qvec", "qn2")
    val q = qp
      .withColumn("lut", lutUdf(col("qvec"))) // once per query, pre-explode
      .withColumn("cell", explode(assignUdf(model, nProbe)(col("qvec"))))
    val approx = corpus.join(broadcast(q), "cell")
      .filter(col("qid") =!= col("nid"))
      .withColumn("ascore",
        when(col("rnorm") > 0,
          graft.functions.PqAdc.adcCol(col("lut"), col("codes"), pq.ks) / col("rnorm"))
          .otherwise(lit(0.0)))
    rerankFloat(approxSurvivors(approx, k, rerank), lake, qp, idCol, vecCol, k)
  }

  /** ANN top-k through the inverted file: corpus assigned to its
    * nearest cell, queries probe their nProbe nearest cells. Scoring
    * uses precomputed squared norms + a primitive-loop dot product
    * (same summation order as the declarative form), so candidate
    * scoring costs one multiply-add pass per surviving pair. */
  def topK(emb: DataFrame, idCol: String, vecCol: String, queries: DataFrame,
           model: Model, k: Int = 5, nProbe: Int = 4): DataFrame = {
    val corpus = Similarity.prepared(emb, idCol, vecCol, "nid", "nvec", "nn2")
      .withColumn("cell", assignUdf(model, 1)(col("nvec")).getItem(0))
    val q = Similarity.prepared(queries, idCol, vecCol, "qid", "qvec", "qn2")
      .withColumn("cell", explode(assignUdf(model, nProbe)(col("qvec"))))
    val scored = corpus.join(broadcast(q), "cell")
      .filter(col("qid") =!= col("nid"))
      .withColumn("score",
        Similarity.dotUdf(col("qvec"), col("nvec")) / sqrt(col("qn2") * col("nn2")))
    rankTopK(scored, k)
  }
}
