package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Multimodal, Similarity, TextStats}
import graft.queries.ExtHelpers._

/** Similarity-search family: brute/LSH/IVF/PQ/projected/quantized
  * k-NN over the embeddings table.
  *
  * Split out of ExtQueries (round 12) with zero behavior change; keys
  * and oracle text are unchanged. Shared planted fixtures and oracle
  * generators live in [[ExtHelpers]].
  */
object AnnQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- similarity search ------------------------------------------
    "q_knn_brute" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, k = 5)
        .orderBy(col("qid"), col("rank"))
    }),
    // ANN queries declare their RECALL CONTRACT vs the in-plan exact
    // top-k: per-query `recall_ok` booleans the DuckDB oracle asserts.
    // Hyperplanes are deterministic, so the booleans are reproducible
    // on a fixed corpus; planes=4 × tables=32 measures ≥4/5 true
    // neighbors recovered per query at sf0.001/0.01/0.1.
    "q_knn_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val ann = Similarity.lshTopK(emb, "vec_id", "embedding", queries,
        k = 5, planes = 4, tables = 32)
      val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, k = 5)
      Similarity.recallAtK(ann, brute, k = 5, minRecall = 0.8)
        .orderBy(col("qid"))
    }),

    // top-k over the QUANTIZED store: both sides int8 (the 100 TB
    // serving shape — ×4 less IO; cosine is scale-invariant so the
    // integer vectors score directly), recall contract vs the exact
    // float top-k. Quantization distorts cosine by O(1/254)/element,
    // far below this corpus's neighbor gaps → deterministic booleans.
    "q_knn_quantized" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val quant = graft.ext.Quantize.int8(emb, "embedding")
        .select(col("vec_id"), col("qvec"))
      val queries = quant.filter(col("vec_id") < 10)
      val annQ = Similarity.bruteForceTopK(quant, "vec_id", "qvec", queries, k = 5)
      val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10), k = 5)
      Similarity.recallAtK(annQ, brute, k = 5, minRecall = 0.8)
        .orderBy(col("qid"))
    }),

    // IVF probes its persisted index (train-once: indexFor serves the
    // corpus content's existing generation; topKIndexed has no
    // count/collect — the scan prunes to probed cells via DPP). The
    // uniform-random corpus is IVF's adversarial case (true neighbors
    // scatter across cells: one query's 5-NN set plateaus at 3/5 even
    // probing 12 of 16 cells), so the honest contract here is
    // recall ≥ 0.6 at nProbe=8 — measured stable at sf0.001/0.01/0.1.
    "q_knn_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val idxDir = graft.ext.Ivf.indexFor(emb, d, k = 16, iters = 2)
      val ann = graft.ext.Ivf.topKIndexed(s, idxDir, queries,
        "vec_id", "embedding", k = 5, nProbe = 8)
      val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, k = 5)
      Similarity.recallAtK(ann, brute, k = 5, minRecall = 0.6)
        .orderBy(col("qid"))
    }),

    // IVF at its SERVING shape: real ANN queries are near the corpus
    // manifold (a perturbed document, a paraphrase embedding), not
    // fresh isotropic noise. Each query is a corpus vector under a
    // deterministic ±8% per-component hash jitter (cos(q, source)
    // ≈ 0.999 vs a corpus-wide max inter-vector cosine of ~0.51), and
    // the contract is exact: the top-1 through the inverted file IS
    // the planted source, per query, probing nProbe=4 of 16 cells —
    // 25% of the index. (Raising the UNIFORM-query recall@5 contract
    // to 0.9 at ≤25% probing is not achievable on this corpus: the
    // embeddings are isotropic — mean pairwise cosine 0.00, p99 0.29 —
    // so "true" 5-NN sets are noise-level and any IVF's recall tracks
    // its scan fraction; the 0.6-at-50% contract above is the honest
    // adversarial bound, this query is the honest serving bound.)
    "q_knn_ivf_planted" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = plantedIvfQueries(emb)
      val idxDir = graft.ext.Ivf.indexFor(emb, d, k = 16, iters = 2)
      graft.ext.Ivf.topKIndexed(s, idxDir, queries,
          "vec_id", "embedding", k = 1, nProbe = 4)
        .filter(col("rank") === 1)
        .select(col("qid"), (col("nid") === col("qid") - 1000000L).as("top1_ok"))
        .orderBy(col("qid"))
    }),

    // the QUANTIZED serving path — q_knn_ivf_planted's contract through
    // the int8 index: first-pass scoring reads only array<tinyint>
    // vectors (≈⅛ the index bytes/IO), survivors re-rank in float
    // against the lake by id. Same planted top-1-exact gate at the
    // same 25% probe fraction — the quantization error (O(1/254) per
    // element) must vanish under the ~0.49 cosine margin between each
    // query's source and the rest of the corpus.
    "q_knn_ivf_quantized" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = plantedIvfQueries(emb)
      val idxDir = graft.ext.Ivf.quantizedIndexFor(emb, d, k = 16, iters = 2)
      graft.ext.Ivf.topKQuantized(s, idxDir, emb, queries,
          "vec_id", "embedding", k = 1, nProbe = 4, rerank = 4)
        .filter(col("rank") === 1)
        .select(col("qid"), (col("nid") === col("qid") - 1000000L).as("top1_ok"))
        .orderBy(col("qid"))
    }),

    // the PRODUCT-QUANTIZED serving path — the deepest compression
    // tier of the same planted contract: the index stores only an
    // m=8-byte code word + reconstruction norm per vector (~32× under
    // the float index, ~4× under int8 — the layout where a 10⁹-vector
    // index fits cluster page cache), candidates score via codegen'd
    // ADC table lookups (PqAdc — m reads, no dim-length arithmetic),
    // and the k·rerank survivor pool re-ranks in float against the
    // lake. PQ reconstruction error is LARGE on an isotropic corpus
    // (16 centroids per 8-dim subspace), which is exactly why the
    // serving shape pairs it with a float re-rank: the planted source
    // only has to survive into the top-4 of the probed cells, and the
    // re-rank restores exactness.
    "q_knn_ivf_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = plantedIvfQueries(emb)
      val idxDir = graft.ext.Ivf.pqIndexFor(emb, d, k = 16, iters = 2)
      graft.ext.Ivf.topKPq(s, idxDir, emb, queries,
          "vec_id", "embedding", k = 1, nProbe = 4, rerank = 4)
        .filter(col("rank") === 1)
        .select(col("qid"), (col("nid") === col("qid") - 1000000L).as("top1_ok"))
        .orderBy(col("qid"))
    }),

    // JL random projection 64 → 16 dims: md5-derived ±1 signs (the
    // oracle rebuilds the same matrix in SQL), fixed-point inputs so
    // the projection sums are exact integers — map-only, no shuffle
    "q_embed_project" -> ((s, d) => {
      graft.ext.Quantize.jlProject(Tables.embeddings(s, d),
          "vec_id", "embedding", dIn = 64, dOut = 16)
        .orderBy(col("vec_id"), col("k"))
    }),

    // ANN served from the PROJECTED store: top-1 search runs on the
    // 16-dim integer projections (×4 dot-product shrink). The raw
    // corpus's neighbors are noise-level (near-random unit vectors),
    // so the contract is on the planted near-dup corpus: ≥ 99% of
    // queries must rank their planted duplicate (cos ≈ 0.93 in 64d)
    // top-1 after projection — measured 100% at sf0.01, 99.9% at
    // sf0.1 (integer-compare aggregate, no float threshold)
    "q_knn_projected" -> ((s, d) => {
      val corpus = plantedNearDupCorpus(Tables.embeddings(s, d))
      val proj = graft.ext.Quantize.jlProjectVec(corpus,
        "vec_id", "embedding", dIn = 64, dOut = 16)
      val queries = proj.filter(col("vec_id") < 1000000L)
      val top1 = Similarity.bruteForceTopK(proj, "vec_id", "pvec", queries, k = 1)
      top1.agg(
          count(lit(1)).as("n_queries"),
          sum(when(col("nid") === col("qid") + 1000000L, 1L).otherwise(0L))
            .as("hits"))
        .select(col("n_queries"),
          (col("hits") * 100L >= col("n_queries") * 99L).as("jl_top1_ok"))
    }),

    // ---- int8 embedding quantization (×4 store shrink) --------------
    // integer-exact gate: positional checksum + L1 norm of the
    // quantized vector (half-up floor — identical bits cross-engine),
    // plus the reconstruction-cosine contract the quantizer must meet
    "q_embed_quantize" -> ((s, d) => {
      val q = graft.ext.Quantize.int8(Tables.embeddings(s, d), "embedding")
      val weighted = transform(col("qvec"),
        (qi, i) => qi.cast("long") * (i.cast("long") + 1L))
      val l1terms = transform(col("qvec"), qi => abs(qi).cast("long"))
      def asum(arr: org.apache.spark.sql.Column) =
        aggregate(arr, lit(0L), (acc, x) => acc + x)
      q.select(col("vec_id"),
          asum(weighted).as("checksum"),
          asum(l1terms).as("l1"),
          (graft.ext.Quantize.reconCosine("embedding", "qvec") >= 0.99)
            .as("recon_ok"))
        .orderBy(col("vec_id"))
    }),

    // ---- topic clustering (distributed Lloyd k-means) ---------------
    // Fixed-point integer k-means (see ext.KMeans scaladoc): the
    // E-step is map-only against broadcast centroid literals, the
    // M-step shuffle is k·d rows per partition after map-side combine,
    // and the oracle replays the identical rounds as unrolled CTEs —
    // assignments are bit-exact cross-engine, no recall contract
    // needed (unlike the ANN family above).
    "q_kmeans_topics" -> ((s, d) =>
      graft.ext.KMeans.fit(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 8, iters = 4)
        .orderBy(col("vec_id"))),
    // cluster-balanced subset: the topic-diversity sampling step —
    // k-means assignment composed with the deterministic k-per-stratum
    // draw (md5 selector; no RNG, no full-stratum sort at scale via
    // topKPerStratum's prefilter lever)
    "q_kmeans_balanced_sample" -> ((s, d) => {
      val asg = graft.ext.KMeans.fit(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 8, iters = 4)
      graft.ext.Sampling.topKPerStratum(asg, "vec_id", "cluster", k = 25)
        .orderBy(col("cluster"), col("rank"))
    }),
    // model-quality diagnostic: per-cluster member count and EXACT
    // within-cluster sum of squared quantized distances (the elbow
    // metric) — DECIMAL(38,0) sums because a corpus-sized long sum of
    // ~2^50 per-point distances would silently wrap
    "q_kmeans_inertia" -> ((s, d) =>
      graft.ext.KMeans.inertia(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 8, iters = 4)),
  )

  def oracleSql: Map[String, String] = Map(
    "q_kmeans_topics" ->
      (graft.ext.KMeans.unrolledSql(k = 8, iters = 4, dim = 64, table = "embeddings") +
        "SELECT vec_id, cluster FROM a5 ORDER BY vec_id"),
    "q_kmeans_inertia" ->
      (graft.ext.KMeans.unrolledSql(k = 8, iters = 4, dim = 64, table = "embeddings") +
        """SELECT cluster, count(*) AS n_members,
          |  CAST(sum(dist) AS BIGINT) AS inertia
          |FROM a5 GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_kmeans_balanced_sample" ->
      (graft.ext.KMeans.unrolledSql(k = 8, iters = 4, dim = 64, table = "embeddings") +
        """SELECT vec_id, cluster, rank FROM (
          |  SELECT vec_id, cluster,
          |    row_number() OVER (PARTITION BY cluster
          |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rank
          |  FROM a5)
          |WHERE rank <= 25 ORDER BY cluster, rank""".stripMargin),
    "q_knn_brute" ->
      """SELECT qid, cast(rank AS INT) AS rank, nid, round(score, 4) AS score FROM (
        |  SELECT q.vec_id AS qid, n.vec_id AS nid,
        |    list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) AS score,
        |    row_number() OVER (PARTITION BY q.vec_id
        |                       ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
        |                                n.vec_id ASC) AS rank
        |  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // The ANN recall contracts: the engine computes per-query recall vs
    // the in-plan exact top-k; the oracle states the contract the ANN
    // must meet — every query recalls ≥ ⌈k·minRecall⌉ true neighbors.
    // A recall regression flips a boolean → hash mismatch → FAIL.
    "q_knn_lsh" ->
      """SELECT vec_id AS qid, true AS recall_ok FROM embeddings
        |WHERE vec_id < 10 ORDER BY qid""".stripMargin,
    "q_knn_quantized" ->
      """SELECT vec_id AS qid, true AS recall_ok FROM embeddings
        |WHERE vec_id < 10 ORDER BY qid""".stripMargin,
    "q_knn_ivf" ->
      """SELECT vec_id AS qid, true AS recall_ok FROM embeddings
        |WHERE vec_id < 10 ORDER BY qid""".stripMargin,
    // serving-shape contract: the planted source IS the top-1, exactly
    "q_knn_ivf_planted" ->
      """SELECT vec_id + 1000000 AS qid, true AS top1_ok FROM embeddings
        |WHERE vec_id < 50 ORDER BY qid""".stripMargin,
    // same serving contract through the int8 index + float re-rank
    "q_knn_ivf_quantized" ->
      """SELECT vec_id + 1000000 AS qid, true AS top1_ok FROM embeddings
        |WHERE vec_id < 50 ORDER BY qid""".stripMargin,
    // same serving contract through the PQ (ADC) index + float re-rank
    "q_knn_ivf_pq" ->
      """SELECT vec_id + 1000000 AS qid, true AS top1_ok FROM embeddings
        |WHERE vec_id < 50 ORDER BY qid""".stripMargin,
    // identical sign matrix from the same md5 parity; integer sums
    // can't drift
    "q_embed_project" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding::DOUBLE[],
        |                   x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |s AS (SELECT k, i,
        |        CASE WHEN substr(md5(CAST(i AS VARCHAR) || '_' || CAST(k AS VARCHAR)), 1, 1)
        |               BETWEEN '0' AND '7' THEN 1 ELSE -1 END AS sgn
        |      FROM range(16) t1(k), range(64) t2(i))
        |SELECT e.vec_id, CAST(s.k AS INT) AS k,
        |  CAST(sum(s.sgn * e.q[s.i + 1]) AS BIGINT) AS p
        |FROM e, s GROUP BY 1, 2 ORDER BY vec_id, k""".stripMargin,
    // aggregate planted-dup contract (the per-query booleans would be
    // engine-specific at the 0.1% tail — see the query scaladoc)
    "q_knn_projected" ->
      """SELECT count(*) AS n_queries, true AS jl_top1_ok
        |FROM embeddings""".stripMargin,
    // same symmetric scheme (scale = 127/max|v|, half-up floor) in
    // DuckDB list algebra; checksum/l1 are integer-exact, recon cosine
    // is far from its 0.99 bound (int8 error is O(1/254) per element)
    "q_embed_quantize" ->
      """WITH q AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    CASE WHEN list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) > 0
        |         THEN 127.0 / list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
        |         ELSE 0.0 END AS scale
        |  FROM embeddings),
        |qq AS (SELECT vec_id, v,
        |         list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qvec
        |       FROM q)
        |SELECT vec_id,
        |  CAST(list_sum(list_transform(qvec, (x, i) -> x * i)) AS BIGINT) AS checksum,
        |  CAST(list_sum(list_transform(qvec, x -> abs(x))) AS BIGINT) AS l1,
        |  list_cosine_similarity(v, qvec::DOUBLE[]) >= 0.99 AS recon_ok
        |FROM qq ORDER BY vec_id""".stripMargin,
  )
}
