package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 retrieval / corpus-index operators: the search-engine-shaped
  * side of a training-data platform — BM25 scoring, the inverted index
  * itself, and PMI collocation mining. Each has a hash-exact DuckDB
  * oracle under the repo's cross-engine determinism discipline
  * (per-term contributions rounded to 6 decimals and summed as exact
  * decimals; terminal values through the floor(x·10^k + 0.5)/10^k
  * contract; top-k always orderBy+limit = TakeOrdered, never a global
  * window).
  */
object RetrievalQueries {

  /** The literal q_trigram_prefilter searches for — a real corpus
    * bigram, so matches exist at every SF; shared with the oracle. */
  val TrigramPattern = "key order"

  /** Non-empty whitespace tokens, one row per (doc_id, tok) — the
    * shared [[graft.ext.TextStats.tokenRows]] derivation. */
  private def tokenRows(docs: DataFrame): DataFrame =
    graft.ext.TextStats.tokenRows(docs, "doc_id", "text")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Okapi BM25 more-like-this retrieval (k1=1.2, b=0.75, the Lucene
    // idf form ln(1 + (N-df+0.5)/(df+0.5))) over the BUILD-ONCE
    // on-disk inverted index (graft.ext.Bm25 — the IVF train-once /
    // probe-many pattern for lexical search): the first 10 documents
    // act as queries (their full token set, read from the index's tf
    // relation with doc_id<10 pushed to the pruned scan), every other
    // document is scored, top-10 per query. A probe touches only the
    // token-range-pruned tf files, the query terms' df rows, and the
    // 1-row stats — never the corpus text.
    "q_bm25_topk" -> ((s, d) => {
      val dir = graft.ext.Bm25.indexDirFor(d)
      graft.ext.Bm25.ensureIndex(Tables.documents(s, d), "doc_id", "text", dir)
      val qterms = s.read.schema(graft.ext.Bm25.TfSchema).parquet(s"$dir/tf")
        .filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), col("tok")).distinct()
      graft.ext.Bm25.topK(s, dir, qterms, 10)
    }),

    // COLD-BUILD rung for the ArtifactDir-backed stores (VERDICT r19
    // #4/#5): the content-signature-keyed stores are ensure-once, so
    // the ordinary serve queries never time the BUILD path — a
    // writer-sizing regression (guide §6) would be invisible to the
    // bench record and unguarded against drift. This rung deletes the
    // five artifact roots and rebuilds them INSIDE the timed region —
    // BM25 inverted index, trigram posting index, IVF ANN index,
    // doc-level Dolma attributes, span-level attributes — exactly as
    // their serve queries build them (same inputs, same keyed dirs, so
    // the rebuilt stores are bit-identical and every later serve query
    // ensure-probes them untouched). The returned relation is the
    // q_bm25_topk probe against the rebuilt index: the rung both TIMES
    // the builds and hash-checks one rebuilt store against the oracle.
    "q_store_build_cold" -> ((s, d) => {
      def wipe(dir: String): Unit = {
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        ()
      }
      val docs = Tables.documents(s, d)
      val bmDir = graft.ext.Bm25.indexDirFor(d)
      wipe(bmDir)
      graft.ext.Bm25.ensureIndex(docs, "doc_id", "text", bmDir)
      val trDir = graft.ext.TrigramIndex.indexDirFor(d)
      wipe(trDir)
      graft.ext.TrigramIndex.ensureIndex(docs, "doc_id", "text", trDir)
      val ivDir = graft.ext.Ivf.indexDirFor(d, k = 16, iters = 2)
      wipe(ivDir)
      graft.ext.Ivf.buildIndex(Tables.embeddings(s, d), "vec_id", "embedding",
        ivDir, k = 16, iters = 2)
      val atDir = graft.ext.Attributes.attrDirFor(d)
      wipe(atDir)
      graft.ext.Attributes.ensureAttributes(
        docs.select(col("doc_id"), col("text")), atDir)
      val all = docs.select(col("doc_id"), col("source"),
        CurationQueries.spanPlantedCol.as("text"))
      val spDir = graft.ext.Attributes.spanDirFor(d)
      wipe(spDir)
      graft.ext.Attributes.ensureSpanAttributes(
        all.filter(col("source") =!= "src0"),
        all.filter(col("source") === "src0"), spDir, n = 3)
      val qterms = s.read.schema(graft.ext.Bm25.TfSchema).parquet(s"$bmDir/tf")
        .filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), col("tok")).distinct()
      graft.ext.Bm25.topK(s, bmDir, qterms, 10)
    }),

    // The inverted index itself (term → sorted posting list), reported
    // for the 50 highest-df terms: df, first/last posting, the largest
    // doc-id gap (the quantity a delta-varint posting codec sizes by),
    // and the md5 of the full comma-joined list. collect_list is
    // per-TERM (bounded by df), made deterministic by sort_array; the
    // 50-term cut is orderBy+limit = TakeOrdered, no global window.
    "q_inverted_index" -> ((s, d) => {
      val pairs = tokenRows(Tables.documents(s, d))
        .select(col("tok"), col("doc_id")).distinct()
      val idx = pairs.groupBy(col("tok"))
        .agg(count(lit(1)).as("df"),
          sort_array(collect_list(col("doc_id"))).as("ps"))
      idx.select(col("tok"), col("df"),
          element_at(col("ps"), 1).as("first_doc"),
          element_at(col("ps"), -1).as("last_doc"),
          when(col("df") >= 2,
            aggregate(
              transform(sequence(lit(1), size(col("ps")) - 1),
                i => element_at(col("ps"), i + 1) - element_at(col("ps"), i)),
              lit(0L), (acc, x) => greatest(acc, x)))
            .otherwise(lit(0L)).as("max_gap"),
          md5(array_join(transform(col("ps"), _.cast("string")), ","))
            .as("postings_md5"))
        .orderBy(col("df").desc, col("tok")).limit(50)
    }),

    // Trigram-prefiltered substring search (the code-search /
    // Zoekt-style index trick) over the PERSISTED posting index
    // (graft.ext.TrigramIndex — build-once / probe-many, the Bm25
    // pattern): a doc can contain the pattern only if it contains
    // EVERY one of its trigrams, so candidate generation touches only
    // the gram-range-pruned posting files and the exact contains()
    // check joins text back for candidates alone. At 100 TB the
    // df-bounded posting intersection replaces the full-text scan —
    // and a SECOND probe no longer pays the explode+distinct build.
    // The ORACLE replays the same two-phase candidate logic (it pins
    // the prefilter's exact output, not losslessness); the lossless-
    // vs-direct-scan property is proved separately by RetrievalSpec's
    // superset test. Patterns are drawn from real corpus bigrams so
    // matches exist at every SF.
    "q_trigram_prefilter" -> ((s, d) => {
      val dir = graft.ext.TrigramIndex.indexDirFor(d)
      val docs = Tables.documents(s, d)
      graft.ext.TrigramIndex.ensureIndex(docs, "doc_id", "text", dir)
      graft.ext.TrigramIndex.candidates(s, dir, TrigramPattern)
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("doc_id"),
          col("text").contains(TrigramPattern).as("hit"))
        .orderBy(col("doc_id"))
    }),

    // PageRank over the host link graph (the q_html_links /
    // q_url_canon derivations give every document a source host and a
    // referenced host): 10 damped power-method rounds with per-round
    // floor-contract rounding, so the rank vector is bit-identical to
    // the oracle's UNROLLED iteration chain (PageRank.unrolledSql
    // generates the CTEs from the same constants). Third member of
    // the iterative-algorithm family beside connected components and
    // Lloyd cells; shuffles per round bounded by |edges|.
    "q_pagerank_hosts" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select(
          concat(lower(col("source")), lit("-"),
            (col("doc_id") % 5).cast("string"), lit(".example.com")).as("src"),
          concat(lit("ref-"), (col("doc_id") % 7).cast("string"),
            lit(".example.com")).as("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      graft.ext.PageRank.ranks(edges).orderBy(col("node"))
    }),

    // PMI collocation mining: adjacent-bigram pointwise mutual
    // information ln(p(w1,w2) / (p(w1)·p(w2))) with a count-≥5 floor,
    // top 50. Bigrams come straight off the split array (no
    // positional self-join); count aggregations are vocab-/bigram-
    // bounded; unigram counts join onto the FILTERED (≥5) bigram set
    // only; corpus totals ride 1-row broadcasts. PMI is evaluated in
    // double once per surviving bigram and cut through the floor
    // contract; (w1, w2) breaks ranking ties totally.
    "q_pmi_colloc" -> ((s, d) => {
      val t = filter(split(col("text"), " "), x => x =!= "")
      val docs = Tables.documents(s, d).select(col("doc_id"), t.as("t"))
      val uni = docs.select(explode(col("t")).as("w"))
      val c1 = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val n1f = uni.agg(count(lit(1)).as("n1"))
      val bidx = when(size(col("t")) >= 2, sequence(lit(1), size(col("t")) - 1))
        .otherwise(array().cast("array<int>"))
      val bi = docs.select(explode(transform(bidx, i =>
          struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
      val n2f = bi.agg(count(lit(1)).as("n2"))
      val joined = c2
        .join(c1.select(col("w").as("w1"), col("c").as("cw1")), Seq("w1"))
        .join(c1.select(col("w").as("w2"), col("c").as("cw2")), Seq("w2"))
        .crossJoin(broadcast(n1f)).crossJoin(broadcast(n2f))
      val pmi = log((col("c12").cast("double") / col("n2")) /
        ((col("cw1").cast("double") / col("n1")) *
          (col("cw2").cast("double") / col("n1"))))
      joined.select(col("w1"), col("w2"), col("c12"), col("cw1"), col("cw2"),
          (floor(pmi * 1e4 + 0.5) / 1e4).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(50)
    })
  )

  /** The full BM25 replay parameterized over the corpus relation —
    * shared by q_bm25_topk (`documents`) and q_stream_bm25_ingest
    * (documents UNION their +1M-id streamed copies), so the streamed
    * index is held to the exact batch-over-the-union semantics. */
  private[queries] def bm25OracleSql(corpusSql: String): String =
    s"""WITH corpus AS ($corpusSql),
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |              FROM corpus),
       |tt AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tt GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tt GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot_dl
       |          FROM dl),
       |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
       |qterms AS (SELECT DISTINCT doc_id AS qid, tok FROM tf WHERE doc_id < 10),
       |cand AS (
       |  SELECT q.qid, t.doc_id,
       |    CAST(round(
       |      ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) *
       |      (t.tf * 2.2) /
       |      (t.tf + 1.2 * (0.25 + 0.75 * dl / (CAST(tot_dl AS DOUBLE) / n_docs)))
       |    , 6) AS DECIMAL(14,6)) AS c6
       |  FROM tf t JOIN qterms q USING (tok) JOIN dl USING (doc_id)
       |  JOIN dfreq USING (tok) CROSS JOIN stats
       |  WHERE t.doc_id <> q.qid),
       |scored AS (
       |  SELECT qid, doc_id, count(*) AS n_match,
       |    floor(CAST(sum(c6) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS score
       |  FROM cand GROUP BY 1, 2),
       |r AS (SELECT qid, doc_id, n_match, score,
       |        CAST(row_number() OVER (PARTITION BY qid
       |          ORDER BY score DESC, doc_id) AS INT) AS rank
       |      FROM scored)
       |SELECT qid, rank, doc_id, n_match, score
       |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q_bm25_topk" -> bm25OracleSql("SELECT doc_id, text FROM documents"),
    // the cold-build rung serves q_bm25_topk's probe from the rebuilt
    // index — a rebuild from identical content must score identically
    "q_store_build_cold" -> bm25OracleSql("SELECT doc_id, text FROM documents"),

    "q_inverted_index" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |pairs AS (SELECT DISTINCT tok, doc_id FROM toks WHERE tok <> ''),
        |idx AS (SELECT tok, count(*) AS df,
        |          list(doc_id ORDER BY doc_id) AS ps
        |        FROM pairs GROUP BY 1)
        |SELECT tok, df, ps[1] AS first_doc, ps[-1] AS last_doc,
        |  coalesce(list_max(list_transform(range(1, len(ps)),
        |    i -> ps[i + 1] - ps[i])), 0) AS max_gap,
        |  md5(array_to_string(list_transform(ps, x -> CAST(x AS VARCHAR)), ','))
        |    AS postings_md5
        |FROM idx ORDER BY df DESC, tok LIMIT 50""".stripMargin,

    "q_trigram_prefilter" -> {
      val grams = TrigramPattern.sliding(3).toSeq.distinct
      val inList = grams.map(g => s"'${g.replace("'", "''")}'").mkString(", ")
      s"""WITH tri AS (
         |  SELECT DISTINCT doc_id,
         |    substring(text, CAST(i AS INT), 3) AS g
         |  FROM (SELECT doc_id, text,
         |          unnest(range(1, greatest(length(text) - 2, 0) + 1)) AS i
         |        FROM documents)),
         |cand AS (
         |  SELECT doc_id FROM tri WHERE g IN ($inList)
         |  GROUP BY doc_id HAVING count(DISTINCT g) = ${grams.length})
         |SELECT c.doc_id,
         |  contains(d.text, '${TrigramPattern.replace("'", "''")}') AS hit
         |FROM cand c JOIN documents d USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "q_pagerank_hosts" -> graft.ext.PageRank.unrolledSql(
      """edges AS (
        |  SELECT lower(source) || '-' || CAST(doc_id % 5 AS VARCHAR)
        |           || '.example.com' AS src,
        |    'ref-' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS dst,
        |    count(*) AS w
        |  FROM documents GROUP BY 1, 2)""".stripMargin),

    "q_pmi_colloc" ->
      """WITH f AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> x <> '') AS t
        |           FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM f),
        |c1 AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
        |n1t AS (SELECT count(*) AS n1 FROM uni),
        |b AS (SELECT t, unnest(range(1, len(t))) AS i FROM f),
        |bi AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM b),
        |c2 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2
        |       HAVING count(*) >= 5),
        |n2t AS (SELECT count(*) AS n2 FROM bi),
        |j AS (SELECT w1, w2, c12, a.c AS cw1, bb.c AS cw2, n1, n2
        |      FROM c2 JOIN c1 a ON a.w = c2.w1 JOIN c1 bb ON bb.w = c2.w2
        |      CROSS JOIN n1t CROSS JOIN n2t)
        |SELECT w1, w2, c12, cw1, cw2,
        |  floor(ln((CAST(c12 AS DOUBLE) / n2) /
        |    ((CAST(cw1 AS DOUBLE) / n1) * (CAST(cw2 AS DOUBLE) / n1)))
        |    * 1e4 + 0.5) / 1e4 AS pmi
        |FROM j ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin
  )
}
