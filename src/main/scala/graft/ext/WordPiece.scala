package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WordPiece (greedy longest-match-first) subword tokenizer — the
  * third tokenizer family beside [[Bpe]] and [[Unigram]], the BERT-era
  * algorithm (Schuster & Nakajima '12; Devlin et al. '18, public):
  * word-initial pieces are matched verbatim, word-internal pieces are
  * CONTINUATION pieces (the `##`-prefixed forms of the published
  * vocab format), and encoding walks each word left-to-right taking
  * the LONGEST vocabulary piece at every position — no DP, no merges
  * at encode time.
  *
  * Vocabulary selection here is the deterministic frequency variant
  * (the same modeling choice as [[Unigram]]'s hard-EM): the vocabulary
  * is every single code point in BOTH roles (word-initial and
  * continuation — the coverage floor that keeps every training word
  * encodable) plus the top-[[SeedMultis]] multi-code-point forms by
  * occurrence-weighted frequency under the total order (count DESC,
  * surface UTF-8 ASC, initial-before-continuation). Likelihood-scored
  * iterative merging (the original trainer) is not exactly replayable
  * across engines without the same fixed-point discipline as the other
  * families; frequency selection is, and the DuckDB oracle replays the
  * cut exactly.
  *
  * A piece is (surface, cont): the ENCODER matches on the pair, so a
  * surface string appearing in both roles is two distinct pieces with
  * two ids — the decoder then concatenates raw surfaces with no
  * `##`-stripping, making decode∘encode the identity by construction
  * (the published vocab.txt format, where `##` is a display prefix, is
  * emitted by the exporter, not stored in the model).
  *
  * Scale shape (the [[Unigram]] discipline): the corpus collapses to
  * the distinct-word relation once ([[Bpe.wordCounts]]); vocabulary
  * selection is one substring explode + one |vocab|-bounded
  * aggregation; encoding is a map-only greedy walk per DISTINCT word
  * with the |vocab|-bounded piece set broadcast in the closure.
  * [[wordPieceRelation]] freezes the model into the (w, spos, tid)
  * relation [[Bpe.encodeIdsAgainst]] consumes, so packing / streaming
  * / decoding work unchanged on this family too.
  */
object WordPiece {

  /** Max piece length in code points (surface, excluding the display
    * `##`) considered during TRAINING — bounds the substring explode
    * and the oracle's match fan-in. It is NOT an encode-time limit:
    * the greedy window of a frozen model follows the model's own
    * longest piece ([[freeze]]), so an IMPORTED real-world vocab (BERT
    * vocab.txt pieces run well past 4 code points) segments exactly as
    * the published greedy algorithm would. Only the training queries
    * need the oracle's unroll bound. */
  val MaxPieceLen = 4

  /** Words longer than this encode per code point without the greedy
    * walk (bounds the oracle's unrolled chain; corpus words measure
    * ≤ 8 at every SF — 16 leaves regen headroom). */
  val MaxWordLen = 16

  /** Multi-code-point vocabulary slots beyond the single coverage
    * floor. */
  val SeedMultis = 128

  /** One WordPiece piece: `cont` = word-internal (the `##` role). */
  final case class Piece(surface: String, cont: Boolean)

  /** Greedy longest-match-first segmentation of one word against a
    * frozen piece set: at each position take the longest `l ≤`
    * `maxPieceLen` whose (substring, pos>0) piece is in the model —
    * `maxPieceLen` defaults to the training bound but a frozen model
    * passes its OWN longest-piece length ([[freeze]]), so imported
    * vocabularies with long pieces segment faithfully. Returns null
    * when some position has NO match (possible only for words with
    * code points the training corpus never saw — the
    * closed-vocabulary whole-word drop of [[Bpe.encodeIdsAgainst]];
    * a partial encode would corrupt the stream). Words longer than
    * [[MaxWordLen]] segment per code point (still role-marked, still
    * subject to the same drop rule). */
  private[ext] def greedy(w: String, vocab: Set[Piece],
                          maxPieceLen: Int = MaxPieceLen): Array[Piece] = {
    val cps = Bpe.codePoints(w)
    val n = cps.length
    if (n == 0) return Array.empty
    if (n > MaxWordLen) {
      val out = cps.zipWithIndex.map { case (c, i) => Piece(c, i > 0) }
      return if (out.forall(vocab.contains)) out else null
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Piece]
    var i = 0
    while (i < n) {
      var l = math.min(maxPieceLen, n - i)
      var hit: Piece = null
      while (l >= 1 && hit == null) {
        val cand = Piece(cps.slice(i, i + l).mkString, i > 0)
        if (vocab.contains(cand)) hit = cand else l -= 1
      }
      if (hit == null) return null
      out += hit
      i += l
    }
    out.toArray
  }

  /** All (surface, cont) piece occurrences of `w` with surface length
    * 1..[[MaxPieceLen]] — cont marks start position > 1. */
  private def pieceOccurrences(w: Column): Column =
    flatten(transform(sequence(lit(1), length(w)), i =>
      filter(transform(sequence(lit(1), lit(MaxPieceLen)), l =>
          when(i + l - 1 <= length(w),
            struct(w.substr(i, l).as("surface"), (i > 1).as("cont")))),
        s => s.isNotNull)))

  /** Select the vocabulary from the distinct-word relation: every
    * single-code-point piece in every role it occurs in (coverage
    * floor) plus the top-[[SeedMultis]] multi-code-point pieces by
    * (occurrence-weighted count DESC, surface UTF-8 ASC, initial
    * before continuation) — a total order, so the cut is exact on both
    * engines. `vocabSize > 0` caps the TOTAL vocabulary (the BERT
    * vocab_size knob): singles always survive (coverage — a cap below
    * the single count keeps zero multis, never cuts a single), multis
    * keep the top `vocabSize − |singles|` slots of the same order. */
  private def selectVocab(words: DataFrame, vocabSize: Int = 0): Seq[Piece] = {
    val occ = words
      .select(col("wc"), explode(pieceOccurrences(col("w"))).as("pc"))
      .select(col("pc.surface").as("surface"), col("pc.cont").as("cont"),
        col("wc"))
      .groupBy(col("surface"), col("cont")).agg(sum(col("wc")).as("c"))
      .persist()
    try {
      // singles: |alphabet|·2 rows; multis: the top-K cut runs
      // DISTRIBUTED (orderBy+limit = per-partition top-K then merge),
      // only K rows reach the driver — model metadata, never the
      // substring relation
      val singles = occ.filter(length(col("surface")) === 1)
        .collect().map(r => Piece(r.getString(0), r.getBoolean(1))).toSeq
      val nMultis =
        if (vocabSize > 0)
          math.max(0, math.min(SeedMultis, vocabSize - singles.size))
        else SeedMultis
      val multis = occ.filter(length(col("surface")) > 1)
        .orderBy(col("c").desc, col("surface"), col("cont"))
        .limit(nMultis)
        .collect().map(r => Piece(r.getString(0), r.getBoolean(1))).toSeq
      singles ++ multis
    } finally { occ.unpersist(); () }
  }

  /** Deterministic piece ids: 1-based rank under (surface UTF-8 ASC,
    * initial before continuation), 0 reserved for EOS — the id
    * discipline shared with [[Bpe]] / [[Unigram]]. Public: the
    * exporter writes vocab.txt in tid order, and interchange callers
    * compare a re-import against it. */
  def tidOrdered(model: Seq[Piece]): Seq[Piece] =
    model.sortWith { (a, b) =>
      Bpe.utf8Lt(a.surface, b.surface) ||
        (a.surface == b.surface && !a.cont && b.cont)
    }

  /** Train the WordPiece vocabulary on `df` — the model table
    * ([[Piece]] rows) a pipeline persists or exports; |vocab|-bounded
    * driver metadata like [[Unigram.trainModel]]. */
  def trainModel(df: DataFrame, textCol: String): Seq[Piece] = {
    val words = Bpe.wordCounts(df, textCol).persist()
    try selectVocab(words) finally { words.unpersist(); () }
  }

  /** [[trainModel]] over an already-computed (w, wc) word-count
    * relation — a caller composing train → export → re-import → freeze
    * (the interchange round trip) shares ONE corpus word-count pass
    * across both halves instead of [[trainModel]] and [[freezeModel]]
    * each deriving their own. Caller manages the relation's
    * persistence (the [[wordPieceRelation]] cache contract). */
  def trainModelOn(words: DataFrame): Seq[Piece] = selectVocab(words)

  /** [[freezeModel]] against the same precomputed word-count
    * relation. */
  def freezeModelOn(model: Seq[Piece], words: DataFrame)
      : (DataFrame, DataFrame) = freeze(model, words)

  /** Freeze an already-trained model against `df`'s distinct words —
    * the re-import path of the interchange round trip (same CACHE
    * CONTRACT as [[wordPieceRelation]]). */
  def freezeModel(model: Seq[Piece], df: DataFrame, textCol: String)
      : (DataFrame, DataFrame) =
    freeze(model, CacheScope.register(Bpe.wordCounts(df, textCol).persist()))

  /** Train on `df` and freeze into the [[Bpe.wordIdRelation]] shape:
    * the (w, spos, tid) encode relation over distinct words plus the
    * (sym, tid) DECODE vocabulary, where `sym` is the raw surface (no
    * `##` — decode concatenates surfaces verbatim, see the class
    * scaladoc). Feed to [[Bpe.encodeIdsAgainst]] / [[Bpe.decodeIds]];
    * packing and streaming are tokenizer-family agnostic.
    * `vocabSize > 0` caps the total vocabulary (see [[selectVocab]]).
    *
    * CACHE CONTRACT (same as [[Unigram.wordPieceRelation]]): the
    * distinct-word relation persists and the returned `wids` stays
    * lazy over it — wrap call + materialization in
    * [[CacheScope.withScope]], or `clearCache()` between corpora. */
  def wordPieceRelation(df: DataFrame, textCol: String,
                        vocabSize: Int = 0)
      : (DataFrame, DataFrame) = {
    val words = CacheScope.register(Bpe.wordCounts(df, textCol).persist())
    wordPieceRelationOn(words, vocabSize)
  }

  /** [[wordPieceRelation]] over an already-computed (w, wc) relation —
    * callers composing several tokenizer families over one corpus (the
    * fertility query) share ONE word-count pass across all of them.
    * Caller manages the relation's persistence (same cache
    * contract). */
  def wordPieceRelationOn(words: DataFrame, vocabSize: Int = 0)
      : (DataFrame, DataFrame) =
    freeze(selectVocab(words, vocabSize), words)

  /** Freeze a trained model against a distinct-word relation. Words
    * hitting a no-match position drop whole (see [[greedy]]). The
    * greedy window follows the MODEL's longest piece (≥ the training
    * bound), so an imported vocabulary with pieces past
    * [[MaxPieceLen]] — any real BERT vocab — encodes faithfully; a
    * trained model's pieces never exceed the bound, so the oracle
    * queries are unaffected. */
  private def freeze(model: Seq[Piece],
                     words: DataFrame): (DataFrame, DataFrame) = {
    val spark = words.sparkSession
    import spark.implicits._
    val ordered = tidOrdered(model)
    val tidOf: Map[Piece, Long] =
      ordered.zipWithIndex.map { case (p, i) => p -> (i + 1L) }.toMap
    val vocabSet = tidOf.keySet
    val maxLen = (MaxPieceLen +: model.map(p => Bpe.codePoints(p.surface).length)).max
    val vocab = ordered.zipWithIndex
      .map { case (p, i) => (p.surface, i + 1L) }
      .toDF("sym", "tid")
    val segUdf = udf { (w: String) =>
      val pcs = greedy(w, vocabSet, maxLen)
      if (pcs == null) Array.empty[Long] else pcs.map(tidOf)
    }
    val wids = words
      .select(col("w"), posexplode(segUdf(col("w"))).as(Seq("__sp0", "tid")))
      .select(col("w"), (col("__sp0") + 1).as("spos"), col("tid"))
    (wids, vocab)
  }

  /** Model-store version (the [[Unigram.ModelStoreVersion]]
    * discipline). */
  val ModelStoreVersion = "graft_wordpiece_v1"

  /** The model trained on `docs`' `text`, the corpus at `corpusDir`,
    * served from its build-once store (the [[Unigram.modelFor]]
    * keying). Returns the generation dir to serve. */
  def modelFor(docs: DataFrame, corpusDir: String): String =
    GenerationStore.ensureForCorpus(docs.sparkSession, ModelStoreVersion,
      corpusDir)(ensureModel(docs, "text", _))

  /** Train and write the (surface, cont) model table into `dir`. */
  def ensureModel(docs: DataFrame, textCol: String, dir: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = Bpe.wordCounts(docs, textCol).persist()
    try selectVocab(words).toDF("surface", "cont")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
    finally { words.unpersist(); () }
  }

  /** Load a persisted model and freeze it against `df`'s distinct
    * words — encode-forever across sessions (the
    * [[Unigram.wordPieceRelationFrom]] analogue, same CACHE
    * CONTRACT). */
  def wordPieceRelationFrom(spark: org.apache.spark.sql.SparkSession,
                            dir: String, df: DataFrame, textCol: String)
      : (DataFrame, DataFrame) = {
    val model = spark.read.parquet(s"$dir/model")
      .collect().map(r => Piece(r.getString(0), r.getBoolean(1))).toSeq
    freeze(model, CacheScope.register(Bpe.wordCounts(df, textCol).persist()))
  }

  // ------------------------------------------------------------------
  // DuckDB oracle — replays the vocabulary cut and the greedy
  // longest-match walk with the same constants and total orders.
  // ------------------------------------------------------------------

  /** Vocabulary CTEs over words CTE `uw` (w, wc): `wpv` (surface,
    * cont) and `wpvocab` (surface, cont, tid), the Scala tid order.
    * `vocabSize > 0` replays the total-size cap: the multi cut keeps
    * `least(SeedMultis, vocabSize − |singles|)` slots (≥ 0). */
  private def vocabCtes(vocabSize: Int = 0): String = {
    val multiCut =
      if (vocabSize > 0)
        s"""SELECT surface, cont FROM (
           |    SELECT surface, cont, row_number() OVER (
           |        ORDER BY c DESC, surface ASC, cont ASC) AS rn
           |    FROM wpocc WHERE length(surface) > 1) m
           |  WHERE rn <= greatest(0, least($SeedMultis,
           |    $vocabSize - (SELECT count(*) FROM wpocc
           |                  WHERE length(surface) = 1)))""".stripMargin
      else
        s"""SELECT surface, cont FROM (
           |    SELECT surface, cont FROM wpocc WHERE length(surface) > 1
           |    ORDER BY c DESC, surface ASC, cont ASC LIMIT $SeedMultis) m""".stripMargin
    s"""wpocc AS MATERIALIZED (
       |  SELECT surface, cont, sum(wc) AS c FROM (
       |    SELECT substr(w, i, l) AS surface, i > 1 AS cont, wc
       |    FROM uw,
       |      unnest(generate_series(1, length(w))) u(i),
       |      unnest(generate_series(1, $MaxPieceLen)) v(l)
       |    WHERE i + l - 1 <= length(w)) q GROUP BY surface, cont),
       |wpv AS MATERIALIZED (
       |  SELECT surface, cont FROM wpocc WHERE length(surface) = 1
       |  UNION ALL
       |  $multiCut),
       |wpvocab AS MATERIALIZED (
       |  SELECT surface, cont, CAST(row_number() OVER (
       |      ORDER BY surface ASC, cont ASC) AS BIGINT) AS tid
       |  FROM wpv)""".stripMargin
  }

  /** The unrolled greedy walk over `uw`, ending in CTE `wids`
    * (w, spos, tid). Step k holds words whose walk has consumed k
    * pieces; each step extends by the longest matching piece
    * (row_number over l DESC — vocab membership makes the choice
    * unique). Words with a no-match position never reach an
    * all-consumed row and drop whole, matching [[greedy]]; words
    * longer than [[MaxWordLen]] take the per-code-point path. */
  private def greedyCtes: String = {
    val steps = (1 to MaxWordLen).map { k =>
      s"""g$k AS MATERIALIZED (
         |  SELECT w, pos + l AS pos, k, surface, cont FROM (
         |    SELECT g.w, g.pos, $k AS k, v.surface, v.cont,
         |      length(v.surface) AS l,
         |      row_number() OVER (PARTITION BY g.w
         |        ORDER BY length(v.surface) DESC) AS rn
         |    FROM g${k - 1} g JOIN wpv v
         |      ON v.surface = substr(g.w, g.pos, length(v.surface))
         |     AND v.cont = (g.pos > 1)
         |     AND g.pos + length(v.surface) - 1 <= length(g.w)
         |    WHERE g.pos <= length(g.w)) q WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to MaxWordLen)
      .map(k => s"SELECT w, k, surface, cont FROM g$k")
      .mkString("\n  UNION ALL\n  ")
    s"""g0 AS MATERIALIZED (
       |  SELECT w, 1 AS pos FROM uw WHERE length(w) <= $MaxWordLen),
       |$steps,
       |gall AS MATERIALIZED (
       |  $unions),
       |gdone AS MATERIALIZED (
       |  -- words whose walk consumed the whole word: the step that
       |  -- reached pos = len+1 exists; per-cp fallback for long words
       |  SELECT a.w, a.k AS spos, a.surface, a.cont FROM gall a
       |  WHERE a.w IN (SELECT w FROM (
       |    ${(1 to MaxWordLen).map(k =>
             s"SELECT w, pos FROM g$k").mkString("\n    UNION ALL\n    ")}
       |  ) f WHERE f.pos = length(f.w) + 1)
       |  UNION ALL
       |  SELECT w, CAST(i AS INT) AS spos, substr(w, i, 1) AS surface,
       |         i > 1 AS cont
       |  FROM uw, unnest(generate_series(1, length(w))) u(i)
       |  WHERE length(w) > $MaxWordLen),
       |wids AS MATERIALIZED (
       |  -- closed vocabulary: the long-word fallback can reference a
       |  -- piece outside wpv only for novel code points — the join
       |  -- then drops the word's rows entirely on the engine side via
       |  -- the whole-word drop; replay it by requiring ALL positions
       |  -- to resolve
       |  SELECT d.w, CAST(d.spos AS INT) AS spos, v.tid
       |  FROM gdone d JOIN wpvocab v USING (surface, cont)
       |  WHERE d.w IN (
       |    SELECT w FROM gdone g LEFT JOIN wpvocab v2 USING (surface, cont)
       |    GROUP BY w HAVING count(*) = count(v2.tid)))""".stripMargin
  }

  /** Shared chain: distinct words of `rel`, vocabulary, greedy encode
    * → `wids` (w, spos, tid) + `wpvocab`. */
  private def modelCtes(rel: String, vocabSize: Int = 0): String =
    s"""WITH uw AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM $rel) q
       |  WHERE w <> '' GROUP BY w),
       |${vocabCtes(vocabSize)},
       |$greedyCtes""".stripMargin

  /** Oracle for q_wordpiece_tokenize (and, with `vocabSize > 0`,
    * q_wordpiece_vocab_cap): per-document EOS-terminated token-id
    * summary under the frozen model. */
  def tokenizeOracleSql(rel: String = "documents",
                        vocabSize: Int = 0): String =
    modelCtes(rel, vocabSize) + s""",
      |wpd AS (SELECT doc_id, i AS wpos, t[i] AS w
      |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $rel) d,
      |             unnest(generate_series(1, len(t))) AS u(i)
      |        WHERE t[i] <> ''),
      |toks AS (SELECT doc_id, wpos, spos, tid FROM wpd JOIN wids USING (w)
      |         UNION ALL
      |         SELECT doc_id, 2147483647, 0, CAST(0 AS BIGINT) FROM $rel)
      |SELECT doc_id,
      |  CAST(count(*) - 1 AS BIGINT) AS n_tokens,
      |  md5(string_agg(CAST(tid AS VARCHAR), ' '
      |      ORDER BY wpos, spos)) AS ids_md5
      |FROM toks GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle for q_wordpiece_roundtrip: rebuild the text THROUGH the
    * ids and the raw-surface vocabulary (concatenate surfaces per
    * word — no `##` stripping, by the (surface, cont) design). */
  def roundtripOracleSql(rel: String = "documents"): String =
    modelCtes(rel) + s""",
      |wpd AS (SELECT doc_id, i AS wpos, t[i] AS w
      |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $rel) d,
      |             unnest(generate_series(1, len(t))) AS u(i)
      |        WHERE t[i] <> ''),
      |toks AS (SELECT doc_id, wpos, spos, tid FROM wpd JOIN wids USING (w)),
      |dw AS (SELECT doc_id, wpos,
      |         string_agg(v.surface, '' ORDER BY spos) AS dword
      |       FROM toks JOIN wpvocab v USING (tid)
      |       GROUP BY doc_id, wpos),
      |dec AS (SELECT doc_id,
      |          string_agg(dword, ' ' ORDER BY wpos) AS dtext
      |        FROM dw GROUP BY doc_id)
      |SELECT r.doc_id,
      |  md5(coalesce(r.text, '')) AS orig_md5,
      |  md5(coalesce(d.dtext, '')) AS decoded_md5,
      |  coalesce(d.dtext, '') = coalesce(r.text, '') AS roundtrip_ok
      |FROM $rel r LEFT JOIN dec d USING (doc_id)
      |ORDER BY r.doc_id""".stripMargin

  /** Oracle for q_stream_wordpiece_pack: the per-shard (bat = doc_id
    * parity = source file) batch-scoped packing of the WordPiece id
    * stream — the [[Unigram.streamPackOracleSql]] arithmetic on this
    * family's frozen model. */
  def streamPackOracleSql(seqLen: Int, rel: String = "documents"): String =
    modelCtes(rel) + s""",
      |wpd AS (SELECT doc_id, doc_id % 2 AS bat, i AS wpos, t[i] AS w
      |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $rel) d,
      |             unnest(generate_series(1, len(t))) AS u(i)
      |        WHERE t[i] <> ''),
      |toks AS (SELECT doc_id, bat, wpos, spos, tid FROM wpd JOIN wids USING (w)
      |         UNION ALL
      |         SELECT doc_id, doc_id % 2, 2147483647, 0, CAST(0 AS BIGINT)
      |         FROM $rel),
      |ord AS (SELECT doc_id, bat, tid,
      |          row_number() OVER (PARTITION BY doc_id ORDER BY wpos, spos) AS ipos,
      |          count(*) OVER (PARTITION BY doc_id) AS nd
      |        FROM toks),
      |offs AS (SELECT doc_id, sum(nd) OVER (PARTITION BY bat ORDER BY doc_id) - nd AS off
      |         FROM (SELECT DISTINCT doc_id, bat, nd FROM ord) c),
      |gpos AS (SELECT o.bat, o.tid, (f.off + o.ipos - 1) AS gp
      |         FROM ord o JOIN offs f USING (doc_id)),
      |pseqs AS (SELECT bat, CAST(gp // $seqLen AS BIGINT) AS seq_id,
      |                 gp % $seqLen AS sp, tid FROM gpos)
      |SELECT CAST(bat AS BIGINT) AS bat, seq_id,
      |       CAST(count(*) AS BIGINT) AS seq_len,
      |       CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
      |       md5(string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY sp)) AS ids_md5
      |FROM pseqs GROUP BY bat, seq_id ORDER BY bat, seq_id""".stripMargin

  /** Per-source WordPiece token counts as a SELF-CONTAINED statement
    * for nesting inside a derived table (the
    * [[Unigram.tokenCountBySourceSql]] shape): per word occurrence the
    * count is the frozen greedy segmentation's piece count — no ids
    * needed; dropped words (novel code points) contribute zero, the
    * engine's whole-word-drop semantics. */
  def tokenCountBySourceSql(rel: String = "documents"): String =
    modelCtes(rel) + s""",
      |wpn AS (SELECT w, CAST(count(*) AS BIGINT) AS np FROM wids GROUP BY w),
      |wpd AS (SELECT d.source, t[i] AS w
      |        FROM (SELECT source, string_split(text, ' ') AS t FROM $rel) d,
      |             unnest(generate_series(1, len(t))) AS u(i)
      |        WHERE t[i] <> '')
      |SELECT source, CAST(sum(np) AS BIGINT) AS t
      |FROM wpd JOIN wpn USING (w) GROUP BY source""".stripMargin

  /** Oracle for q_wordpiece_pack: the WordPiece id stream through the
    * unchanged GPT-packer arithmetic (the [[Unigram.packOracleSql]]
    * shape). */
  def packOracleSql(seqLen: Int, rel: String = "documents"): String =
    modelCtes(rel) + s""",
      |wpd AS (SELECT doc_id, i AS wpos, t[i] AS w
      |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $rel) d,
      |             unnest(generate_series(1, len(t))) AS u(i)
      |        WHERE t[i] <> ''),
      |toks AS (SELECT doc_id, wpos, spos, tid FROM wpd JOIN wids USING (w)
      |         UNION ALL
      |         SELECT doc_id, 2147483647, 0, CAST(0 AS BIGINT) FROM $rel),
      |ord AS (SELECT doc_id, tid,
      |          row_number() OVER (PARTITION BY doc_id ORDER BY wpos, spos) AS ipos,
      |          count(*) OVER (PARTITION BY doc_id) AS nd
      |        FROM toks),
      |offs AS (SELECT doc_id, sum(nd) OVER (ORDER BY doc_id) - nd AS off
      |         FROM (SELECT DISTINCT doc_id, nd FROM ord) c),
      |gpos AS (SELECT o.tid, (f.off + o.ipos - 1) AS gp
      |         FROM ord o JOIN offs f USING (doc_id)),
      |pseqs AS (SELECT CAST(gp // $seqLen AS BIGINT) AS seq_id,
      |                 gp % $seqLen AS sp, tid FROM gpos)
      |SELECT seq_id, CAST(count(*) AS BIGINT) AS seq_len,
      |       CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
      |       md5(string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY sp)) AS ids_md5
      |FROM pseqs GROUP BY seq_id ORDER BY seq_id""".stripMargin
}
