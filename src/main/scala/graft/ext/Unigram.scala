package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) subword tokenizer — the second
  * tokenizer family beside [[Bpe]] (Kudo '18, public): model a word as
  * the best segmentation into vocabulary pieces under independent
  * piece probabilities, trained by EM and decoded by Viterbi. This
  * implementation is the HARD-EM (Viterbi-EM) variant: each E-step
  * assigns every distinct word its single best segmentation under the
  * current model and the M-step re-estimates piece counts from those
  * assignments — the standard deterministic approximation, chosen here
  * so the DuckDB oracle can replay training EXACTLY (soft-EM's
  * forward–backward sums of floats cannot cross engines bit-stably;
  * argmax over fixed-point scores can).
  *
  * Cross-engine determinism contract (the repo's floor/decimal
  * discipline): piece scores are integer MICRO-LOGS —
  * `round(ln(count)·1e6)` — so every Viterbi comparison is an exact
  * integer compare on both engines (ln is transcendental-derived, so
  * the 1e-6 rounding is tie-free per the established gotcha), and the
  * DP tie-break is total: higher score, then SMALLEST previous
  * position (= longest final piece). Model constants below are shared
  * literals with [[oracleSql]].
  *
  * Scale shape (the k-means/count-min discipline): the corpus
  * collapses to the DISTINCT-WORD relation in one aggregation (the
  * only full-text pass — [[Bpe.wordCounts]] reused); each E-step is a
  * map-only per-word Viterbi over that relation with the |vocab|-
  * bounded score table broadcast in the closure, followed by ONE
  * piece-count aggregation bounded by |vocab|; the M-step is |vocab|
  * rows of driver-held model metadata (like the IVF centroids and the
  * BPE merge table). Encoding is train-once / encode-forever:
  * [[wordPieceRelation]] freezes the model into the same (w, spos,
  * tid) relation [[Bpe.encodeIdsAgainst]] consumes, so the packing /
  * streaming machinery works unchanged on either tokenizer family.
  */
object Unigram {

  /** Max piece length in code points — the SentencePiece
    * `max_sentencepiece_length` analogue, and the DP fan-in bound. */
  val MaxPieceLen = 4

  /** Words longer than this segment per code point without DP (both
    * engines) — bounds the oracle's unrolled lattice. Corpus words
    * measure ≤ 8 at every SF; 16 leaves regen headroom. */
  val MaxDpWordLen = 16

  /** Seed vocabulary: every single code point (coverage floor) plus
    * this many most-frequent multi-char substrings (cnt DESC, piece
    * ASC in UTF-8 order — deterministic). */
  val SeedMultis = 128

  /** Hard-EM iterations after seeding. */
  val EmRounds = 2

  /** round(ln(c)·1e6) — the fixed-point log both engines share. */
  private def lnMicros(c: Long): Long = Math.round(Math.log(c.toDouble) * 1e6)

  /** Integer Viterbi score of piece p under counts (c_p, total T):
    * micro-log of p's probability. Exposed to [[TokenizerExport]] —
    * pieces.tsv carries the exact fixed-point score beside the count. */
  private[ext] def scoreOf(c: Long, total: Long): Long =
    lnMicros(c) - lnMicros(total)

  /** Viterbi segmentation of one word under a micro-log score table.
    * Forward DP over code-point positions; at each position the best
    * predecessor wins by (score strictly greater), iterating
    * predecessors in ASCENDING order — so equal scores keep the
    * SMALLEST predecessor, the exact tie-break [[oracleSql]]'s
    * `ORDER BY sc DESC, j ASC` window replays. Words longer than
    * [[MaxDpWordLen]] (and the unreachable-word fallback, impossible
    * for training-corpus words because every alphabet single is in the
    * model) segment per code point. */
  private[ext] def viterbi(w: String,
                           score: collection.Map[String, Long]): Array[String] = {
    val cps = Bpe.codePoints(w)
    val n = cps.length
    if (n == 0) return Array.empty
    if (n > MaxDpWordLen) return cps
    val NEG = Long.MinValue / 4
    val best = Array.fill(n + 1)(NEG)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0L
    var pos = 1
    while (pos <= n) {
      var j = math.max(0, pos - MaxPieceLen)
      while (j < pos) {
        if (best(j) > NEG) {
          score.get(cps.slice(j, pos).mkString) match {
            case Some(s) =>
              val cand = best(j) + s
              if (cand > best(pos)) { best(pos) = cand; back(pos) = j }
            case None => ()
          }
        }
        j += 1
      }
      pos += 1
    }
    if (best(n) <= NEG) return cps
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = n
    while (p > 0) {
      val j = back(p)
      out += cps.slice(j, p).mkString
      p = j
    }
    out.reverseIterator.toArray
  }

  /** All substrings of `w` with length 1..[[MaxPieceLen]], as a column
    * (code-point positions — `substring`/`length` count code points on
    * both engines). */
  private def substringsCol(w: Column): Column =
    flatten(transform(sequence(lit(1), length(w)), i =>
      filter(transform(sequence(lit(1), lit(MaxPieceLen)),
          l => when(i + l - 1 <= length(w), w.substr(i, l))),
        s => s.isNotNull)))

  /** Train the unigram model: returns the final (piece, count) table,
    * |vocab|-bounded driver-held model metadata. Seed = all singles +
    * top-[[SeedMultis]] multi-char substrings by occurrence-weighted
    * frequency; then [[EmRounds]] hard-EM rounds. The M-step keeps
    * every alphabet single with count floor 1 (the coverage guarantee
    * that makes every training word reachable forever) and drops
    * multis the E-step stopped using. */
  def trainModel(df: DataFrame, textCol: String,
                 vocabSize: Int = 0): Seq[(String, Long)] = {
    val words = Bpe.wordCounts(df, textCol).persist()
    try trainModelOn(words, vocabSize) finally { words.unpersist(); () }
  }

  /** [[trainModel]] over an already-persisted (w, wc) relation — the
    * form [[wordPieceRelation]] uses so the corpus is tokenized ONCE
    * for training AND the frozen-model word relation. */
  private def trainModelOn(words: DataFrame,
                           vocabSize: Int): Seq[(String, Long)] = {
    val subs = words
      .select(col("wc"), explode(substringsCol(col("w"))).as("p"))
      .groupBy(col("p")).agg(sum(col("wc")).as("c"))
      .persist()
    val (singles, multis) = try {
      val s = subs.filter(length(col("p")) === 1)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val m = subs.filter(length(col("p")) > 1)
        .orderBy(col("c").desc, col("p")).limit(SeedMultis)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      (s, m)
    } finally { subs.unpersist(); () }
    val alphabet = singles.map(_._1).toSet
    var counts: Seq[(String, Long)] = singles ++ multis
    for (_ <- 0 until EmRounds) {
      val eCounts = eStep(words, counts)
      counts = mStep(eCounts, alphabet)
    }
    pruneToSize(counts, alphabet, vocabSize)
  }

  /** The SentencePiece `vocab_size` knob: cap the model at `vocabSize`
    * pieces — every alphabet single survives (the coverage floor; a
    * cap below |alphabet| keeps the whole alphabet and nothing else),
    * multis keep the top slots by (count DESC, piece ASC in UTF-8
    * order — the seed's deterministic total order). 0 = no cap.
    * Pruning is a driver-side cut of the model table; the FINAL encode
    * then Viterbi-segments against the pruned scores, so words whose
    * best pieces were cut re-route through surviving ones. */
  private def pruneToSize(counts: Seq[(String, Long)], alphabet: Set[String],
                          vocabSize: Int): Seq[(String, Long)] = {
    if (vocabSize <= 0) return counts
    val (singles, multis) = counts.partition(c => alphabet.contains(c._1))
    val slots = math.max(0, vocabSize - singles.length)
    val kept = multis
      .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && Bpe.utf8Lt(a._1, b._1)))
      .take(slots)
    (singles ++ kept).sortWith((a, b) => Bpe.utf8Lt(a._1, b._1))
  }

  /** One distributed E-step: Viterbi-segment every distinct word under
    * the broadcast score table, aggregate used-piece counts weighted
    * by word frequency. Map-only per word + one |vocab|-bounded
    * aggregation. */
  private def eStep(words: DataFrame,
                    counts: Seq[(String, Long)]): Map[String, Long] = {
    val total = counts.map(_._2).sum
    val score: Map[String, Long] =
      counts.map { case (p, c) => p -> scoreOf(c, total) }.toMap
    val segUdf = udf((w: String) => viterbi(w, score))
    words.select(col("wc"), explode(segUdf(col("w"))).as("p"))
      .groupBy(col("p")).agg(sum(col("wc")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** M-step: singles floored at 1 (coverage), multis kept iff used. */
  private def mStep(eCounts: Map[String, Long],
                    alphabet: Set[String]): Seq[(String, Long)] = {
    val singles = alphabet.toSeq.map(a => a -> math.max(eCounts.getOrElse(a, 0L), 1L))
    val multis = eCounts.toSeq.filter { case (p, c) =>
      p.codePointCount(0, p.length) > 1 && c > 0
    }
    // deterministic model order (UTF-8) — cosmetic for the driver table,
    // semantic for nothing: scores depend only on the (piece, count) SET
    (singles ++ multis).sortWith((a, b) => Bpe.utf8Lt(a._1, b._1))
  }

  /** Freeze the trained model into the [[Bpe.wordIdRelation]] shape:
    * (w, spos, tid) per distinct word under its FINAL Viterbi
    * segmentation, plus the (sym, tid) vocabulary — tid = 1-based rank
    * of the model's pieces in UTF-8 order, 0 reserved for EOS (the id
    * discipline [[Bpe.encodeIds]] uses). Feed the relation to
    * [[Bpe.encodeIdsAgainst]] / [[Bpe.decodeIds]] — the packing and
    * streaming machinery is tokenizer-family agnostic.
    *
    * CACHE CONTRACT (same as [[Bpe.encodeIdsWithVocab]] /
    * [[Packing.packSequences]]): the corpus is tokenized ONCE into a
    * persisted distinct-word relation that serves both the EM training
    * scans and the returned `wids` plan, which stays LAZY over it —
    * wrap the call and its materialization in
    * [[CacheScope.withScope]] to release it on exit, or
    * `spark.catalog.clearCache()` between models outside a scope
    * (Bench/Verify do both). */
  def wordPieceRelation(df: DataFrame, textCol: String,
                        vocabSize: Int = 0)
      : (DataFrame, DataFrame) = {
    // wordCounts already aggregates to DISTINCT words — the frozen
    // encode reuses the persisted relation instead of re-scanning the
    // corpus for a second explode+distinct pass
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
    freeze(trainModelOn(words, vocabSize), words)

  /** Freeze a trained model against a distinct-word relation: the
    * (w, spos, tid) encode relation + (sym, tid) vocabulary. CLOSED
    * vocabulary at WORD granularity: a word whose best segmentation
    * uses any piece outside the model (possible only for words the
    * model never saw — e.g. [[wordPieceRelationFrom]] over new text
    * with novel characters) contributes NO token rows, the
    * [[Bpe.encodeIdsAgainst]] OOV-drop semantics; a partial encoding
    * would silently corrupt the stream. */
  private def freeze(model: Seq[(String, Long)],
                     words: DataFrame): (DataFrame, DataFrame) = {
    val spark = words.sparkSession
    import spark.implicits._
    val total = model.map(_._2).sum
    val score: Map[String, Long] =
      model.map { case (p, c) => p -> scoreOf(c, total) }.toMap
    val tidOf: Map[String, Long] = model.map(_._1)
      .sortWith(Bpe.utf8Lt).zipWithIndex
      .map { case (p, i) => p -> (i + 1L) }.toMap
    val vocab = tidOf.toSeq.sortBy(_._2).toDF("sym", "tid")
      .select(col("sym"), col("tid"))
    val segUdf = udf { (w: String) =>
      val ids = viterbi(w, score).map(p => tidOf.getOrElse(p, -1L))
      if (ids.contains(-1L)) Array.empty[Long] else ids
    }
    val wids = words
      .select(col("w"), posexplode(segUdf(col("w"))).as(Seq("__sp0", "tid")))
      .select(col("w"), (col("__sp0") + 1).as("spos"), col("tid"))
    (wids, vocab)
  }

  /** Model-store version — bump when training constants or the model
    * schema change (a store must never silently serve a model the
    * current trainer would not produce). */
  val ModelStoreVersion = "graft_unigram_v1"

  /** The model trained on `docs`' `text`, the corpus at `corpusDir`,
    * served from its build-once store
    * ([[GenerationStore.ensureForCorpus]]; the vocab cap joins the key,
    * so models differing only in cap coexist). Returns the generation
    * dir to serve. */
  def modelFor(docs: DataFrame, corpusDir: String, vocabSize: Int = 0): String =
    GenerationStore.ensureForCorpus(docs.sparkSession,
        s"${ModelStoreVersion}c$vocabSize", corpusDir) {
      ensureModel(docs, "text", _, vocabSize)
    }

  /** Train and write the (piece, cnt) model table into `dir`. The
    * artifact IS the tokenizer a pipeline ships: |vocab| rows, loaded
    * by [[wordPieceRelationFrom]] in any later session/run. */
  def ensureModel(docs: DataFrame, textCol: String, dir: String,
                  vocabSize: Int = 0): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainModel(docs, textCol, vocabSize).toDF("piece", "cnt")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
  }

  /** Freeze an already-trained (piece, count) model against `df`'s
    * distinct words — the re-import path of the [[TokenizerExport]]
    * round trip (same CACHE CONTRACT as [[wordPieceRelation]]). */
  def freezeModel(model: Seq[(String, Long)], df: DataFrame,
                  textCol: String): (DataFrame, DataFrame) =
    freeze(model.sortWith((a, b) => Bpe.utf8Lt(a._1, b._1)),
      CacheScope.register(Bpe.wordCounts(df, textCol).persist()))

  /** Load a persisted model and freeze it against `df`'s distinct
    * words — encode-forever across sessions and restarts. Words using
    * pieces outside the persisted model drop whole (see [[freeze]]).
    *
    * CACHE CONTRACT (same as [[wordPieceRelation]]): the distinct-word
    * relation is persisted and the returned `wids` plan stays lazy
    * over it — a service encoding many corpora should wrap each
    * encode+materialization in [[CacheScope.withScope]] (or
    * `clearCache()` between corpora). */
  def wordPieceRelationFrom(spark: org.apache.spark.sql.SparkSession,
                            dir: String, df: DataFrame, textCol: String)
      : (DataFrame, DataFrame) = {
    val model = spark.read.parquet(s"$dir/model")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .sortWith((a, b) => Bpe.utf8Lt(a._1, b._1))
    freeze(model, CacheScope.register(Bpe.wordCounts(df, textCol).persist()))
  }

  // ------------------------------------------------------------------
  // DuckDB oracle — replays seed, both hard-EM rounds, the final
  // Viterbi encode and the id assignment with the SAME constants and
  // tie-breaks as the engine. The per-word lattice unrolls to
  // MaxDpWordLen position CTEs per DP pass (bounded SQL, built here so
  // the literals cannot drift).
  // ------------------------------------------------------------------

  /** One unrolled Viterbi DP pass in SQL: CTEs `{tag}dp1..{tag}dpN`
    * over words CTE `uw` (w, wc) and score CTE `{sc}` (p, sc), ending
    * in `{tag}seg` = (w, path) where path is the space-joined piece
    * sequence. Long words (len > MaxDpWordLen) take the char-split
    * fallback, matching [[viterbi]]. */
  private def dpSql(tag: String, sc: String): String = {
    val n = MaxDpWordLen
    val dp0 = s"""${tag}dp0 AS (SELECT w, CAST(0 AS BIGINT) AS sc,
       |    CAST('' AS VARCHAR) AS path FROM uw WHERE length(w) <= $n)"""
      .stripMargin
    val steps = (1 to n).map { k =>
      val branches = (math.max(0, k - MaxPieceLen) until k).map { j =>
        s"""SELECT d.w, d.sc + s.sc AS sc,
           |        d.path || ' ' || s.p AS path, $j AS j
           |      FROM ${tag}dp$j d JOIN $sc s
           |        ON s.p = substr(d.w, ${j + 1}, ${k - j})
           |      WHERE length(d.w) >= $k""".stripMargin
      }.mkString("\n      UNION ALL\n      ")
      s"""${tag}dp$k AS MATERIALIZED (
         |  SELECT w, sc, path FROM (
         |    SELECT c.*, row_number() OVER (
         |        PARTITION BY c.w ORDER BY c.sc DESC, c.j ASC) AS rn
         |    FROM (
         |      $branches
         |    ) c) WHERE rn = 1)""".stripMargin
    }
    val ends = (1 to n)
      .map(k => s"SELECT w, path FROM ${tag}dp$k WHERE length(w) = $k")
      .mkString("\n  UNION ALL\n  ")
    val seg = s"""${tag}seg AS MATERIALIZED (
       |  $ends
       |  UNION ALL
       |  SELECT w, ' ' || array_to_string(
       |      list_transform(generate_series(1, length(w)),
       |        i -> substr(w, i, 1)), ' ') AS path
       |  FROM uw WHERE length(w) > $n)""".stripMargin
    (dp0 +: steps :+ seg).mkString(",\n")
  }

  /** Micro-log score CTE `{out}` (p, sc) from count CTE `{cnt}`
    * (p, c). */
  private def scoreSql(out: String, cnt: String): String =
    s"""$out AS MATERIALIZED (SELECT p,
       |    CAST(round(ln(c) * 1000000, 0) AS BIGINT)
       |      - (SELECT CAST(round(ln(sum(c)) * 1000000, 0) AS BIGINT)
       |         FROM $cnt) AS sc
       |  FROM $cnt)""".stripMargin

  /** E+M recount CTE `{out}` (p, c) from segmentation CTE `{seg}`:
    * used-piece counts weighted by word frequency, singles floored at
    * 1 over the seed alphabet, unused multis dropped. */
  private def recountSql(out: String, seg: String): String =
    s"""${out}_e AS MATERIALIZED (
       |  SELECT p, sum(wc) AS c FROM (
       |    SELECT unnest(string_split(trim(s.path), ' ')) AS p, u.wc
       |    FROM $seg s JOIN uw u USING (w)) GROUP BY p),
       |$out AS MATERIALIZED (
       |  SELECT a.p, greatest(coalesce(e.c, 0), 1) AS c
       |  FROM alpha a LEFT JOIN ${out}_e e USING (p)
       |  UNION ALL
       |  SELECT p, c FROM ${out}_e WHERE length(p) > 1 AND c > 0)"""
      .stripMargin

  /** The shared CTE chain through the final frozen-model word
    * segmentation + vocabulary ids: ends with `wids` (w, spos, tid)
    * and `vocab` (p, tid). */
  private def modelCtes(rel: String, vocabSize: Int = 0,
                        pre: String = ""): String = {
    val rounds = (0 until EmRounds).map { r =>
      dpSql(s"r$r", s"sc$r") + ",\n" +
        recountSql(s"cnt${r + 1}", s"r${r}seg") + ",\n" +
        scoreSql(s"sc${r + 1}", s"cnt${r + 1}")
    }.mkString(",\n")
    // the vocab_size cap ([[pruneToSize]]): singles always survive,
    // multis keep the top (vocabSize - |alphabet|) slots by the seed's
    // (count DESC, piece ASC) total order; the FINAL encode and the id
    // assignment both run against the pruned table
    val cntF =
      if (vocabSize <= 0)
        s"cntF AS MATERIALIZED (SELECT p, c FROM cnt$EmRounds)"
      else
        s"""cntF AS MATERIALIZED (
           |  SELECT p, c FROM cnt$EmRounds WHERE length(p) = 1
           |  UNION ALL
           |  SELECT p, c FROM (
           |    SELECT p, c, row_number() OVER (ORDER BY c DESC, p) AS rn
           |    FROM cnt$EmRounds WHERE length(p) > 1) m
           |  WHERE rn <= greatest(0,
           |    $vocabSize - (SELECT count(*) FROM alpha)))""".stripMargin
    s"""WITH ${pre}uw AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM $rel) q
       |  WHERE w <> '' GROUP BY w),
       |subs AS MATERIALIZED (
       |  SELECT p, sum(wc) AS c FROM (
       |    SELECT substr(w, i, l) AS p, wc
       |    FROM uw,
       |      unnest(generate_series(1, length(w))) u(i),
       |      unnest(generate_series(1, $MaxPieceLen)) v(l)
       |    WHERE i + l - 1 <= length(w)) q GROUP BY p),
       |alpha AS MATERIALIZED (SELECT p FROM subs WHERE length(p) = 1),
       |cnt0 AS MATERIALIZED (
       |  SELECT p, c FROM subs WHERE length(p) = 1
       |  UNION ALL
       |  SELECT p, c FROM (
       |    SELECT p, c FROM subs WHERE length(p) > 1
       |    ORDER BY c DESC, p LIMIT $SeedMultis) m),
       |${scoreSql("sc0", "cnt0")},
       |$rounds,
       |$cntF,
       |${scoreSql("scF", "cntF")},
       |${dpSql("fin", "scF")},
       |vocab AS MATERIALIZED (
       |  SELECT p, CAST(row_number() OVER (ORDER BY p) AS BIGINT) AS tid
       |  FROM cntF),
       |wids AS MATERIALIZED (
       |  SELECT q.w, CAST(q.i AS INT) AS spos, vocab.tid
       |  FROM (SELECT w, i, pcs[i] AS p FROM (
       |          SELECT w, string_split(trim(path), ' ') AS pcs
       |          FROM finseg) s,
       |        unnest(generate_series(1, len(pcs))) u(i)) q
       |  JOIN vocab USING (p))""".stripMargin
  }

  /** Oracle for q_unigram_tokenize: per-document token-id stream
    * (EOS-terminated) under the trained model. */
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

  /** Oracle for q_unigram_pack: the unigram model's token-id stream
    * packed into fixed-length sequences — the established pack
    * arithmetic (per-doc-count prefix sum → position p lands in
    * sequence p div L slot p mod L) over unigram wids, proving the
    * packing machinery is tokenizer-family agnostic. */
  def packOracleSql(seqLen: Int, rel: String = "documents",
                    pre: String = ""): String =
    modelCtes(rel, pre = pre) + s""",
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

  /** Oracle for q_stream_unigram_pack: the frozen unigram model
    * encoding a two-micro-batch stream (file a = even ids → bat 0,
    * file b = odd ids → bat 1) with BATCH-SCOPED per-shard packing —
    * every window partitions by `bat`, the
    * [[graft.queries.ExtHelpers]] streamPackOracle arithmetic over
    * unigram wids. */
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

  /** Per-source unigram token counts (no ids needed — the count per
    * word occurrence is its final segmentation's piece count), as a
    * SELF-CONTAINED statement for nesting inside a derived table:
    * the fertility oracle joins it beside the BPE family's count,
    * whose CTE names would clash in one WITH chain. */
  def tokenCountBySourceSql(rel: String = "documents"): String =
    modelCtes(rel) + s""",
      |wpd AS (SELECT d.source, t[i] AS w
      |        FROM (SELECT source, string_split(text, ' ') AS t FROM $rel) d,
      |             unnest(generate_series(1, len(t))) AS u(i)
      |        WHERE t[i] <> '')
      |SELECT source,
      |  CAST(sum(len(string_split(trim(path), ' '))) AS BIGINT) AS t
      |FROM wpd JOIN finseg USING (w) GROUP BY source""".stripMargin

  /** Oracle for q_unigram_roundtrip: decode the token-id stream back
    * THROUGH the vocabulary (piece lookup by tid — a wrong id or a
    * dropped piece breaks the hash) and compare with the original. */
  def roundtripOracleSql(rel: String = "documents"): String =
    modelCtes(rel) + s""",
      |wpd AS (SELECT doc_id, i AS wpos, t[i] AS w
      |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $rel) d,
      |             unnest(generate_series(1, len(t))) AS u(i)
      |        WHERE t[i] <> ''),
      |toks AS (SELECT doc_id, wpos, spos, tid FROM wpd JOIN wids USING (w)),
      |dw AS (SELECT doc_id, wpos,
      |         string_agg(v.p, '' ORDER BY spos) AS dword
      |       FROM toks JOIN vocab v USING (tid)
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
}
