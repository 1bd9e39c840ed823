package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding TRAINING primitives — the tokenizer-side
  * counterpart of the token-counting/vocab operators (Sennrich et al.
  * '16, public): count adjacent symbol pairs across the corpus
  * weighted by word frequency, pick the most frequent, merge it, and
  * repeat. This is the inner loop every subword tokenizer trainer
  * runs before a 100 TB pretraining job can tokenize.
  *
  * Scale shape: the corpus collapses to the DISTINCT-WORD relation in
  * one aggregation (the only pass that touches full text), and every
  * subsequent round aggregates pair counts over that relation —
  * shuffles bounded by distinct-word / distinct-pair cardinality, not
  * corpus size. The per-round argmax is ONE row to the driver
  * (bounded model metadata, like the IVF centroids); merge
  * application is a map-only transform of the symbol arrays.
  */
object Bpe {

  /** (word, count) — the corpus's only full-text aggregation. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))

  /** Adjacent character-pair counts weighted by word frequency — BPE
    * round 1's statistics (initial symbols = characters). Deterministic
    * order: count DESC, pair ASC. */
  def pairCounts(df: DataFrame, textCol: String): DataFrame =
    wordCounts(df, textCol)
      .filter(length(col("w")) >= 2)
      .select(col("wc"), explode(
        transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2))))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))

  /** Distinct-word cap for driver-local training. The (word, count)
    * relation is MODEL state, not corpus data — published BPE trainers
    * (Sennrich's reference implementation, HF tokenizers) all collect
    * it and run the merge loop locally, because each round's work is
    * O(Σ|word|) over the vocabulary, thousands of times smaller than a
    * distributed round's job-scheduling floor. At 100 TB the
    * vocabulary still caps in the millions (Heaps' law), so the local
    * path is the expected one; a pathological vocabulary above the cap
    * falls back to the distributed per-round loop, whose shuffles stay
    * bounded by distinct-pair cardinality. Both paths are
    * bit-identical: exact long counts, total (cnt DESC, l, r) argmax
    * order, the same greedy merge-skip-2 scan
    * (ExtOpsSpec's lockstep test pins this). */
  val MaxDriverVocab: Int = 1 << 20

  /** `k` BPE merges trained iteratively: each round counts adjacent
    * symbol pairs weighted by word frequency, takes the (cnt DESC,
    * l, r) argmax, and rewrites the symbol arrays greedily. Returns
    * the ordered merge table (round, left, right, cnt) — the artifact
    * a tokenizer ships. ONE corpus-wide aggregation produces the
    * vocabulary; training then runs on the driver when the vocabulary
    * fits [[MaxDriverVocab]] (the normal case), else distributed. */
  def trainMerges(df: DataFrame, textCol: String, k: Int): Seq[(Int, String, String, Long)] =
    trainMergesOn(wordCounts(df, textCol), k)

  /** [[trainMerges]] over an already-computed (w, wc) relation — the
    * form the shared-word-count paths use so training adds no corpus
    * pass of its own. */
  private[ext] def trainMergesOn(wc: DataFrame, k: Int): Seq[(Int, String, String, Long)] = {
    val head = wc.limit(MaxDriverVocab + 1).collect()
    if (head.length <= MaxDriverVocab)
      trainMergesLocal(head.map(r => (r.getString(0), r.getLong(1))).toSeq, k)
    else trainMergesDistributed(wc, k)
  }

  /** Driver-local merge loop over the collected vocabulary — exact
    * long pair counts, (cnt DESC, l ASC, r ASC) argmax, greedy
    * merge-skip-2 application; byte-for-byte the distributed loop's
    * semantics. */
  private[ext] def trainMergesLocal(vocab: Seq[(String, Long)],
                                    k: Int): Seq[(Int, String, String, Long)] = {
    var words: Array[(Array[String], Long)] =
      vocab.map { case (w, c) => (codePoints(w), c) }.toArray
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < k && !exhausted) {
      val counts = new java.util.HashMap[(String, String), java.lang.Long]()
      words.foreach { case (a, c) =>
        var i = 0
        while (i + 1 < a.length) {
          counts.merge((a(i), a(i + 1)), c, (x, y) => x + y)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bl: String = null; var br: String = null; var bc = 0L
        counts.forEach { (p, c) =>
          // ties break in CODE-POINT order (= UTF-8 byte order), the
          // order Spark's UTF8String sort and DuckDB's collation both
          // use — JVM compareTo is UTF-16 code-unit order, which flips
          // supplementary-plane symbols against U+E000..U+FFFF chars
          def lt(a: String, b: String) = utf8Lt(a, b)
          val better = bl == null || c > bc ||
            (c == bc && (lt(p._1, bl) || (p._1 == bl && lt(p._2, br))))
          if (better) { bl = p._1; br = p._2; bc = c }
        }
        merges += ((round, bl, br, bc))
        words = words.map { case (a, c) => (applyOne(a, bl, br), c) }
        round += 1
      }
    }
    merges.toList
  }

  /** Initial BPE symbols = CODE POINTS, never UTF-16 chars: a char
    * split shatters supplementary-plane symbols into lone surrogates,
    * which Spark's UTF8String cannot represent (String.getBytes(UTF_8)
    * replaces an unpaired surrogate with '?'), silently corrupting the
    * distributed trainer's pair relation and its argmax order. */
  private[ext] def codePoints(w: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** Code-point-order string compare — equal to UTF-8 byte order,
    * matching Spark's UTF8String and DuckDB's collation. Differs from
    * JVM `compareTo` (UTF-16 code units) only when one side contains a
    * supplementary-plane character. */
  private[ext] def utf8Lt(a: String, b: String): Boolean = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    a.length - i < b.length - j
  }

  /** Distributed per-round loop — the above-cap fallback. Each round
    * LOCAL-CHECKPOINTS the rewritten symbol relation (the connected-
    * components precedent): persisting alone keeps the logical plan
    * growing by one UDF layer per round, and at a realistic merge
    * budget (k in the hundreds) the O(k²) accumulated plan strings
    * OOM the driver before the data is ever large. */
  private[ext] def trainMergesDistributed(wc: DataFrame,
                                          k: Int): Seq[(Int, String, String, Long)] = {
    val spark = wc.sparkSession
    import spark.implicits._
    val splitChars = udf((w: String) => codePoints(w))
    // each round's localCheckpoint is freed once the next one exists
    // (CacheScope.releaseCheckpoint): k rounds of vocabulary-sized
    // blocks would otherwise linger until driver GC
    var words = wc
      .select(splitChars(col("w")).as("syms"), col("wc"))
      .localCheckpoint() // eager: materializes AND truncates lineage
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    try {
      var round = 0
      var exhausted = false
      while (round < k && !exhausted) {
        // single-symbol words have no pairs — and MUST be excluded
        // before the explode: sequence(0, size-2) on size=1 is the
        // DESCENDING [0,-1], whose element_at(syms, i+2) throws
        val top = words
          .filter(size(col("syms")) >= 2)
          .select(col("wc"), explode(
            transform(sequence(lit(0), size(col("syms")) - 2),
              i => struct(element_at(col("syms"), i + 1).as("l"),
                element_at(col("syms"), i + 2).as("r"))))
            .as("p"))
          .groupBy(col("p.l"), col("p.r")).agg(sum(col("wc")).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((round, l, r, cnt))
          val applyMerge = udf((syms: Seq[String]) => {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
                out += (l + r); i += 2
              } else { out += syms(i); i += 1 }
            }
            out.toArray
          })
          val next = words.select(applyMerge(col("syms")).as("syms"), col("wc"))
            .localCheckpoint() // eager; truncates the per-round UDF lineage
          CacheScope.releaseCheckpoint(words)
          words = next
          round += 1
        }
      }
    } finally CacheScope.releaseCheckpoint(words)
    merges.toList
  }

  /** Greedy left-to-right application of one merge to a symbol array —
    * the exact scan [[trainMerges]] uses (merge, skip 2; else skip 1),
    * so `a a a a a a` under merge (a,a) becomes `aa aa aa`, never
    * `aa a aa a`. */
  private def applyOne(syms: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Tokenize with `k` trained merges and emit per-document token
    * counts — the "apply the tokenizer" half of BPE, paired with
    * [[trainMerges]]. Returns (id, n_words, n_tokens).
    *
    * Scale shape: the merge table is k rows of driver-held model
    * metadata (like the IVF centroids); tokenization runs ONCE per
    * DISTINCT word (map-only over the distinct-word relation, merges
    * captured in the closure) and fans back to documents through a
    * join on the word — shuffles bounded by distinct-word cardinality
    * and the corpus word relation, never by re-tokenizing duplicate
    * words. */
  /** Per-document token-ID rows under the `k`-merge model — the bridge
    * from [[encode]]'s counts to what a training pipeline actually
    * materializes: (id, wpos, spos, tid) where `tid` is the subword's
    * vocabulary id and (wpos, spos) orders tokens within the document
    * (1-based word position, 1-based subword position). One EOS row
    * (tid = 0, wpos = Int.MaxValue) per document marks its boundary
    * for the packer.
    *
    * Vocabulary ids are 1-based ranks of the distinct subword symbols
    * in code-point (= UTF-8 byte) order — deterministic and
    * replayable in SQL. The id-assignment window is global but runs
    * over the SYMBOL relation, bounded by |alphabet| + k merges
    * (model metadata, like the merge table itself); tokenization runs
    * once per DISTINCT word and fans back through the word join, the
    * [[encode]] scale shape. */
  def encodeIds(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    encodeIdsWithVocab(df, idCol, textCol, k)._1

  /** [[encodeIds]] plus the matching vocabulary — ONE training run and
    * one persisted distinct-word tokenization serve both relations
    * (calling [[encodeIds]] and [[vocabIds]] separately trains the
    * model twice, and without the shared persist every consuming
    * subtree re-applies the merges over all distinct words: measured
    * 6.1 s → ~3.1 s on the round-trip query at sf0.1).
    *
    * CACHE CONTRACT: both returned relations stay LAZY over the
    * persisted distinct-word relation, so it cannot be unpersisted
    * here. Wrap the call and its materialization in
    * [[CacheScope.withScope]] to release it on exit (the loan
    * pattern); outside a scope the cache lives for the session —
    * `spark.catalog.clearCache()` between corpora (Bench/Verify do
    * both). A long-lived service should persist [[wordIdRelation]] to
    * storage once and encode with [[encodeIdsAgainst]]. Same contract
    * as [[Packing.packSequences]]. */
  def encodeIdsWithVocab(df: DataFrame, idCol: String, textCol: String,
                         k: Int): (DataFrame, DataFrame) = {
    val (wids, vocab) = wordIdRelationWithVocab(df, textCol, k)
    (encodeIdsAgainst(df, idCol, textCol, wids), vocab)
  }

  /** The FROZEN model's word → subword-id relation (w, spos, tid):
    * train once, then tokenize any stream of text against it with
    * [[encodeIdsAgainst]] — the train-once / encode-forever split a
    * production pipeline runs (the tokenizer is fit before the corpus
    * streams through it). ≤ |distinct words| rows; persist it for
    * reuse across micro-batches. */
  def wordIdRelation(df: DataFrame, textCol: String, k: Int): DataFrame =
    wordIdRelationWithVocab(df, textCol, k)._1

  private def wordIdRelationWithVocab(df: DataFrame, textCol: String,
                                      k: Int): (DataFrame, DataFrame) = {
    // ONE wordCounts pass serves merge training AND the distinct-word
    // relation (they were two separate corpus scans: trainMerges
    // aggregated (w, wc) and distinctWordSyms re-scanned for an
    // explode+distinct of the same words)
    val wc = CacheScope.register(wordCounts(df, textCol).persist())
    wordIdRelationWithVocabOn(wc, k)
  }

  /** The frozen (w, spos, tid) relation + vocabulary trained over an
    * already-computed (w, wc) word-count relation — callers composing
    * several tokenizer families over one corpus (the fertility query)
    * share ONE word-count pass across all of them. Same CACHE CONTRACT
    * as [[encodeIdsWithVocab]]; caller manages `wc`'s persistence. */
  def wordIdRelationOn(wc: DataFrame, k: Int): DataFrame =
    wordIdRelationWithVocabOn(wc, k)._1

  private def wordIdRelationWithVocabOn(wc: DataFrame,
                                        k: Int): (DataFrame, DataFrame) = {
    // dw (distinct words + merged symbol arrays — the expensive
    // apply-merges pass) feeds BOTH the subword rows and the
    // vocabulary, and the vocabulary is re-read again by any decoder
    // downstream; without a persist each subtree re-applies the merges
    // over every distinct word. The relation is small (distinct words,
    // not token rows) and Bench/Verify clear the cache between queries.
    val dw = CacheScope.register(distinctWordSymsOn(wc, k).persist())
    val vocab = vocabOf(dw)
    val wids = dw
      .select(col("w"), posexplode(col("__sy")).as(Seq("__sp0", "sym")))
      .join(vocab, "sym")
      .select(col("w"), (col("__sp0") + 1).as("spos"), col("tid"))
    (wids, vocab)
  }

  /** Freeze an IMPORTED BPE artifact — the (left, right) merge list in
    * rank order plus the exported (sym, tid) vocabulary — against
    * `df`'s distinct words: the re-import path of the
    * [[TokenizerExport]] round trip. Words producing a symbol outside
    * the imported vocabulary drop whole (the closed-vocabulary OOV
    * rule of [[encodeIdsAgainst]]). Same CACHE CONTRACT as
    * [[encodeIdsWithVocab]]. */
  def wordIdRelationFrom(df: DataFrame, textCol: String,
                         merges: Seq[(String, String)],
                         vocab: Seq[(String, Long)]): DataFrame = {
    val tidOf = vocab.toMap
    val segUdf = udf { (w: String) =>
      var syms: Array[String] = codePoints(w)
      merges.foreach { case (l, r) => syms = applyOne(syms, l, r) }
      val ids = syms.map(s => tidOf.getOrElse(s, -1L))
      if (ids.contains(-1L)) Array.empty[Long] else ids
    }
    CacheScope.register(wordCounts(df, textCol).persist())
      .select(col("w"), posexplode(segUdf(col("w"))).as(Seq("__sp0", "tid")))
      .select(col("w"), (col("__sp0") + 1).as("spos"), col("tid"))
  }

  /** Tokenize `df` against a precomputed [[wordIdRelation]] — the
    * frozen-model form of [[encodeIds]]: no training, one word join.
    * CLOSED vocabulary: words absent from the relation contribute no
    * token rows (the deterministic analogue of an OOV drop; a stream
    * drawn from the training corpus has none). EOS boundary rows
    * (tid 0) are appended per document, as in [[encodeIds]]. */
  def encodeIdsAgainst(df: DataFrame, idCol: String, textCol: String,
                       wids: DataFrame): DataFrame = {
    val words = df
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), " ")).as(Seq("__wp0", "w")))
      .filter(col("w") =!= "")
      .select(col("__id"), (col("__wp0") + 1).as("wpos"), col("w"))
    words.join(wids, "w")
      .select(col("__id").as(idCol), col("wpos"), col("spos"), col("tid"))
      .unionByName(df.select(col(idCol),
        lit(Int.MaxValue).as("wpos"), lit(0).as("spos"), lit(0L).as("tid")))
  }

  /** The `k`-merge vocabulary: (sym, tid), tid = 1-based rank in
    * code-point order (the [[encodeIds]] id assignment, exposed for
    * decoding). ≤ |alphabet| + k rows of model metadata. Prefer
    * [[encodeIdsWithVocab]] when the token relation is also needed —
    * this trains its own model run. */
  def vocabIds(df: DataFrame, textCol: String, k: Int): DataFrame =
    vocabOf(distinctWordSymsOn(wordCounts(df, textCol), k))

  /** Invert [[encodeIds]]: token-id rows → (idCol, text). Decoding is
    * two keyed aggregations — subwords concatenate within (doc, word),
    * words join with ' ' within doc — after a broadcast join against
    * the model-metadata vocabulary; EOS rows (tid 0) drop. By BPE's
    * construction (merges only ever concatenate adjacent symbols of
    * the SAME word) decode∘encode is the identity on single-space
    * text — the round-trip the q_tokenize_roundtrip gate pins. */
  def decodeIds(toks: DataFrame, vocab: DataFrame, idCol: String): DataFrame =
    toks.filter(col("tid") =!= 0L)
      .join(broadcast(vocab), "tid")
      .groupBy(col(idCol), col("wpos"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("spos"), col("sym")))),
        s => s.getField("sym")), "").as("__w"))
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("wpos"), col("__w")))),
        s => s.getField("__w")), " ").as("text"))

  /** Distinct words with their merged symbol arrays — tokenization runs
    * ONCE per distinct word (the [[encode]] scale shape). The distinct
    * words come straight off the (w, wc) relation (wordCounts already
    * aggregates to distinct words — no second corpus scan). */
  private def distinctWordSymsOn(wc: DataFrame, k: Int): DataFrame = {
    val merges: Seq[(String, String)] =
      trainMergesOn(wc, k).map { case (_, l, r, _) => (l, r) }
    val symsUdf = udf { (w: String) =>
      var syms: Array[String] = codePoints(w)
      merges.foreach { case (l, r) => syms = applyOne(syms, l, r) }
      syms
    }
    wc.select(col("w")).withColumn("__sy", symsUdf(col("w")))
  }

  /** Symbol ranks of a distinct-word relation. The single-partition
    * rank window is over the ≤ |alphabet| + k symbol relation — model
    * metadata, not corpus data. */
  private def vocabOf(dw: DataFrame): DataFrame =
    dw.select(explode(col("__sy")).as("sym")).distinct()
      .withColumn("tid",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("sym"))).cast("long"))

  def encode(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // one shared word-count pass: merge training AND the distinct-word
    // token counting both read it (they were two corpus scans). Same
    // cache contract as [[encodeIdsWithVocab]].
    val wc = CacheScope.register(wordCounts(df, textCol).persist())
    val merges: Seq[(String, String)] =
      trainMergesOn(wc, k).map { case (_, l, r, _) => (l, r) }
    val tokCount = udf { (w: String) =>
      var syms: Array[String] = codePoints(w)
      merges.foreach { case (l, r) => syms = applyOne(syms, l, r) }
      syms.length
    }
    val words = df.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
    val distinctToks = wc.select(col("w"))
      .withColumn("n_tok", tokCount(col("w")))
    val perDoc = words.join(distinctToks, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .na.fill(0, Seq("n_words", "n_tokens"))
  }
}
