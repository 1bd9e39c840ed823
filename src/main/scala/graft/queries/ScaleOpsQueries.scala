package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Multimodal, Similarity, TextStats}
import graft.queries.ExtHelpers._

/** Scale-technique family: as-of/range/salted/skew joins, chunking,
  * bloom screens, tf-idf, sampling/splits/mixtures, packing, ordering.
  *
  * Split out of ExtQueries (round 12) with zero behavior change; keys
  * and oracle text are unchanged. Shared planted fixtures and oracle
  * generators live in [[ExtHelpers]].
  */
object ScaleOpsQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- tf-idf term ranking (corpus indexing / relevance) ----------
    // Per-document top-3 terms by tf·idf. Shape: tf is the one big
    // shuffle (map-side combined on (doc, tok)); df is bounded by
    // vocabulary cardinality and BROADCAST back, as is the one-row
    // corpus count — document content never shuffles twice. Ranking
    // sorts on the ROUNDED score (then term) so the order never hinges
    // on a final-ulp disagreement between engines.
    "q_tfidf_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(broadcast(dfreq), "tok").crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log((col("n_docs") + lit(1)).cast("double") /
            (col("df") + lit(1)).cast("double")), 4))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("score"), col("rank"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ---- as-of join (point-in-time lookup) --------------------------
    // for each click, the user's most recent purchase at-or-before it
    // (inclusive); union-tag + running window — ONE shuffle, no range
    // explosion (see AsofJoin scaladoc). The oracle is DuckDB's native
    // ASOF JOIN — an independent implementation of the same semantics.
    "q_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("pts"), col("value"))
      graft.ext.AsofJoin.asofJoin(clicks, purchases, "user_id", "ts",
          payload = Seq("pts", "value"), outPrefix = "prior_")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("tus"),
          expr("prior_pts div 1000").as("prior_tus"),
          col("prior_value"))
        .orderBy(col("user_id"), col("tus"), col("event_id"))
    }),

    // NEAREST direction: each click attaches the purchase minimizing
    // |Δt| (tie → the earlier one) — still ONE shuffle: both carries
    // are windows over the same key partitioning (Exchange reused,
    // PlanShapeSpec keeps watch). Oracle: DuckDB LATERAL argmin.
    "q_asof_nearest" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("pts"), col("value"))
      graft.ext.AsofJoin.asofJoinNearest(clicks, purchases, "user_id", "ts",
          payload = Seq("pts", "value"), outPrefix = "near_")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("tus"),
          expr("near_pts div 1000").as("near_tus"),
          col("near_value"))
        .orderBy(col("user_id"), col("tus"), col("event_id"))
    }),

    // forward direction: each click attaches its NEXT purchase (the
    // attribution-window shape); oracle = DuckDB's native forward ASOF
    "q_asof_join_fwd" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("pts"), col("value"))
      graft.ext.AsofJoin.asofJoin(clicks, purchases, "user_id", "ts",
          payload = Seq("pts", "value"), outPrefix = "next_",
          direction = "forward")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("tus"),
          expr("next_pts div 1000").as("next_tus"),
          col("next_value"))
        .orderBy(col("user_id"), col("tus"), col("event_id"))
    }),

    // ---- skew-safe aggregation (oracle = the direct groupBy) --------
    "q_salted_agg" -> ((s, d) => {
      graft.ext.Skew.saltedAgg(Tables.events(s, d), "event_type",
          col("value").cast("decimal(18,2)"), saltBuckets = 16)
        // terminal decimal → double for engine-stable hashing (exact value)
        .withColumn("total", col("total").cast("double"))
        .orderBy(col("event_type"))
    }),

    // ---- skew-safe join (hot fact keys × small dim) -----------------
    // events has only 5 distinct event_types — every key is hot, the
    // adversarial case for a hash join. The salted form spreads each
    // key over 16 reducers and must reproduce the plain join exactly
    // (aggregated per dim attribute so the gate stays compact).
    "q_salted_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val dim = ev.select(col("event_type")).distinct()
        .withColumn("type_code", substring(md5(col("event_type")), 1, 8))
      graft.ext.Skew.saltedJoin(
          ev.select(col("event_type"), col("event_id"), col("value")),
          dim, "event_type", saltBuckets = 16)
        .groupBy(col("type_code"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy(col("type_code"))
    }),

    // ---- AQE-repaired skewed join (runtime split, no salt) ----------
    // The token→document-frequency join is naturally skewed: stopword
    // tokens own a large share of the corpus, so their shuffle
    // partitions dwarf the median. The query declares the PLAIN
    // sort-merge join (merge-hinted — a vocab table at 100 TB is past
    // broadcast size) and leaves the repair to AQE's OptimizeSkewedJoin
    // at runtime; ScaleTechniquesSpec executes the same operator under
    // skew-scaled thresholds and asserts the finalized plan splits the
    // hot partitions (skew=true). Result is AQE-invariant — the oracle
    // evaluates the join directly.
    "q_skew_aqe_join" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val df = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      graft.ext.Skew.aqeJoin(toks, df, "tok")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("df")).as("sum_df"))
        .orderBy(col("doc_id"))
    }),

    // Join-key skew DIAGNOSIS — the observability query you run before
    // choosing between broadcast, salting, and AQE skew-join: the
    // token-frequency histogram's head (top-10 hottest keys), each
    // key's share of all rows (floor-contract micro-units), and its
    // multiple of the mean key load. Aggregates bounded by vocabulary;
    // the head cut is TakeOrdered. The same relation drives
    // q_skew_aqe_join, so the report describes a real hot path.
    "q_skew_stats" -> ((s, d) => {
      val toks = graft.ext.TextStats
        .tokenRows(Tables.documents(s, d), "doc_id", "text").select(col("tok"))
      val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val tot = freq.agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_keys"))
      freq.crossJoin(broadcast(tot))
        .select(col("tok"), col("cnt"), col("n_keys"),
          (floor(col("cnt").cast("double") / col("total") * 1e6 + 0.5) / 1e6)
            .as("share"),
          (floor(col("cnt").cast("double") * col("n_keys") / col("total")
            * 1e2 + 0.5) / 1e2).as("x_mean"))
        .orderBy(col("cnt").desc, col("tok")).limit(10)
    }),

    // ---- bucketed range join (point-in-interval, equi-join plan) ----
    // clicks within 12 hours after each purchase, per user; the
    // bucket rewrite keeps the plan a hash join (RangeChunkBloomSpec
    // asserts no BroadcastNestedLoopJoin). Oracle = DuckDB's plain
    // inequality join — an independent evaluation of the predicate.
    "q_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // ts is long nanos (nanosAsLong) — convert to epoch micros
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), expr("ts div 1000").as("cus"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000").as("lo"),
          (expr("ts div 1000") + RangeJoinWindowUs).as("hi"),
          col("event_id").as("purchase_id"))
      graft.ext.RangeJoin.pointInInterval(clicks, purchases, Seq("user_id"),
          "cus", "lo", "hi", bucketWidth = RangeJoinWindowUs)
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_clicks"), min(col("cus")).as("first_click_us"))
        .orderBy(col("purchase_id"))
    }),

    // ---- sliding-window chunking (training-sequence windows) --------
    // 64-token windows, 16-token overlap; map-only — no shuffle at any
    // corpus size; rows carry (id, idx, count, md5), never the text
    "q_chunk_docs" -> ((s, d) =>
      graft.ext.Chunking.slidingChunks(Tables.documents(s, d), "doc_id", "text",
          chunkSize = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // ---- chunk → pack composition (sequence prep end to end) --------
    // sliding windows feed token-budget bins per source: the full
    // training-sequence materialization path, still without the chunk
    // text ever entering a shuffle (only (ids, counts) move; the
    // writer re-slices text from the co-partitioned source)
    "q_chunk_pack" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val chunks = graft.ext.Chunking.slidingChunks(docs, "doc_id", "text",
          chunkSize = 64, overlap = 16)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"), col("chunk_idx"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      chunks
        .withColumn("cum", sum(col("chunk_tokens").cast("long")).over(w))
        .withColumn("bin", expr("(cum - chunk_tokens) div 512"))
        .select(col("doc_id"), col("chunk_idx"), col("source"),
          col("chunk_tokens"), col("bin"))
        .orderBy(col("source"), col("doc_id"), col("chunk_idx"))
    }),

    // ---- tokenize → pack (the id-sequence materialization) ----------
    // the step q_chunk_pack approximates by counts, made real: the
    // 64-merge BPE model tokenizes each DISTINCT word once into
    // vocabulary ids (rank of subword in code-point order, EOS = 0),
    // documents concatenate in id order with one EOS boundary token
    // each, and global position p lands in sequence p div 512 — the
    // (doc_id, token_ids[]) → fixed-length-sequence pipeline a
    // training job consumes. The only order-carrying pass is the
    // per-doc-count prefix sum, run as a two-level scan
    // (Packing.packSequences): no global sort of token rows, no
    // single-partition pass over per-document data. The oracle
    // replays training, tokenization, vocabulary ranks, and packing
    // arithmetic end to end.
    "q_tokenize_pack" -> ((s, d) => {
      val toks = graft.ext.Bpe.encodeIds(Tables.documents(s, d),
        "doc_id", "text", 64)
      graft.ext.Packing.packSequences(toks, "doc_id", 512)
        .select(col("seq_id"), col("seq_len"), col("n_docs"),
          md5(col("ids")).as("ids_md5"))
        .orderBy(col("seq_id"))
    }),

    // ---- packed sequences + attention-mask doc indices ---------------
    // the q_tokenize_pack pipeline, additionally emitting per-slot
    // doc_idx (exclusive running EOS count within the sequence) so a
    // training consumer can mask cross-document attention in packed
    // sequences; the fold runs inside the per-sequence row — same
    // two-level scan, no new global pass
    "q_pack_attention" -> ((s, d) => {
      val toks = graft.ext.Bpe.encodeIds(Tables.documents(s, d),
        "doc_id", "text", 64)
      graft.ext.Packing.packSequencesWithDocIdx(toks, "doc_id", 512)
        .select(col("seq_id"), col("seq_len"), col("n_docs"),
          md5(col("ids")).as("ids_md5"),
          md5(col("doc_idx")).as("doc_idx_md5"))
        .orderBy(col("seq_id"))
    }),

    // ---- end-to-end pretraining pipeline ------------------------------
    // the engine's training-data story in ONE plan: Gopher structural
    // gate → exact dedup keep-first → drop benchmark-contaminated docs
    // (any shared 3-gram with the src0 benchmark, hashes broadcast) →
    // BPE tokenize with the model TRAINED ON THE SURVIVORS → pack into
    // fixed 512-token sequences. Every stage is individually
    // oracle-verified elsewhere; this pins the COMPOSITION — the oracle
    // replays all five stages, rebuilding the tokenizer from the
    // filtered corpus exactly like the engine. Scale shape: the gates
    // are map-only, dedup is one sha-256 shuffle, the contamination
    // screen moves 16-byte (id, gram-hash) rows against a broadcast
    // benchmark set, and tokenize+pack is the two-level-scan path —
    // document text crosses the wire once (the dedup shuffle)
    // the SAME composed funnel on the UNIGRAM family — gate → exact
    // dedup → decontaminate → unigram trained on the survivors → pack.
    // Funnel stages and the oracle's kept-CTE chain are shared
    // verbatim with q_pretrain_pipeline, so the two variants can only
    // differ in the tokenizer — the porting story in one query pair
    "q_pretrain_pipeline_unigram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("source") === "src0")
      val kept1 = docs.filter(col("source") =!= "src0")
        .filter(graft.ext.CurationFilters.structuralKeepCol(col("text")))
        .select(col("doc_id"), col("text"))
      val kept2 = graft.ext.Dedup.exactKeepFirst(kept1, "doc_id", "text")
        .select(col("doc_id"), col("text"))
      val contaminated = graft.ext.Dedup
        .hashedShingleRows(kept2, "doc_id", "text", 3)
        .join(broadcast(graft.ext.Dedup.hashedShingleSet(bench, "text", 3)
          .withColumnRenamed("g", "s")), Seq("s"), "left_semi")
        .select(col("id").as("doc_id")).distinct()
      val kept3 = kept2.join(contaminated, Seq("doc_id"), "left_anti")
      val (uwids, _) = graft.ext.Unigram.wordPieceRelation(kept3, "text")
      val toks = graft.ext.Bpe.encodeIdsAgainst(kept3, "doc_id", "text", uwids)
      graft.ext.Packing.packSequences(toks, "doc_id", 512)
        .select(col("seq_id"), col("seq_len"), col("n_docs"),
          md5(col("ids")).as("ids_md5"))
        .orderBy(col("seq_id"))
    }),

    "q_pretrain_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("source") === "src0")
      val kept1 = docs.filter(col("source") =!= "src0")
        .filter(graft.ext.CurationFilters.structuralKeepCol(col("text")))
        .select(col("doc_id"), col("text"))
      val kept2 = graft.ext.Dedup.exactKeepFirst(kept1, "doc_id", "text")
        .select(col("doc_id"), col("text"))
      val contaminated = graft.ext.Dedup
        .hashedShingleRows(kept2, "doc_id", "text", 3)
        .join(broadcast(graft.ext.Dedup.hashedShingleSet(bench, "text", 3)
          .withColumnRenamed("g", "s")), Seq("s"), "left_semi")
        .select(col("id").as("doc_id")).distinct()
      val kept3 = kept2.join(contaminated, Seq("doc_id"), "left_anti")
      val toks = graft.ext.Bpe.encodeIds(kept3, "doc_id", "text", 32)
      graft.ext.Packing.packSequences(toks, "doc_id", 512)
        .select(col("seq_id"), col("seq_len"), col("n_docs"),
          md5(col("ids")).as("ids_md5"))
        .orderBy(col("seq_id"))
    }),

    // ---- epoch-aware mixture materialization -------------------------
    // per-source fractional epochs (the published GPT-3/Pile recipe
    // shape): floor(e) full copies of every document plus one extra for
    // a deterministic frac(e) share, decided by the md5 selector on a
    // ':epoch'-suffixed key. Map-only fan-out — per-source (floor,
    // threshold) pairs are plan literals, no shuffle, sources weighted
    // 0 vanish; the oracle replays floors, thresholds, and the rep
    // explode verbatim
    "q_epoch_mix" -> ((s, d) => {
      graft.ext.Sampling.epochMix(Tables.documents(s, d), "doc_id",
          "source", Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0),
          defaultEpochs = 1.0)
        .select(col("doc_id"), col("source"), col("rep"))
        .orderBy(col("doc_id"), col("rep"))
    }),

    // ---- temperature-flattened source mixing (α = 1/2) ----------------
    // the mBERT/XLM-R exponentiated-sampling knob, downsample-only:
    // keep-rate sqrt(n_min/n_s) per source, so the smallest source
    // keeps all and larger ones flatten. α fixed at 1/2 because
    // division and sqrt are IEEE correctly-rounded — the data-derived
    // rates are BIT-EXACT across engines with no rounding contract;
    // the oracle recomputes counts, rates, and the threshold grid
    // the generator's sources are uniform (rate 1.0 everywhere), which
    // would leave the threshold grid untested — derive a skewed class
    // instead (1/2/7 split by id), so the rates are the non-trivial
    // doubles sqrt(1/2) and sqrt(1/7) and a wrong grid flips rows
    "q_temperature_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 10 === 0, "rare")
          .when(col("doc_id") % 10 <= 2, "mid")
          .otherwise("bulk").as("source"))
      graft.ext.Sampling.temperatureDownsample(docs, "doc_id", "source")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- length-bucketed batching -------------------------------------
    // rank documents by (n_chars DESC, doc_id), cut into consecutive
    // batches of 64, and account the padding each batch pays (docs pad
    // to the BATCH max — the standard padded-batch efficiency move).
    // The global rank runs as the two-level scan over (id, len) rows
    // (Packing.lengthBuckets), never a global single-partition window
    "q_length_buckets" -> ((s, d) => {
      graft.ext.Packing.lengthBuckets(Tables.documents(s, d),
          "doc_id", "n_chars", 64)
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("len")).as("max_len"),
          sum(col("len")).as("sum_len"))
        .select(col("batch_id"), col("n_docs"), col("max_len"),
          (col("n_docs") * col("max_len") - col("sum_len")).as("padding"))
        .orderBy(col("batch_id"))
    }),

    // ---- tokenizer round trip (decode inverts encode) ----------------
    // decodeIds re-assembles text from the token-id relation via the
    // model-metadata vocabulary (broadcast join + two keyed
    // aggregations); BPE merges never cross word boundaries, so
    // decode∘encode must be the IDENTITY on single-space text — the
    // oracle pins decoded == original per document, which only a
    // correct encoder AND decoder can satisfy
    "q_tokenize_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (toks, vocab) = graft.ext.Bpe.encodeIdsWithVocab(
        docs, "doc_id", "text", 64)
      val decoded = graft.ext.Bpe.decodeIds(toks, vocab, "doc_id")
        .withColumnRenamed("text", "__dec")
      docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("__orig"))
        .join(decoded, Seq("doc_id"), "left")
        .select(col("doc_id"),
          md5(col("__orig")).as("orig_md5"),
          md5(coalesce(col("__dec"), lit(""))).as("decoded_md5"),
          (coalesce(col("__dec"), lit("")) === col("__orig")).as("roundtrip_ok"))
        .orderBy(col("doc_id"))
    }),

    // ---- unigram-LM tokenizer (the SentencePiece family, hard-EM) ---
    // the second tokenizer family beside BPE: seed vocabulary (singles
    // + top-K substrings), two hard-EM rounds (distributed Viterbi
    // E-step against the broadcast score table, |vocab|-bounded
    // M-step), then the frozen model encodes through the SAME
    // (w, spos, tid) relation the BPE/packing machinery consumes. The
    // oracle replays seed, BOTH EM rounds and the final encode with
    // the unrolled integer-score lattice — a drifted tie-break, score
    // rounding, or EM count shifts every document's id stream.
    "q_unigram_tokenize" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (wids, _) = graft.ext.Unigram.wordPieceRelation(docs, "text")
      tokenIdSummary(
        graft.ext.Bpe.encodeIdsAgainst(docs, "doc_id", "text", wids))
    }),

    // tokenizer EVALUATION — the fertility/compression table a pipeline
    // builds before committing to a tokenizer: per source, word count
    // and token count under all THREE families (BPE k=32, the unigram
    // model, and WordPiece), fertility = tokens/word through the floor
    // contract. The oracle replays the three trainings in independent
    // nested-CTE derived tables (names would clash in one WITH chain)
    "q_tokenizer_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val src = docs.select(col("doc_id"), col("source"))
      // ONE word-count pass shared by all three tokenizer trainings
      // (each family's train previously aggregated its own — three
      // identical corpus passes)
      val wc = graft.ext.CacheScope.register(
        graft.ext.Bpe.wordCounts(docs, "text").persist())
      // A doc's token count under family f is Σ over its word
      // OCCURRENCES of n_f(word) — the family's subword count per
      // distinct word (the EOS rows the old per-family encode appended
      // were filtered back out anyway). So fold the three families'
      // counts into ONE distinct-word relation and join the corpus
      // words ONCE, instead of three encodeIdsAgainst corpus joins
      // (guide §1.2-1/§3: the corpus-sized side was exploded and
      // shuffled three times for per-word info that fits in one small
      // broadcastable relation). Integer sums are grouping-order-free,
      // so the result is hash-identical (oracle re-pinned).
      def wn(wids: DataFrame, out: String) =
        wids.groupBy(col("w")).agg(count(lit(1)).as(out))
      val (uwids, _) = graft.ext.Unigram.wordPieceRelationOn(wc)
      val (wwids, _) = graft.ext.WordPiece.wordPieceRelationOn(wc)
      val famN = wn(graft.ext.Bpe.wordIdRelationOn(wc, 32), "bpe_n")
        .join(wn(uwids, "uni_n"), Seq("w"), "full")
        .join(wn(wwids, "wp_n"), Seq("w"), "full")
      val corpusWords = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val toks = corpusWords.join(famN, "w")
        .groupBy(col("doc_id"))
        .agg(sum(coalesce(col("bpe_n"), lit(0L))).as("bpe_toks"),
          sum(coalesce(col("uni_n"), lit(0L))).as("uni_toks"),
          sum(coalesce(col("wp_n"), lit(0L))).as("wp_toks"))
      val words = docs.select(col("doc_id"),
        size(filter(split(coalesce(col("text"), lit("")), " "),
          t => t =!= "")).cast("long").as("n_words"))
      def fert(t: org.apache.spark.sql.Column,
               w: org.apache.spark.sql.Column) =
        when(w > 0, floor(t.cast("double") / w.cast("double") * 1e4 + 0.5) / 1e4)
      src.join(words, "doc_id")
        .join(toks, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(sum(col("n_words")).as("n_words"),
          coalesce(sum(col("bpe_toks")), lit(0L)).as("bpe_tokens"),
          coalesce(sum(col("uni_toks")), lit(0L)).as("uni_tokens"),
          coalesce(sum(col("wp_toks")), lit(0L)).as("wp_tokens"))
        .select(col("source"), col("n_words"), col("bpe_tokens"),
          col("uni_tokens"), col("wp_tokens"),
          fert(col("bpe_tokens"), col("n_words")).as("bpe_fertility"),
          fert(col("uni_tokens"), col("n_words")).as("uni_fertility"),
          fert(col("wp_tokens"), col("n_words")).as("wp_fertility"))
        .orderBy(col("source"))
    }),

    // the PERSISTED tokenizer artifact: train-once to a corpus-
    // signature-keyed model store (the Bm25/IVF build-once store
    // discipline), then encode from the LOADED model — the output must
    // hash-equal q_unigram_tokenize's in-memory training, which only a
    // lossless persist/load round trip can produce
    "q_unigram_store" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.ext.Unigram.modelFor(docs, d)
      val (wids, _) = graft.ext.Unigram.wordPieceRelationFrom(
        s, dir, docs, "text")
      tokenIdSummary(
        graft.ext.Bpe.encodeIdsAgainst(docs, "doc_id", "text", wids))
    }),

    // the SentencePiece vocab_size knob: the same training capped at 48
    // pieces — singles always survive (coverage), multis keep the top
    // slots by (count DESC, piece ASC), and the FINAL encode re-routes
    // words whose best pieces were cut through surviving ones. The
    // oracle replays the cut inside the same unrolled chain; a wrong
    // cut order or a pruned-score drift shifts every id stream
    "q_unigram_vocab_cap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (wids, _) = graft.ext.Unigram.wordPieceRelation(docs, "text",
        vocabSize = 48)
      tokenIdSummary(
        graft.ext.Bpe.encodeIdsAgainst(docs, "doc_id", "text", wids))
    }),

    // the unigram token stream through the UNCHANGED GPT-packer — the
    // (w, spos, tid) relation shape makes packing tokenizer-family
    // agnostic, and the oracle replays training + the pack arithmetic
    "q_unigram_pack" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (wids, _) = graft.ext.Unigram.wordPieceRelation(docs, "text")
      val toks = graft.ext.Bpe.encodeIdsAgainst(docs, "doc_id", "text", wids)
      graft.ext.Packing.packSequences(toks, "doc_id", 512)
        .select(col("seq_id"), col("seq_len"), col("n_docs"),
          md5(col("ids")).as("ids_md5"))
        .orderBy(col("seq_id"))
    }),

    // decode∘encode must be the identity on single-space text — same
    // gate as q_tokenize_roundtrip, but the ORACLE here reconstructs
    // the text THROUGH the token ids and the vocabulary (tid → piece →
    // word → text), so a wrong id assignment or a lossy segmentation
    // fails the hash even where the boolean would still be true
    "q_unigram_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (wids, vocab) = graft.ext.Unigram.wordPieceRelation(docs, "text")
      val toks = graft.ext.Bpe.encodeIdsAgainst(docs, "doc_id", "text", wids)
      val decoded = graft.ext.Bpe.decodeIds(toks, vocab, "doc_id")
        .withColumnRenamed("text", "__dec")
      docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("__orig"))
        .join(decoded, Seq("doc_id"), "left")
        .select(col("doc_id"),
          md5(col("__orig")).as("orig_md5"),
          md5(coalesce(col("__dec"), lit(""))).as("decoded_md5"),
          (coalesce(col("__dec"), lit("")) === col("__orig")).as("roundtrip_ok"))
        .orderBy(col("doc_id"))
    }),

    // ---- WordPiece tokenizer (greedy longest-match, the BERT family)
    // the third tokenizer family: frequency-selected vocabulary
    // (singles in both roles + top-K multis under a total order), then
    // the greedy longest-match-first walk with continuation pieces.
    // The oracle replays the vocabulary cut and the UNROLLED greedy
    // chain — a drifted cut order, a wrong role at a position, or a
    // shorter-than-longest match shifts every document's id stream
    "q_wordpiece_tokenize" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (wids, _) = graft.ext.WordPiece.wordPieceRelation(docs, "text")
      tokenIdSummary(
        graft.ext.Bpe.encodeIdsAgainst(docs, "doc_id", "text", wids))
    }),

    // decode∘encode identity through the ids and the RAW-SURFACE
    // vocabulary — the (surface, cont) model makes decode a plain
    // concatenation (no ##-stripping), which the oracle replays
    "q_wordpiece_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (wids, vocab) = graft.ext.WordPiece.wordPieceRelation(docs, "text")
      val toks = graft.ext.Bpe.encodeIdsAgainst(docs, "doc_id", "text", wids)
      val decoded = graft.ext.Bpe.decodeIds(toks, vocab, "doc_id")
        .withColumnRenamed("text", "__dec")
      docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("__orig"))
        .join(decoded, Seq("doc_id"), "left")
        .select(col("doc_id"),
          md5(col("__orig")).as("orig_md5"),
          md5(coalesce(col("__dec"), lit(""))).as("decoded_md5"),
          (coalesce(col("__dec"), lit("")) === col("__orig")).as("roundtrip_ok"))
        .orderBy(col("doc_id"))
    }),

    // the WordPiece id stream through the UNCHANGED GPT-packer —
    // third proof that packing is tokenizer-family agnostic
    "q_wordpiece_pack" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (wids, _) = graft.ext.WordPiece.wordPieceRelation(docs, "text")
      val toks = graft.ext.Bpe.encodeIdsAgainst(docs, "doc_id", "text", wids)
      graft.ext.Packing.packSequences(toks, "doc_id", 512)
        .select(col("seq_id"), col("seq_len"), col("n_docs"),
          md5(col("ids")).as("ids_md5"))
        .orderBy(col("seq_id"))
    }),

    // the BERT vocab_size knob on the WordPiece family: the same
    // training capped at 100 total pieces — singles always survive
    // (coverage), multis keep the top vocabSize−|singles| slots of the
    // same total order, and the greedy walk re-routes words whose best
    // pieces were cut through the survivors. The oracle replays the
    // cut in-chain; a wrong singles count or cut order shifts every
    // document's id stream
    "q_wordpiece_vocab_cap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (wids, _) = graft.ext.WordPiece.wordPieceRelation(docs, "text",
        vocabSize = 100)
      tokenIdSummary(
        graft.ext.Bpe.encodeIdsAgainst(docs, "doc_id", "text", wids))
    }),

    // the PERSISTED WordPiece artifact — train-once to the corpus-
    // signature-keyed model store, encode from the LOADED model; must
    // hash-equal q_wordpiece_tokenize's in-memory training, which only
    // a lossless persist/load round trip can produce (the
    // q_unigram_store gate on the third family)
    "q_wordpiece_store" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.ext.WordPiece.modelFor(docs, d)
      val (wids, _) = graft.ext.WordPiece.wordPieceRelationFrom(
        s, dir, docs, "text")
      tokenIdSummary(
        graft.ext.Bpe.encodeIdsAgainst(docs, "doc_id", "text", wids))
    }),

    // the tokenizer-artifact INTERCHANGE end-to-end: train WordPiece
    // in-memory, export the published vocab.txt, re-import it, freeze
    // the imported model against the corpus, and pack the id stream —
    // the exact artifact hand-off a real training job does (tokenizer
    // trained here, consumed elsewhere). The in-query require pins
    // import ≡ tidOrdered(trained); the packed output must hash-equal
    // q_wordpiece_pack's oracle, which only a LOSSLESS export → import
    // → freeze chain can produce (a dropped piece, a reordered tid, or
    // a corrupted line shifts every sequence's md5).
    "q_tokenizer_interchange" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // ONE word-count pass shared by the train and freeze halves of
      // the round trip (each previously derived its own — a redundant
      // corpus aggregation)
      val words = graft.ext.CacheScope.register(
        graft.ext.Bpe.wordCounts(docs, "text").persist())
      val model = graft.ext.WordPiece.trainModelOn(words)
      val dir = java.nio.file.Files.createTempDirectory(
        s"graft_interchange_${Math.abs(d.hashCode)}_").toString
      graft.ext.TokenizerExport.exportWordPiece(s, dir, model)
      val imported = graft.ext.TokenizerExport.importWordPiece(s, dir)
      require(imported == graft.ext.WordPiece.tidOrdered(model),
        "re-imported vocab.txt must equal the trained model in tid order")
      val (wids, _) = graft.ext.WordPiece.freezeModelOn(imported, words)
      val toks = graft.ext.Bpe.encodeIdsAgainst(docs, "doc_id", "text", wids)
      graft.ext.Packing.packSequences(toks, "doc_id", 512)
        .select(col("seq_id"), col("seq_len"), col("n_docs"),
          md5(col("ids")).as("ids_md5"))
        .orderBy(col("seq_id"))
    }),

    // ---- bloom membership screen (cross-corpus overlap) -------------
    // member set = texts of every 7th doc; candidates = the whole
    // corpus. The sketch's error is one-sided: the oracle pins exact
    // membership per row plus the no-false-negative invariant — a
    // missed member flips a boolean and fails the gate. (The exact fp
    // join here exists to CHECK the contract; production screens only
    // exact-join the survivors.)
    "q_bloom_screen" -> ((s, d) => {
      val docs = Tables.documents(s, d).withColumn("fp", xxhash64(col("text")))
      val members = docs.filter(col("doc_id") % 7 === 0).select(col("fp")).distinct()
      graft.ext.Bloom.screenByLongKey(docs, members, "fp") // sized from members.count()
        .join(members.withColumn("__m", lit(true)), Seq("fp"), "left")
        .select(col("doc_id"), col("__m").isNotNull.as("is_member"),
          (col("bloom_hit") || col("__m").isNull).as("no_false_negative"))
        .orderBy(col("doc_id"))
    }),

    // ---- deterministic sampling (reproducible across engines) -------
    // per-stratum keep-rates, map-only filter — no shuffle at any scale
    "q_sample_stratified" -> ((s, d) => {
      graft.ext.Sampling.stratifiedSample(Tables.documents(s, d),
          "doc_id", "source", SampleRates, defaultRate = 0.125)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),
    // exactly-k-per-stratum via smallest-hash rank, with the 0.5
    // over-sampling pre-filter that makes the shape scale (see
    // Sampling scaladoc); the oracle applies the identical pre-filter
    "q_sample_per_source" -> ((s, d) => {
      graft.ext.Sampling.topKPerStratum(Tables.documents(s, d),
          "doc_id", "source", k = 5, prefilterRate = 0.5)
        .select(col("doc_id"), col("source"), col("rank"))
        .orderBy(col("source"), col("rank"))
    }),

    // deterministic train/val/test assignment: disjoint md5-selector
    // ranges (80/10/10) — every engine, run, and partitioning assigns
    // each document to the same split; map-only, no shuffle, and
    // adding documents never reassigns existing ones
    "q_split_assign" -> ((s, d) => {
      val sel = graft.ext.Sampling.selector(col("doc_id"))
      Tables.documents(s, d).select(col("doc_id"),
          when(sel < lit(graft.ext.Sampling.thresholdHex(0.8)), "train")
            .when(sel < lit(graft.ext.Sampling.thresholdHex(0.9)), "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    }),

    // data-mixture sampling: per-source keep-rates computed IN-PLAN so
    // every source contributes equal expected tokens, then the same
    // map-only hash-threshold filter; rates broadcast back — the
    // corpus never shuffles
    "q_mix_sources" -> ((s, d) => {
      graft.ext.Sampling.tokenBalancedSample(Tables.documents(s, d),
          "doc_id", "source", "text")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // temperature-weighted mixture PLAN (α = 0.5): the per-source
    // weights/rates a multilingual pipeline samples by — √n mass
    // reweighting inside a quarter-token budget, small sources keep
    // proportionally more of themselves. The whole plan is
    // integer/decimal/sqrt algebra under the floor-rounding
    // discipline, so it is hash-exact cross-engine (α is fixed at 0.5
    // because sqrt is correctly-rounded IEEE and pow is not).
    "q_source_mixture" -> ((s, d) => {
      graft.ext.Sampling.temperatureMixture(Tables.documents(s, d),
          "source", "text", budgetDen = 4)
        .orderBy(col("source"))
    }),
    // deterministic training-order shuffle: every doc gets a
    // reproducible pseudorandom (shard, pos) address; one bounded
    // window per shard, content never enters the sort
    "q_shuffle_order" -> ((s, d) => {
      graft.ext.Sampling.shuffleOrder(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }),
    // sequence packing: per-source token-budget bins via a running-sum
    // window — strata pack independently (no global order), content
    // never enters the window
    "q_pack_sequences" -> ((s, d) => {
      graft.ext.Packing.packByStratum(Tables.documents(s, d),
          "doc_id", "source", "text", budget = 500)
        .orderBy(col("source"), col("doc_id"))
    }),

    // Content-defined chunking (LBFS '01 / FastCDC): boundaries where
    // the 8-byte window's polynomial hash satisfies h % 64 == 0, so an
    // edit reshapes only the chunk it lands in and every later chunk
    // keeps its md5 identity — the property chunk-level dedup needs to
    // survive drift, which fixed windows (q_chunk_docs) cannot give.
    // One codegen'd boundary pass + column algebra; narrow, no shuffle.
    // The oracle replays every window hash in SQL (exact small-field
    // integer math, products ≤ 2^41 — no overflow on either engine).
    "q_chunk_cdc" -> ((s, d) =>
      graft.ext.Chunking.cdcChunks(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Curriculum ordering (easy→hard training schedule): stage from
    // ABSOLUTE quality-score deciles (map-only — no global sort or
    // ntile, which would funnel the corpus through one partition at
    // scale), deterministic md5 order within each stage (one
    // stage-partitioned window, the shuffleOrder shape). Stage and
    // position are reproducible under corpus growth: adding documents
    // never moves an existing doc's stage, only its neighbors' pos.
    "q_curriculum_order" -> ((s, d) => {
      val stage = floor(TextStats.qualityCol(col("text")) * 10).cast("int")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("stage"))
        .orderBy(col("__sel"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), stage.as("stage"),
          graft.ext.Sampling.selector(col("doc_id")).as("__sel"))
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("stage"), col("pos"))
        .orderBy(col("stage"), col("pos"))
    }),

    // ---- sentence segmentation (rule-pinned UAX #29-informed) -------
    // The corpus carries no punctuation, so terminals AND every
    // suppression case (abbreviation, initial, enumeration, closer)
    // are PLANTED at deterministic token positions — each rule branch
    // of graft.ext.Sentences is exercised and its non-split cases
    // proven. One codegen'd boundary pass, map-only.
    "q_sentence_split" -> ((s, d) =>
      graft.ext.Chunking.sentences(
          Tables.documents(s, d)
            .select(col("doc_id"), sentencePlantedCol.as("text")),
          "doc_id", "text")
        .orderBy(col("doc_id"), col("sent_idx"))),

    // ---- sentence-boundary chunking ----------------------------------
    // Greedy ≤24-token packing of consecutive sentences: chunks never
    // cut mid-sentence (the property sliding/CDC windows can't give);
    // the greedy fold runs inside the row — no shuffle.
    "q_chunk_sentences" -> ((s, d) =>
      graft.ext.Chunking.sentenceChunks(
          Tables.documents(s, d)
            .select(col("doc_id"), sentencePlantedCol.as("text")),
          "doc_id", "text", maxTokens = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))),
  )

  /** Planted punctuation for the sentence queries: rewrite the token at
    * 1-based position i (first matching branch wins — the oracle
    * replays the same CASE order). Terminals land every ~4-7 tokens;
    * the Dr./J./42. branches plant the three '.'-suppression rules. */
  private[queries] def sentencePlantedCol: org.apache.spark.sql.Column =
    array_join(transform(split(coalesce(col("text"), lit("")), " "),
      (w, i0) => {
        val i = i0 + 1
        when(i % 17 === 2, "Dr.")
          .when(i % 19 === 4, "J.")
          .when(i % 23 === 6, "42.")
          .when(i % 29 === 9, concat(w, lit(".\"")))
          .when(i % 7 === 3, concat(w, lit(".")))
          .when(i % 11 === 5, concat(w, lit("!")))
          .when(i % 13 === 8, concat(w, lit("?")))
          .otherwise(w)
      }), " ")

  /** DuckDB mirror of [[sentencePlantedCol]]. */
  private def sentencePlantedSql: String =
    """array_to_string(list_transform(string_split(coalesce(text, ''), ' '),
      |  (w, i) -> CASE WHEN i % 17 = 2 THEN 'Dr.'
      |                 WHEN i % 19 = 4 THEN 'J.'
      |                 WHEN i % 23 = 6 THEN '42.'
      |                 WHEN i % 29 = 9 THEN w || '."'
      |                 WHEN i % 7 = 3 THEN w || '.'
      |                 WHEN i % 11 = 5 THEN w || '!'
      |                 WHEN i % 13 = 8 THEN w || '?'
      |                 ELSE w END), ' ')""".stripMargin

  /** Shared CTE chain: planted text → tokens → per-token end flag
    * ([[graft.ext.Sentences.isEndSql]], the same literal rule table the
    * engine compiles) → sentence ids → sentence relation. */
  private def sentenceCtesSql: String =
    s"""p AS (SELECT doc_id, $sentencePlantedSql AS tx FROM documents),
       |t AS (SELECT doc_id, tx, string_split(tx, ' ') AS toks
       |      FROM p WHERE tx <> ''),
       |w AS (SELECT doc_id, CAST(u.i AS INT) AS pos, toks[u.i] AS tok
       |      FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
       |f AS (SELECT doc_id, pos, tok,
       |        ${graft.ext.Sentences.isEndSql("tok")} AS is_end
       |      FROM w),
       |g AS (SELECT doc_id, pos, tok,
       |        CAST(coalesce(sum(CASE WHEN is_end THEN 1 ELSE 0 END) OVER (
       |          PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
       |          AS sid
       |      FROM f),
       |sent AS (SELECT doc_id, sid, min(pos) AS p_first, max(pos) AS p_last,
       |          string_agg(tok, ' ' ORDER BY pos) AS sentence,
       |          CAST(count(*) AS INT) AS n_tok
       |         FROM g GROUP BY doc_id, sid)""".stripMargin

  /** Per-document token-stream summary shared by the unigram encode
    * queries (tokenize / vocab-cap / stored-model): (doc_id, n_tokens,
    * ids_md5) with tokens in (wpos, spos) order and the EOS row
    * excluded from the count but included in the hashed stream — ONE
    * definition, so the three variants cannot drift. */
  private def tokenIdSummary(toks: DataFrame): DataFrame =
    toks.groupBy(col("doc_id"))
      .agg((count(lit(1)) - 1).as("n_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(
            struct(col("wpos"), col("spos"), col("tid")))),
          t => t.getField("tid").cast("string")), " ")).as("ids_md5"))
      .orderBy(col("doc_id"))

  def oracleSql: Map[String, String] = Map(

    "q_sentence_split" ->
      s"""WITH $sentenceCtesSql
         |SELECT s.doc_id, s.sid AS sent_idx,
         |  CAST(CASE WHEN s.p_first = 1 THEN 0
         |       ELSE length(array_to_string(t.toks[1:s.p_first-1], ' ')) + 1
         |       END AS INT) AS start,
         |  CAST(CASE WHEN s.p_last = 1 THEN 0
         |       ELSE length(array_to_string(t.toks[1:s.p_last-1], ' ')) + 1
         |       END + length(t.toks[s.p_last]) AS INT) AS "end",
         |  s.n_tok, s.sentence
         |FROM sent s JOIN t USING (doc_id)
         |ORDER BY doc_id, sent_idx""".stripMargin,

    // greedy ≤24-token packing replayed sequentially per document (the
    // one inherently-sequential rule in the suite — a recursive CTE
    // walks sid 0,1,2,… carrying (chunk_idx, tokens-in-chunk))
    "q_chunk_sentences" ->
      s"""WITH RECURSIVE $sentenceCtesSql,
         |walk AS (
         |  SELECT doc_id, sid, sentence, n_tok, 0 AS chunk_idx, n_tok AS acc
         |  FROM sent WHERE sid = 0
         |  UNION ALL
         |  SELECT s.doc_id, s.sid, s.sentence, s.n_tok,
         |    CASE WHEN w2.acc + s.n_tok > 24 THEN w2.chunk_idx + 1
         |         ELSE w2.chunk_idx END,
         |    CASE WHEN w2.acc + s.n_tok > 24 THEN s.n_tok
         |         ELSE w2.acc + s.n_tok END
         |  FROM walk w2 JOIN sent s
         |    ON s.doc_id = w2.doc_id AND s.sid = w2.sid + 1)
         |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |  CAST(count(*) AS INT) AS n_sentences,
         |  CAST(sum(n_tok) AS INT) AS n_tok,
         |  md5(string_agg(sentence, ' ' ORDER BY sid)) AS chunk_md5
         |FROM walk GROUP BY doc_id, chunk_idx
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_tfidf_topk" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, tok, tf, df,
        |    round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS score
        |  FROM tf JOIN df USING (tok) CROSS JOIN n),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, tok) AS rank FROM scored)
        |SELECT doc_id, tok, tf, df, score, cast(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // DuckDB's native ASOF JOIN: an independent engine's implementation
    // of the same inclusive point-in-time semantics
    "q_asof_join" ->
      """SELECT e.user_id, e.event_id, epoch_ns(e.ts) // 1000 AS tus,
        |  epoch_ns(p.ts) // 1000 AS prior_tus, p.value AS prior_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.user_id, tus, e.event_id""".stripMargin,
    // nearest-|Δt| argmin per click via LATERAL; tie → earlier p.ts —
    // the same deterministic rule as the union-tag plan's db<=df pick
    "q_asof_nearest" ->
      """SELECT e.user_id, e.event_id, epoch_ns(e.ts) // 1000 AS tus,
        |  epoch_ns(p.pts) // 1000 AS near_tus, p.value AS near_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') e
        |LEFT JOIN LATERAL (
        |  SELECT r.ts AS pts, r.value
        |  FROM events r
        |  WHERE r.event_type = 'purchase' AND r.user_id = e.user_id
        |  ORDER BY abs(epoch_ns(r.ts) - epoch_ns(e.ts)), r.ts LIMIT 1) p ON true
        |ORDER BY e.user_id, tus, e.event_id""".stripMargin,
    "q_asof_join_fwd" ->
      """SELECT e.user_id, e.event_id, epoch_ns(e.ts) // 1000 AS tus,
        |  epoch_ns(p.ts) // 1000 AS next_tus, p.value AS next_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts <= p.ts
        |ORDER BY e.user_id, tus, e.event_id""".stripMargin,
    // the salted two-phase form must equal the direct aggregate
    "q_salted_agg" ->
      """SELECT event_type, cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the salted join must equal the plain join (aggregated compactly)
    "q_salted_join" ->
      """SELECT substring(md5(event_type), 1, 8) AS type_code, count(*) AS n,
        |  cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the AQE-left join must equal the direct evaluation (sum of each
    // token's document frequency per doc — integer-exact)
    "q_skew_aqe_join" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |tt AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
        |f AS (SELECT tok, count(*) AS df FROM tt GROUP BY 1)
        |SELECT doc_id, count(*) AS n_tok, CAST(sum(df) AS BIGINT) AS sum_df
        |FROM tt JOIN f USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_skew_stats" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |tt AS (SELECT tok FROM t WHERE tok <> ''),
        |f AS (SELECT tok, count(*) AS cnt FROM tt GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |          count(*) AS n_keys FROM f)
        |SELECT tok, cnt, n_keys,
        |  floor(CAST(cnt AS DOUBLE) / total * 1e6 + 0.5) / 1e6 AS share,
        |  floor(CAST(cnt AS DOUBLE) * n_keys / total * 1e2 + 0.5) / 1e2 AS x_mean
        |FROM f CROSS JOIN tot
        |ORDER BY cnt DESC, tok LIMIT 10""".stripMargin,
    // plain inequality join — DuckDB evaluates the range predicate
    // directly (no bucketing), an independent check of the rewrite
    "q_range_join" ->
      """SELECT p.event_id AS purchase_id, count(*) AS n_clicks,
        |  min(epoch_ns(c.ts) // 1000) AS first_click_us
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND epoch_ns(c.ts) // 1000
        |     BETWEEN epoch_ns(p.ts) // 1000
        |         AND epoch_ns(p.ts) // 1000 + 43200000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same window arithmetic (64-token chunks, stride 48), same
    // single-space tokenization as the Spark side
    "q_chunk_docs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |        unnest(range(0, CASE WHEN len(toks) <= 64 THEN 1
        |          ELSE CAST(ceil((len(toks) - 64)::DOUBLE / 48) AS BIGINT) + 1 END)) AS chunk_idx
        |      FROM t)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(len(toks[chunk_idx*48 + 1 : chunk_idx*48 + 64]) AS INT) AS chunk_tokens,
        |  md5(array_to_string(toks[chunk_idx*48 + 1 : chunk_idx*48 + 64], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // same windows, same running-sum binning, all integers
    "q_chunk_pack" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, source, toks,
        |        unnest(range(0, CASE WHEN len(toks) <= 64 THEN 1
        |          ELSE CAST(ceil((len(toks) - 64)::DOUBLE / 48) AS BIGINT) + 1 END)) AS chunk_idx
        |      FROM t),
        |ch AS (SELECT doc_id, source, CAST(chunk_idx AS INT) AS chunk_idx,
        |         CAST(len(toks[chunk_idx*48 + 1 : chunk_idx*48 + 64]) AS INT) AS chunk_tokens
        |       FROM c)
        |SELECT doc_id, chunk_idx, source, chunk_tokens,
        |  (CAST(sum(chunk_tokens) OVER w AS BIGINT) - chunk_tokens) // 512 AS bin
        |FROM ch
        |WINDOW w AS (PARTITION BY source ORDER BY doc_id, chunk_idx
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY source, doc_id, chunk_idx""".stripMargin,
    // 64 training rounds + tokenization + vocabulary ranks + packing
    // arithmetic, all replayed (generator shared with q_bpe_encode)
    "q_tokenize_pack" -> ExtHelpers.tokenizePackOracle(64, 512),
    "q_pack_attention" -> ExtHelpers.packAttentionOracle(64, 512),
    // five stages replayed composed; the tokenizer retrains on the
    // oracle's own filtered survivors (see ExtHelpers scaladoc)
    "q_pretrain_pipeline" -> ExtHelpers.pretrainPipelineOracle(32, 512),
    // the same kept-CTE funnel chain, unigram trained on the survivors
    "q_pretrain_pipeline_unigram" -> graft.ext.Unigram.packOracleSql(
      512, rel = "kept", pre = ExtHelpers.pretrainKeptCtes),
    // full unigram training + encode replay (seed → 2 hard-EM rounds →
    // frozen-model Viterbi), shared constants with ext.Unigram
    "q_unigram_tokenize" -> graft.ext.Unigram.tokenizeOracleSql(),
    // same chain with the 48-piece cap CTE before the final encode
    "q_unigram_vocab_cap" ->
      graft.ext.Unigram.tokenizeOracleSql(vocabSize = 48),
    // persist/load must be lossless: the stored-model encode replays
    // the same training oracle as q_unigram_tokenize
    "q_unigram_store" -> graft.ext.Unigram.tokenizeOracleSql(),
    // decode reconstructed THROUGH tid → piece lookups
    "q_unigram_roundtrip" -> graft.ext.Unigram.roundtripOracleSql(),

    "q_wordpiece_tokenize" -> graft.ext.WordPiece.tokenizeOracleSql(),
    "q_wordpiece_roundtrip" -> graft.ext.WordPiece.roundtripOracleSql(),
    "q_wordpiece_pack" -> graft.ext.WordPiece.packOracleSql(512),
    // export → import → freeze → pack must equal packing with the
    // in-memory model: q_wordpiece_pack's oracle verbatim
    "q_tokenizer_interchange" -> graft.ext.WordPiece.packOracleSql(512),
    // persist/load must be lossless: the stored-model encode replays
    // the same training oracle as q_wordpiece_tokenize
    "q_wordpiece_store" -> graft.ext.WordPiece.tokenizeOracleSql(),
    // the same chain with the 100-piece total cap in the multi cut
    "q_wordpiece_vocab_cap" ->
      graft.ext.WordPiece.tokenizeOracleSql(vocabSize = 100),
    // unigram ids through the shared pack arithmetic
    "q_unigram_pack" -> graft.ext.Unigram.packOracleSql(512),
    // the three tokenizer trainings replayed in independent nested
    // derived tables (their CTE names clash in one WITH chain);
    // fertility via the floor contract, NULL where a source has no
    // words
    "q_tokenizer_fertility" ->
      s"""WITH w AS (SELECT source, CAST(sum(nw) AS BIGINT) AS n_words
         |  FROM (SELECT source,
         |          len(list_filter(string_split(coalesce(text, ''), ' '),
         |              x -> x <> '')) AS nw
         |        FROM documents) q GROUP BY source)
         |SELECT w.source, w.n_words,
         |  coalesce(b.t, 0) AS bpe_tokens,
         |  coalesce(u.t, 0) AS uni_tokens,
         |  coalesce(p.t, 0) AS wp_tokens,
         |  CASE WHEN w.n_words > 0 THEN
         |    floor(CAST(coalesce(b.t, 0) AS DOUBLE)
         |      / CAST(w.n_words AS DOUBLE) * 1e4 + 0.5) / 1e4 END
         |    AS bpe_fertility,
         |  CASE WHEN w.n_words > 0 THEN
         |    floor(CAST(coalesce(u.t, 0) AS DOUBLE)
         |      / CAST(w.n_words AS DOUBLE) * 1e4 + 0.5) / 1e4 END
         |    AS uni_fertility,
         |  CASE WHEN w.n_words > 0 THEN
         |    floor(CAST(coalesce(p.t, 0) AS DOUBLE)
         |      / CAST(w.n_words AS DOUBLE) * 1e4 + 0.5) / 1e4 END
         |    AS wp_fertility
         |FROM w
         |LEFT JOIN (${ExtHelpers.bpeTokenCountBySourceSql(32)}) b USING (source)
         |LEFT JOIN (${graft.ext.Unigram.tokenCountBySourceSql()}) u USING (source)
         |LEFT JOIN (${graft.ext.WordPiece.tokenCountBySourceSql()}) p USING (source)
         |ORDER BY w.source""".stripMargin,
    // the identity analytic form: decode must reproduce the original
    // text byte-for-byte (both md5 columns equal the source text's)
    "q_tokenize_roundtrip" ->
      """SELECT doc_id,
        |  md5(coalesce(text, '')) AS orig_md5,
        |  md5(coalesce(text, '')) AS decoded_md5,
        |  true AS roundtrip_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    // exact membership is SQL; the sketch's one-sided-error invariant
    // is the boolean the engine must never flip
    "q_bloom_screen" ->
      """SELECT doc_id,
        |  text IN (SELECT text FROM documents WHERE doc_id % 7 = 0) AS is_member,
        |  true AS no_false_negative
        |FROM documents ORDER BY doc_id""".stripMargin,
    // deterministic sampling: md5 hex compared lexicographically — the
    // thresholds are Sampling.thresholdHex(rate) values verbatim
    "q_sample_stratified" ->
      """SELECT doc_id, source FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) <
        |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN '80000000'
        |       WHEN source IN ('src5','src6','src7','src8','src9') THEN '40000000'
        |       ELSE '20000000' END
        |ORDER BY doc_id""".stripMargin,
    "q_sample_per_source" ->
      """SELECT doc_id, source, rank FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
        |  FROM documents
        |  WHERE md5(CAST(doc_id AS VARCHAR)) < '80000000') t
        |WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    // the same 80/10/10 selector ranges as thresholdHex(0.8/0.9)
    "q_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cccccccd' THEN 'train'
        |       WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // floors and frac-thresholds as literals (thresholdHex(0.5)=
    // '80000000', (0.25)='40000000', frac 0 → '00000000' which no md5
    // digest is below); rep explode via unnest(range(n)) — BIGINT on
    // both engines
    // rates recomputed from counts in SQL: n_min/n and sqrt are IEEE
    // correctly-rounded on both engines, so the doubles are
    // bit-identical and the floor(r·2^32 + 0.5) hex grid matches
    // thresholdHex exactly; rate 1.0 (the smallest source) maps to
    // 'g' = keep-all, above every hex digest
    "q_temperature_mix" ->
      """WITH sk AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN 'rare'
        |         WHEN doc_id % 10 <= 2 THEN 'mid'
        |         ELSE 'bulk' END AS source
        |  FROM documents),
        |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |      FROM sk GROUP BY source),
        |m AS (SELECT min(n) AS nmin FROM c),
        |t AS (SELECT c.source,
        |        CASE WHEN sqrt(CAST(m.nmin AS DOUBLE) / c.n) >= 1.0 THEN 'g'
        |             ELSE printf('%08x', CAST(least(
        |               floor(sqrt(CAST(m.nmin AS DOUBLE) / c.n)
        |                 * 4294967296.0 + 0.5), 4294967295.0) AS BIGINT))
        |        END AS thr
        |      FROM c, m)
        |SELECT d.doc_id, d.source
        |FROM sk d JOIN t USING (source)
        |WHERE md5(CAST(d.doc_id AS VARCHAR)) < t.thr
        |ORDER BY d.doc_id""".stripMargin,

    "q_epoch_mix" ->
      """WITH p AS (
        |  SELECT doc_id, source,
        |    (CASE WHEN source = 'src0' THEN 2
        |          WHEN source IN ('src1', 'src2') THEN 0 ELSE 1 END)
        |    + (CASE WHEN md5(CAST(doc_id AS VARCHAR) || ':epoch') <
        |         (CASE WHEN source = 'src0' THEN '80000000'
        |               WHEN source = 'src1' THEN '40000000'
        |               ELSE '00000000' END)
        |       THEN 1 ELSE 0 END) AS reps
        |  FROM documents)
        |SELECT doc_id, source, unnest(range(reps)) AS rep
        |FROM p WHERE reps > 0
        |ORDER BY doc_id, rep""".stripMargin,
    // the (len DESC, id) rank is total, so the batch cut is engine-
    // independent; DuckDB sum(BIGINT) widens to HUGEINT — cast back
    "q_length_buckets" ->
      """WITH r AS (
        |  SELECT doc_id, COALESCE(n_chars, 0) AS len,
        |    row_number() OVER (ORDER BY COALESCE(n_chars, 0) DESC, doc_id)
        |      - 1 AS rk
        |  FROM documents)
        |SELECT rk // 64 AS batch_id, COUNT(*) AS n_docs, MAX(len) AS max_len,
        |  CAST(COUNT(*) * MAX(len) - SUM(len) AS BIGINT) AS padding
        |FROM r GROUP BY 1 ORDER BY batch_id""".stripMargin,
    // identical rate → threshold derivation: integer token totals,
    // IEEE double division, floor(x+0.5) (NOT round(): Spark half-up
    // vs DuckDB half-even), %08x hex — bit-identical thresholds
    "q_mix_sources" ->
      """WITH tot AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t_s
        |             FROM documents GROUP BY 1),
        |m AS (SELECT min(t_s) AS m FROM tot),
        |th AS (SELECT source,
        |         CASE WHEN CAST(m.m AS DOUBLE) / CAST(t_s AS DOUBLE) >= 1.0 THEN 'g'
        |              ELSE printf('%08x', CAST(least(
        |                floor(CAST(m.m AS DOUBLE) / CAST(t_s AS DOUBLE) * 4294967296.0 + 0.5),
        |                4294967295.0) AS BIGINT)) END AS thresh
        |       FROM tot, m)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN th USING (source)
        |WHERE md5(CAST(d.doc_id AS VARCHAR)) < th.thresh
        |ORDER BY d.doc_id""".stripMargin,
    // same √n temperature plan: floored-6-decimal sqrt terms summed as
    // DECIMAL (order-free), double ratios floored to 4 decimals, the
    // budget an integer floor-quarter of total tokens — every emitted
    // double identical bit-for-bit cross-engine
    "q_source_mixture" ->
      """WITH p AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
        |         AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |s AS (SELECT *,
        |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |             AS DECIMAL(24,6)) AS sq
        |      FROM p),
        |tot AS (SELECT CAST(sum(sq) AS DECIMAL(38,6)) AS sqsum,
        |               CAST(sum(n_tokens) AS BIGINT) // 4 AS budget FROM s)
        |SELECT source, n_docs, n_tokens,
        |  floor(CAST(sq AS DOUBLE) / CAST(sqsum AS DOUBLE) * 1e4 + 0.5) / 1e4
        |    AS weight,
        |  least(1.0, floor(CAST(budget AS DOUBLE) *
        |      (floor(CAST(sq AS DOUBLE) / CAST(sqsum AS DOUBLE) * 1e4 + 0.5) / 1e4) /
        |      CAST(n_tokens AS DOUBLE) * 1e4 + 0.5) / 1e4) AS rate
        |FROM s CROSS JOIN tot ORDER BY source""".stripMargin,
    "q_shuffle_order" ->
      """WITH s AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS sel
        |           FROM documents)
        |SELECT doc_id,
        |  CAST(strpos('0123456789abcdef', substr(sel,1,1)) - 1 AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY substr(sel,1,1)
        |         ORDER BY substr(sel,2), doc_id) AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
        |             len(string_split(text, ' ')) AS n_tok FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |        CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM t)
        |SELECT doc_id, source, CAST(n_tok AS INT) AS n_tok, cum,
        |  (cum - n_tok) // 500 AS bin
        |FROM c ORDER BY source, doc_id""".stripMargin,
    "q_chunk_cdc" -> cdcOracle,
    // stage = the same fixed-point quality decile (bit-identical
    // doubles — q_quality_score pins the formula), md5 order within
    "q_curriculum_order" ->
      s"""WITH q AS (SELECT doc_id, ${TextStats.qualitySql("text")} AS qual,
         |            md5(CAST(doc_id AS VARCHAR)) AS sel FROM documents)
         |SELECT doc_id, CAST(floor(qual * 10) AS INT) AS stage,
         |  CAST(row_number() OVER (PARTITION BY floor(qual * 10)
         |         ORDER BY sel, doc_id) AS BIGINT) AS pos
         |FROM q ORDER BY stage, pos""".stripMargin,
  )
}
