package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training-batch assembly: assign each document
  * to a fixed-token-budget bin (boundary packing — documents are never
  * split; a bin closes when the running token count crosses the
  * budget). Deterministic: bins follow the (stratum, id) order, so the
  * same corpus always packs identically.
  *
  * Scale shape (100 TB): the running sum is a window per stratum
  * (shard/source), NOT a global cumulative sum — strata pack
  * independently and in parallel, and the window input is just
  * (id, token count), never document content. Stratum cardinality
  * bounds parallelism; for few huge strata, pre-split them with
  * [[Sampling.selector]] buckets first.
  */
object Packing {

  /** (id, stratum, n_tok, cum, bin): `bin` is the zero-based index of
    * the token-budget bin the document starts in; `cum` the inclusive
    * running token count within the stratum. */
  def packByStratum(df: DataFrame, idCol: String, strataCol: String,
                    textCol: String, budget: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), col(strataCol),
        size(split(col(textCol), " ")).as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", expr(s"(cum - n_tok) div $budget"))
  }

  /** Pack per-document token-id rows ([[Bpe.encodeIds]]'s
    * (id, wpos, spos, tid) relation, EOS boundary rows included) into
    * fixed-length training sequences: documents concatenate in id
    * order, each token takes global position `doc offset + rank
    * within doc`, and position p lands in sequence p div seqLen at
    * slot p mod seqLen — GPT-style sequence packing, document
    * boundaries carried by the EOS tokens. Returns (seq_id, seq_len,
    * n_docs, ids) where `n_docs` counts the documents ENDING in the
    * sequence and `ids` is the space-joined token-id string in slot
    * order (only the tail sequence has seq_len < seqLen).
    *
    * Scale shape: the only order-carrying computation is the global
    * prefix sum of per-document token counts, and it runs as a
    * TWO-LEVEL scan — range-partition the (id, count) relation, local
    * prefix sums per partition (parallel windows keyed by partition
    * id), then one tiny window over the per-partition totals
    * (numPartitions rows) joined back broadcast. No single-partition
    * pass ever sees the per-document relation whole, and document
    * CONTENT (the token rows) only moves through the per-document
    * rank window and the final per-sequence aggregation — both keyed
    * shuffles, no global sort of tokens.
    *
    * CACHE CONTRACT: the shared core persists the token relation (it
    * feeds two differently-exchanged subtrees; without the persist the
    * upstream tokenization runs twice — measured 12 s → 7 s at sf0.1)
    * and the returned plan stays LAZY over that cached relation, so
    * the entry cannot be unpersisted here. Wrap the call and its
    * materialization in [[CacheScope.withScope]] to release it on exit
    * (the loan pattern); outside a scope the cache lives for the
    * session — `spark.catalog.clearCache()` between packings
    * (Bench/Verify do both). A long-lived service should instead
    * materialize the token relation to storage once and pack from the
    * materialized copy. Same contract as [[Bpe.encodeIdsWithVocab]]. */
  def packSequences(toks: DataFrame, idCol: String, seqLen: Int): DataFrame =
    globalPositions(toks, idCol, seqLen)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("seq_len"),
        sum(when(col("tid") === 0L, 1L).otherwise(0L)).as("n_docs"),
        array_join(transform(
          array_sort(collect_list(struct(col("__sp"), col("tid")))),
          s => s.getField("tid").cast("string")), " ").as("ids"))

  /** [[packSequences]] plus the per-slot `doc_idx` column a training
    * consumer needs to MASK cross-document attention inside a packed
    * sequence: slot s carries the running count of EOS tokens in slots
    * BEFORE s (exclusive), so every token of the first document segment
    * reads 0, the segment after the first EOS reads 1, and an EOS
    * belongs to the document it closes. Emits (seq_id, seq_len, n_docs,
    * ids, doc_idx) — `doc_idx` space-joined in slot order like `ids`.
    *
    * Same two-level scan as [[packSequences]] (shared
    * [[globalPositions]]); the EOS prefix count folds inside the
    * per-sequence row over the already-collected slot array — no new
    * global pass. */
  def packSequencesWithDocIdx(toks: DataFrame, idCol: String,
                              seqLen: Int): DataFrame =
    globalPositions(toks, idCol, seqLen)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("seq_len"),
        sum(when(col("tid") === 0L, 1L).otherwise(0L)).as("n_docs"),
        array_sort(collect_list(struct(col("__sp"), col("tid")))).as("__slots"))
      .select(col("seq_id"), col("seq_len"), col("n_docs"),
        array_join(transform(col("__slots"),
          s => s.getField("tid").cast("string")), " ").as("ids"),
        // exclusive running EOS count per slot, built as RUN-LENGTH
        // segments from the sparse EOS-position array: slots are the
        // consecutive positions 0..seq_len-1, so dx is [0]×(e₁+1) ++
        // [1]×(e₂-e₁) ++ … ++ [k]×(L-1-e_k) — one fold over the ≤
        // docs-per-sequence EOS list, O(L·k) total. (A fold appending
        // per SLOT would copy its accumulator per element: O(L²) per
        // sequence, measured as this query's dominant cost at sf0.1.)
        aggregate(
          transform(filter(col("__slots"), e => e.getField("tid") === 0L),
            e => e.getField("__sp")),
          struct(lit(0).as("i"), lit(-1L).as("prev"),
            array().cast("array<string>").as("o")),
          (st, e) => struct(
            (st.getField("i") + 1).as("i"),
            e.as("prev"),
            concat(st.getField("o"),
              array_repeat(st.getField("i").cast("string"),
                (e - st.getField("prev")).cast("int"))).as("o")),
          st => array_join(concat(st.getField("o"),
            array_repeat(st.getField("i").cast("string"),
              (size(col("__slots")) - 1 - st.getField("prev")).cast("int"))),
            " ")).as("doc_idx"))

  /** Length-bucketed batching: rank documents by (length DESC, id) and
    * cut the ranking into consecutive batches of `batchSize` — inside a
    * batch every document pads only to the BATCH max, the standard
    * padding-efficiency move for non-packed (padded-batch) training and
    * inference. Deterministic: the (len, id) sort key is total. Emits
    * (id, len, batch_id); NULL lengths rank as 0 (shortest).
    *
    * Scale shape: the global rank is the [[packSequences]] two-level
    * scan, not a global window — range-partition on the sort key,
    * per-partition row_number, then one numPartitions-row offset window
    * broadcast back. The relation ranked is (id, len) — never text. */
  def lengthBuckets(df: DataFrame, idCol: String, lenCol: String,
                    batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    val rows = df.select(col(idCol),
      coalesce(col(lenCol).cast("long"), lit(0L)).as("len"))
    val parts = rows.repartitionByRange(col("len").desc, col(idCol))
      .withColumn("__pid", spark_partition_id())
    val local = parts.withColumn("__lrank",
      row_number().over(Window.partitionBy(col("__pid"))
        .orderBy(col("len").desc, col(idCol))))
    val ptot = local.groupBy(col("__pid")).agg(count(lit(1)).as("__pn"))
      .withColumn("__poff",
        coalesce(sum(col("__pn")).over(Window.orderBy(col("__pid")))
          - col("__pn"), lit(0L)))
      .select(col("__pid"), col("__poff"))
    local.join(broadcast(ptot), "__pid")
      .withColumn("__rk", col("__poff") + col("__lrank") - 1)
      .select(col(idCol), col("len"),
        expr(s"__rk div $batchSize").as("batch_id"))
  }

  /** The shared packing core: global token position for every token
    * row, as (tid, seq_id, __sp). The only order-carrying computation
    * is the per-document-count prefix sum, run as a TWO-LEVEL scan —
    * see the scaladoc on [[packSequences]]'s original definition
    * (local per-partition windows + one numPartitions-row window
    * broadcast back; no global sort of token rows). */
  private def globalPositions(toksIn: DataFrame, idCol: String,
                              seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    // the token relation feeds TWO subtrees (the per-doc counts for the
    // offset scan, and the per-token rank window) whose exchanges
    // differ — without a persist the whole upstream tokenization runs
    // twice (measured 12 s → ~7 s on q_pack_attention at sf0.1). At
    // cluster scale this persist is the "materialize the tokenized
    // relation once" step a production pipeline does to storage anyway.
    val toks = CacheScope.register(toksIn.persist())
    tokenPositions(toks, idCol)
      .select(col("tid"), expr(s"__gp div $seqLen").as("seq_id"),
        (col("__gp") % seqLen).as("__sp"))
  }

  /** The raw (tid, __gp) token-position relation of [[globalPositions]]
    * without the sequence split — the carry path consumes it with an
    * offset. Caller manages persistence of `toks`. */
  private def tokenPositions(toks: DataFrame, idCol: String): DataFrame = {
    val counts = toks.groupBy(col(idCol)).agg(count(lit(1)).as("__nd"))
    val parts = counts
      .repartitionByRange(col(idCol))
      .withColumn("__pid", spark_partition_id())
    val local = parts.withColumn("__loff",
      sum(col("__nd")).over(
        Window.partitionBy(col("__pid")).orderBy(col(idCol))) - col("__nd"))
    // per-partition totals: numPartitions rows — the only global
    // window, over bounded metadata
    val ptot = local.groupBy(col("__pid")).agg(sum(col("__nd")).as("__pt"))
      .withColumn("__poff",
        coalesce(sum(col("__pt")).over(Window.orderBy(col("__pid")))
          - col("__pt"), lit(0L)))
      .select(col("__pid"), col("__poff"))
    val offs = local.join(broadcast(ptot), "__pid")
      .select(col(idCol), (col("__loff") + col("__poff")).as("__off"))
    val ranked = toks.withColumn("__ipos",
      row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("wpos"), col("spos"))))
    ranked.join(offs, idCol)
      .select(col("tid"),
        (col("__off") + col("__ipos") - 1).as("__gp"))
  }

  /** Pack one BATCH of per-document token rows CONTINUING from the
    * previous batch's carried partial tail — the cross-batch form of
    * [[packSequences]] for streaming ingest: instead of closing each
    * batch's last sequence short (the default per-shard mode,
    * [[graft.streaming.StreamPipeline.packIngest]]), the unfinished
    * tail sequence's rows carry into the next batch, so the packed
    * stream equals the batch packing of the concatenated corpus.
    *
    * `carried` is the previous tail as (gp, tid) rows (ALL slots of
    * the partial sequence, global positions — ≤ seqLen-1 rows);
    * `offset` is the total token count ingested so far, i.e. the first
    * global position of this batch's tokens. Returns
    * (complete, newCarry, newMeta):
    *  - `complete`: every FULL sequence this batch closes, in the
    *    [[packSequences]] schema (seq_id, seq_len, n_docs, ids) with
    *    GLOBAL seq ids;
    *  - `newCarry`: the new partial tail's (gp, tid) rows (empty when
    *    the stream position lands exactly on a sequence boundary);
    *  - `newMeta`: 1-row (t) = the new total token count.
    *
    * The carried+batch positions form one contiguous range starting at
    * a sequence boundary, so every sequence except possibly the LAST
    * is exactly seqLen long — complete vs carry splits on that count,
    * no driver-side size probe. Scale shape: the batch pays the same
    * two-level scan as [[packSequences]]; the carry relation is ≤
    * seqLen rows and broadcasts. Caller manages persistence of `toks`
    * (see the cache contract on [[packSequences]]). */
  def packWithCarry(toks: DataFrame, idCol: String, seqLen: Int,
                    offset: Long, carried: DataFrame)
      : (DataFrame, DataFrame, DataFrame) =
    carryOutputs(carrySeqs(toks, idCol, seqLen, offset, carried), seqLen,
      offset)

  /** The positioned (tid, gp, seq_id, __sp) relation of carried +
    * batch tokens. */
  private def carrySeqs(toks: DataFrame, idCol: String, seqLen: Int,
                        offset: Long, carried: DataFrame): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    val pos = tokenPositions(toks, idCol)
      .select(col("tid"), (col("__gp") + offset).as("gp"))
    carried.select(col("gp"), col("tid")).unionByName(pos)
      .select(col("tid"), col("gp"),
        expr(s"gp div $seqLen").as("seq_id"), (col("gp") % seqLen).as("__sp"))
  }

  /** (complete, newCarry, newMeta) plans over a [[carrySeqs]]
    * relation; `offset` is the meta fallback for an empty relation (a
    * batch of only empty/OOV docs still carries EOS rows, so this
    * fires only on a genuinely empty input — the total must then stay
    * where it was, never reset). */
  private def carryOutputs(seqs: DataFrame, seqLen: Int, offset: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val partialIds = seqs.groupBy(col("seq_id"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") < seqLen)
      .select(col("seq_id"))
    val complete = seqs
      .join(broadcast(partialIds), Seq("seq_id"), "left_anti")
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("seq_len"),
        sum(when(col("tid") === 0L, 1L).otherwise(0L)).as("n_docs"),
        array_join(transform(
          array_sort(collect_list(struct(col("__sp"), col("tid")))),
          s => s.getField("tid").cast("string")), " ").as("ids"))
    val newCarry = seqs
      .join(broadcast(partialIds), Seq("seq_id"), "left_semi")
      .select(col("gp"), col("tid"))
    val newMeta = seqs.agg(
      coalesce(max(col("gp")) + 1, lit(offset)).as("t"))
    (complete, newCarry, newMeta)
  }

  /** Eager per-batch form of [[packWithCarry]] for the streaming
    * ingest path: the three outputs ([[packWithCarry]]'s complete /
    * carry / meta) are all actions over the same position relation, so
    * materializing them lazily re-runs the two-level scan once per
    * write. Here the relation persists around the three writes and
    * releases before returning — no cache leak across micro-batches.
    * Writes `seqs/`, `carry/`, `meta/` under `batchDir` (the caller owns
    * the commit marker). */
  def packCarryBatch(toks: DataFrame, idCol: String, seqLen: Int,
                     offset: Long, carried: DataFrame,
                     batchDir: String): (Long, Seq[(Long, Long)]) = {
    val spark = toks.sparkSession
    import spark.implicits._
    val seqs = carrySeqs(toks, idCol, seqLen, offset, carried).persist()
    try {
      val (complete, newCarry, newMeta) = carryOutputs(seqs, seqLen, offset)
      // the new tail is ≤ seqLen-1 rows and the total is one value —
      // collect them (cached seqs, no recompute), persist them for
      // recovery from LOCAL relations (no plan re-run), and hand them
      // back so the next micro-batch starts from driver state instead
      // of a listing + two parquet reads. The three output chains
      // (seqs write; carry collect+write; meta collect+write) all read
      // only the persisted `seqs` and write disjoint dirs — overlap
      // them (guide §2.6); the caller's commit marker stays after all.
      @volatile var tail: Seq[(Long, Long)] = null
      @volatile var t = 0L
      ParJobs.run(
        () => complete.write.parquet(s"$batchDir/seqs"),
        () => {
          tail = newCarry.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          tail.toDF("gp", "tid").coalesce(1).write.parquet(s"$batchDir/carry")
        },
        () => {
          t = newMeta.collect()(0).getLong(0)
          Seq(t).toDF("t").coalesce(1).write.parquet(s"$batchDir/meta")
        })
      (t, tail)
    } finally { seqs.unpersist(); () }
  }

  /** Materialize a carried partial tail as its (short) final sequence —
    * the flush step after a carry-mode stream ends, completing the
    * equality with the batch packing of the concatenated corpus. */
  def carryTailSequence(carried: DataFrame, seqLen: Int): DataFrame =
    carried.select(col("tid"), col("gp"),
        expr(s"gp div $seqLen").as("seq_id"), (col("gp") % seqLen).as("__sp"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("seq_len"),
        sum(when(col("tid") === 0L, 1L).otherwise(0L)).as("n_docs"),
        array_join(transform(
          array_sort(collect_list(struct(col("__sp"), col("tid")))),
          s => s.getField("tid").cast("string")), " ").as("ids"))
}
