package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dolma-shaped TAG-ONCE / MIX-MANY curation (Soldaini et al. 2024,
  * "Dolma: an Open Corpus of Three Trillion Tokens..." — the public
  * tagger/mixer architecture): per-document quality ATTRIBUTES are
  * computed once and persisted as their own relation beside the
  * corpus; a MIX is then any predicate over the attribute columns,
  * joined back to the text by id. The decoupling is the point at
  * 100 TB — retuning thresholds or swapping the tagger set costs one
  * narrow (doc_id-keyed) join against the small attributes relation,
  * never a re-tag of the corpus text, and taggers added later append
  * columns without touching the existing ones.
  *
  * Taggers composed here (all established operators of this engine):
  * token count, heuristic quality (fixed-point — [[TextStats]]),
  * language id ([[TextStats.langIdCol]]), the Gopher structural gate
  * ([[CurationFilters.structuralKeepCol]]), and the linear classifier
  * ([[LinearGate]]). One staged scan computes them all; the persisted
  * relation is ~5 columns × |corpus| rows, sorted by doc_id for
  * row-group pruning on id-range probes.
  *
  * Build-once mechanics are the [[Bm25.indexFor]] pattern: one
  * generation of the corpus's build-once store per corpus content
  * ([[attributesFor]], [[spansFor]]).
  */
object Attributes {

  /** The attributes of `docs` (doc_id, text), the corpus at
    * `corpusDir`, served from their build-once store
    * ([[GenerationStore.ensureForCorpus]]). Returns the generation dir
    * to serve. */
  def attributesFor(docs: DataFrame, corpusDir: String): String =
    GenerationStore.ensureForCorpus(docs.sparkSession, "graft_attrs_v1",
      corpusDir)(ensureAttributes(docs, _))

  /** One tagging pass over (doc_id, text): every tagger's signal in a
    * staged projection (token arrays materialize before their
    * interpreted-lambda consumers — the LinearGate trap). */
  def tagFrame(docs: DataFrame): DataFrame = {
    val text = coalesce(col("text"), lit(""))
    val staged = docs
      .select(col("doc_id"), text.as("__t"),
        filter(split(text, "\\s+"), w => w =!= "").as("__ws"))
      .select(col("doc_id"), col("__t"), col("__ws"),
        LinearGate.featsCol(col("__ws")).as("__fs"))
      .select(col("doc_id"), col("__t"), col("__ws"),
        size(col("__ws")).as("__nw"),
        size(col("__fs")).cast("long").as("__nf"),
        LinearGate.sumWeightCol(col("__fs")).as("__sw"))
    staged.select(
      col("doc_id"),
      col("__nw").as("n_words"),
      TextStats.qualityIntCol(col("__t")).cast("long").as("quality_q4"),
      TextStats.langIdCol(col("__t")).as("lang"),
      CurationFilters.structuralKeepFromTokens(col("__ws"), col("__t"))
        .as("gopher_keep"),
      (col("__sw") > lit(LinearGate.Threshold) * col("__nf")).as("clf_keep"))
  }

  /** Write the attributes relation into `dir`. */
  def ensureAttributes(docs: DataFrame, dir: String): Unit =
    tagFrame(docs)
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/attrs")

  /** The attrs relation's read paths: base build + every COMMITTED
    * staged ingest batch ([[StagedBatches]]). */
  def attrsPaths(spark: SparkSession, dir: String): Seq[String] =
    StagedBatches.snapshot(spark, dir).paths("attrs")

  /** The persisted doc-level attributes relation — base + committed
    * staged batches in one union read (the relation is unpartitioned,
    * so the multi-root read is a single FileIndex). */
  def readAttrs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(attrsPaths(spark, dir): _*)

  /** Streaming attributes maintenance (the [[Bm25.ingestIntoIndex]]
    * pattern): STAGE one micro-batch of new documents' attribute rows
    * as batch `key` under `batches/b_<key>/attrs`
    * ([[StagedBatches.stage]]: one exclusive `_COMMITTED` create, a
    * no-op for a key already applied) — the tag pass runs over the
    * BATCH, never the corpus, and every mix launched after the batch
    * commits sees the union; a mix running DURING the commit folds only
    * already-committed batches, never a torn one. Ingested doc ids must
    * be new (same contract as the index ingest paths). */
  def ingestIntoAttributes(dir: String, batch: DataFrame,
                           key: String = StagedBatches.freshKey()): Boolean =
    StagedBatches.stage(batch.sparkSession, dir, key) { batchDir =>
      tagFrame(batch)
        .sortWithinPartitions(col("doc_id"))
        .write.parquet(s"$batchDir/attrs")
    }

  /** A MIX: join the persisted attributes back to the corpus by id and
    * keep rows satisfying `pred` (a predicate over attribute columns).
    * The plan reads the attrs parquet — no tagger re-runs, no text
    * tokenization; the only per-row work on text is whatever the
    * caller projects from it. */
  def mixed(spark: SparkSession, dir: String, docs: DataFrame,
            pred: Column): DataFrame =
    docs.join(readAttrs(spark, dir), Seq("doc_id"))
      .filter(pred)

  // ------------------------------------------------------------------
  // SPAN-level attributes (the published Dolma attribute format carries
  // (start, end, score) SPANS, not just doc-level scalars): each tagger
  // emits the character ranges it flags, and a mix can EXCISE the spans
  // instead of dropping the document — the first thing a curation user
  // needs when scrubbing PII without losing the page. Offsets follow
  // the Dolma JSON convention: `start` inclusive / `end` exclusive,
  // 0-based characters; `p_start`/`p_end` carry the same span in
  // 1-based whitespace-token positions (both conventions pinned so
  // consumers can't misread one as the other). Retuning a span POLICY
  // (which tags, what score threshold) filters the persisted relation —
  // it never re-tags, same economics as the doc-level store above.
  // ------------------------------------------------------------------

  val TagPiiCard = "pii_card"
  val TagPiiEmail = "pii_email"
  val TagPiiPhone = "pii_phone"
  val TagPiiIp = "pii_ip"
  val TagContaminated = "contaminated"

  /** The email token class — [[Sampling.scrubPii]]'s pattern, anchored
    * to a whole whitespace token (shared literal with the oracle). */
  val EmailTokenRe: String = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"

  /** The phone token class — [[Sampling.PhonePattern]]'s NANP-style
    * run, token-anchored like [[EmailTokenRe]]. */
  val PhoneTokenRe: String = "^[0-9]{3}-[0-9]{4}$"

  /** The IPv4 token class — [[Sampling.Ipv4Pattern]]'s dotted quad,
    * token-anchored. */
  val IpTokenRe: String =
    "^[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}$"

  /** Span-store version — part of the persisted-relation contract: bump
    * whenever the TAGGER SET or span schema changes, or an existing
    * store silently serves rows the current taggers would no longer
    * produce (v1 → v2: the pii_email tagger joined;
    * v2 → v3: pii_phone + pii_ip). */
  val SpanStoreVersion = "graft_spans_v3"

  /** The span relation of `candidates` against `benchmark`, keyed on
    * the corpus at `corpusDir` like [[attributesFor]] and served from
    * its build-once store. Returns the generation dir to serve. */
  def spansFor(candidates: DataFrame, benchmark: DataFrame,
               corpusDir: String, n: Int): String =
    GenerationStore.ensureForCorpus(candidates.sparkSession,
        SpanStoreVersion, corpusDir) {
      ensureSpanAttributes(candidates, benchmark, _, n = n)
    }

  /** Character offset (0-based) where 1-based token `p` starts, under
    * the single-space join convention (`split(text, " ")` round-trips
    * through `array_join(_, " ")`). Cost is O(text) per EVALUATION —
    * only ever computed for the sparse flagged positions, never per
    * token. */
  private def charStart(toks: Column, p: Column): Column =
    when(p <= 1, lit(0))
      .otherwise(length(array_join(slice(toks, lit(1), p - 1), " ")) + 1)

  private def charEnd(toks: Column, p: Column): Column =
    charStart(toks, p) + length(element_at(toks, p))

  private def spanSchema = Seq("doc_id", "tag", "p_start", "p_end",
    "start", "end", "score")

  /** The shared tokenized form every span tagger consumes: (doc_id,
    * __toks). Factored out so [[spanTagFrameOn]] evaluates the text
    * column — including any per-row transform the caller stacked on it
    * — exactly ONCE per build or micro-batch instead of once per
    * tagger pass (at corpus scale each extra pass is a full re-scan). */
  private def tokenized(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      split(coalesce(col(textCol), lit("")), " ").as("__toks"))

  /** Single-token span tagger over a [[tokenized]] frame: one span per
    * whitespace token satisfying `pred`. Map-only — flagged positions
    * found per-row, exploded sparsely; char offsets computed only for
    * the matches. */
  private def tokenSpansOn(toked: DataFrame, tag: String)
                          (pred: Column => Column): DataFrame = {
    val toks = col("__toks")
    toked
      .select(col("doc_id"), toks,
        explode(filter(
          transform(toks, (t, i0) => struct((i0 + 1).as("p"), t.as("t"))),
          s => pred(s.getField("t")))).as("h"))
      .select(col("doc_id"), lit(tag).as("tag"),
        col("h.p").as("p_start"), col("h.p").as("p_end"),
        charStart(toks, col("h.p")).cast("int").as("start"),
        charEnd(toks, col("h.p")).cast("int").as("end"),
        lit(1.0).as("score"))
  }

  /** The card-token predicate: a contiguous 13–19 digit run passing the
    * Luhn check — the same validation [[graft.functions.LuhnRedact]]
    * redacts by, reused verbatim (a token spans `[CARD]` here iff the
    * scrubber would rewrite it), so tagger and redactor cannot drift. */
  private def cardPred(t: Column): Column =
    t.rlike("^[0-9]{13,19}$") &&
      graft.functions.LuhnRedact.luhn_redact(t) === "[CARD]"

  /** PII card spans (see [[cardPred]]). */
  def piiCardSpans(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenSpansOn(tokenized(docs, idCol, textCol), TagPiiCard)(cardPred)

  /** PII email spans: one span per whole-token [[EmailTokenRe]] match
    * (the scrubber's email class, span form). */
  def piiEmailSpans(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenSpansOn(tokenized(docs, idCol, textCol), TagPiiEmail)(_.rlike(EmailTokenRe))

  /** PII phone spans: one span per whole-token [[PhoneTokenRe]] match
    * (the scrubber's phone class, span form). */
  def piiPhoneSpans(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenSpansOn(tokenized(docs, idCol, textCol), TagPiiPhone)(_.rlike(PhoneTokenRe))

  /** PII IPv4 spans: one span per whole-token [[IpTokenRe]] match
    * (the scrubber's dotted-quad class, span form). */
  def piiIpSpans(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenSpansOn(tokenized(docs, idCol, textCol), TagPiiIp)(_.rlike(IpTokenRe))

  /** Contamination spans: MAXIMAL runs of tokens covered by a benchmark
    * n-gram — the span form of [[Contamination]]'s excision rule (same
    * [[Dedup]] gram windows/hashes, so spans and cuts can't drift; a
    * token at 1-based p is covered iff a flagged gram starts in
    * [p-n+1, p]). Scale shape: bench grams broadcast; only (doc_id,
    * pos) 12-byte rows shuffle into the gaps-and-islands windows —
    * the SPARSE flagged minority, never per-token rows; text re-joins
    * once at the end (spans side small → AQE broadcasts it). Score is
    * the span's covered-token count. */
  def contaminatedSpans(candidates: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String, n: Int = 3,
                        broadcastBench: Boolean = true): DataFrame =
    contaminatedSpansOn(tokenized(candidates, idCol, textCol),
      Dedup.hashedShingleSet(benchmark, textCol, n), n, broadcastBench)

  /** [[contaminatedSpans]] over a [[tokenized]] frame and a PRE-HASHED
    * benchmark gram set — the form the streaming ingest path uses, so
    * the static benchmark's shingle set is computed once per stream,
    * not once per micro-batch. */
  private def contaminatedSpansOn(toked: DataFrame, benchGrams: DataFrame,
                                  n: Int, broadcastBench: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = col("__toks")
    val candGrams = toked
      .select(col("doc_id"), explode(transform(Dedup.gramStartIdx(toks, n),
        i => struct(i.as("pos"), xxhash64(Dedup.gramAt(toks, i, n)).as("g")))).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.g").as("g"))
    val badStarts = candGrams
      .join(if (broadcastBench) broadcast(benchGrams) else benchGrams,
        Seq("g"), "left_semi")
    val covered = badStarts
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val islands = covered
      .withColumn("__grp", col("p") - row_number().over(wOrd))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("p")).as("p_start"), max(col("p")).as("p_end"))
    islands
      .join(toked, Seq("doc_id"))
      .select(col("doc_id"), lit(TagContaminated).as("tag"),
        col("p_start"), col("p_end"),
        charStart(toks, col("p_start")).cast("int").as("start"),
        charEnd(toks, col("p_end")).cast("int").as("end"),
        (col("p_end") - col("p_start") + 1).cast("double").as("score"))
  }

  /** All span taggers over one shared [[tokenized]] frame — adding a
    * token-class family here costs NO extra tokenize pass (each rides
    * the same `__toks` column as a map-only filter). */
  private def spanTagFrameOn(toked: DataFrame, benchGrams: DataFrame,
                             n: Int): DataFrame =
    tokenSpansOn(toked, TagPiiCard)(cardPred)
      .unionByName(tokenSpansOn(toked, TagPiiEmail)(_.rlike(EmailTokenRe)))
      .unionByName(tokenSpansOn(toked, TagPiiPhone)(_.rlike(PhoneTokenRe)))
      .unionByName(tokenSpansOn(toked, TagPiiIp)(_.rlike(IpTokenRe)))
      .unionByName(contaminatedSpansOn(toked, benchGrams, n))
      .select(spanSchema.map(col): _*)

  /** All span taggers in one relation. Lazy form — evaluates the text
    * column once per consuming subtree; the eager build/ingest paths
    * below persist the tokenized frame around their write instead. */
  def spanTagFrame(candidates: DataFrame, benchmark: DataFrame,
                   idCol: String, textCol: String, n: Int = 3): DataFrame =
    spanTagFrameOn(tokenized(candidates, idCol, textCol),
      Dedup.hashedShingleSet(benchmark, textCol, n), n)

  /** Write the span relation into `dir`. The tokenized frame is
    * persisted around the (eager) write so the input text column — a
    * full corpus scan, plus whatever per-row transform the caller
    * stacked on it — evaluates once, not once per tagger pass
    * (measured 4.9 s → see SCALE.md on the sf0.1 planted corpus), and
    * released before returning. */
  def ensureSpanAttributes(candidates: DataFrame, benchmark: DataFrame,
                           dir: String, idCol: String = "doc_id",
                           textCol: String = "text", n: Int = 3): Unit = {
    val toked = tokenized(candidates, idCol, textCol).persist()
    try
      spanTagFrameOn(toked, Dedup.hashedShingleSet(benchmark, textCol, n), n)
        // write width from source bytes (Compaction's file-size
        // policy), not the session shuffle width
        .repartitionByRange(Compaction.writerWidth(candidates),
          col("doc_id"))
        .sortWithinPartitions(col("doc_id"), col("tag"), col("start"))
        .write.mode("overwrite").parquet(s"$dir/spans")
    finally { toked.unpersist(); () }
  }

  /** The span relation's read paths: base build + every COMMITTED
    * staged ingest batch ([[StagedBatches]]). */
  def spanPaths(spark: SparkSession, dir: String): Seq[String] =
    StagedBatches.snapshot(spark, dir).paths("spans")

  /** The persisted span relation — base + committed staged batches in
    * one union read. */
  def readSpans(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(spanPaths(spark, dir): _*)

  /** Streaming span-attributes maintenance (the
    * [[ingestIntoAttributes]] pattern): STAGE one micro-batch of new
    * documents' span rows as batch `key` under
    * `batches/b_<key>/spans` — the taggers run over the BATCH against
    * the static benchmark, never the corpus; every mix launched after
    * the batch commits sees the union, and a reader listing mid-commit
    * folds only whole batches. Ingested doc ids must be new.
    * `benchGrams` takes the benchmark's PRE-HASHED gram set so a
    * long-lived stream computes it once, not once per micro-batch
    * ([[StreamPipeline.spanIngest]] passes a persisted one). */
  def ingestIntoSpanAttributes(dir: String, batch: DataFrame,
                               benchGrams: DataFrame,
                               idCol: String = "doc_id",
                               textCol: String = "text", n: Int = 3,
                               key: String = StagedBatches.freshKey()): Boolean =
    StagedBatches.stage(batch.sparkSession, dir, key) { batchDir =>
      val toked = tokenized(batch, idCol, textCol).persist()
      try spanTagFrameOn(toked, benchGrams, n)
        .sortWithinPartitions(col("doc_id"), col("tag"), col("start"))
        .write.parquet(s"$batchDir/spans")
      finally { toked.unpersist(); () }
    }

  /** The benchmark gram set [[ingestIntoSpanAttributes]] consumes —
    * [[Dedup.hashedShingleSet]] under the span taggers' tokenization. */
  def benchGramSet(benchmark: DataFrame, textCol: String = "text",
                   n: Int = 3): DataFrame =
    Dedup.hashedShingleSet(benchmark, textCol, n)

  /** The span MIX: cut every selected span out of the text instead of
    * dropping the document. Overlapping/adjacent spans (a PII token
    * inside a contaminated run, two taggers flagging the same region)
    * are first MERGED into disjoint intervals — gaps-and-islands via a
    * running max(end) — because cutting raw overlapping ranges
    * right-to-left double-counts the overlap. The cut itself is one
    * fold over the ≤ a-handful merged spans per doc, descending by
    * start so earlier offsets stay valid as later text shrinks.
    * Emits (doc_id, clean_text, n_spans, n_chars_cut); docs with no
    * selected span pass through with zero counts. Text never shuffles:
    * the merged-span side is the sparse minority and broadcasts into
    * the final join. */
  def exciseSpans(docs: DataFrame, spans: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("start"), col("end"))
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = ord.rowsBetween(Window.unboundedPreceding, 0)
    val merged = spans
      .select(col("doc_id"), col("start"), col("end"))
      .withColumn("__new",
        when(col("start") > coalesce(max(col("end")).over(wPrev), lit(-1)), 1)
          .otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(wRun))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("start")).as("start"), max(col("end")).as("end"))
    val perDoc = merged.groupBy(col("doc_id")).agg(
      sort_array(collect_list(struct(col("start"), col("end"))), asc = false)
        .as("__sp"),
      count(lit(1)).cast("int").as("n_spans"),
      sum(col("end") - col("start")).cast("int").as("n_chars_cut"))
    val noSpans = array().cast("array<struct<start:int,end:int>>")
    docs.select(col(idCol).as("doc_id"), coalesce(col(textCol), lit("")).as("__tx"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        aggregate(coalesce(col("__sp"), noSpans), col("__tx"),
          (acc, sp) => concat(
            acc.substr(lit(1), sp.getField("start")),
            acc.substr(sp.getField("end") + 1, length(acc))))
          .as("clean_text"),
        coalesce(col("n_spans"), lit(0)).as("n_spans"),
        coalesce(col("n_chars_cut"), lit(0)).as("n_chars_cut"))
  }
}
