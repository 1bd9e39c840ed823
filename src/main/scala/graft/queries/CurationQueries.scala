package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.CurationFilters

/** Round-11 curation-recipe queries: the published rule-based web-corpus
  * filters (Gopher, C4) and the weighted / distribution-matched sampling
  * family, each with a hash-exact DuckDB oracle. Split out of
  * [[ExtQueries]] (3k lines) along the module seams.
  */
object CurationQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Gopher rule-set quality gate (Rae et al. 2021 App. A): corpus ∪
    // planted branch-coverage pages, every rule measured and the keep
    // verdict decided on integer cross-multiplied fractions. Map-only.
    "q_gopher_filter" -> ((s, d) => {
      val in = CurationFilters.withPlanted(
        s, Tables.documents(s, d), CurationFilters.gopherPlanted)
      CurationFilters.gopherFrame(in, "text").orderBy(col("doc_id"))
    }),

    // BERT-style MLM training-pair construction (Devlin et al. 2019):
    // deterministic md5-derived 80/10/10 decisions per position, the
    // random replacement drawn from the document's own tokens — see
    // ext.MlmMask. Map-only; the oracle replays every decision.
    "q_mlm_masking" -> ((s, d) =>
      graft.ext.MlmMask.maskFrame(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // fill-in-the-middle PSM transform (Bavarian et al. 2022): two
    // md5-chosen token cuts per document, emitted as <PRE> prefix
    // <SUF> suffix <MID> middle — see ext.Fim. Map-only.
    "q_fim_transform" -> ((s, d) =>
      graft.ext.Fim.psmFrame(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // fastText-shaped LINEAR classifier gate (DCLM / FineWeb-Edu's
    // model-based stage; Joulin et al. 2016): hashed unigram+bigram
    // buckets, broadcast-sized weight table, integer Σw > θ·N keep.
    // Map-only — the learned half of the curation recipe.
    "q_quality_classifier" -> ((s, d) =>
      graft.ext.LinearGate.scoreFrame(
        Tables.documents(s, d).select(col("doc_id"), col("text")), "text")
        .orderBy(col("doc_id"))),

    // Multi-pattern keyword tagging — one broadcast Aho–Corasick pass
    // matches all terms at once (the banned-/topic-term list stage).
    // Terms are BORDERLESS (no proper prefix = suffix), so occurrences
    // of one term never overlap and the oracle's replace-count equals
    // the automaton's all-occurrence count; the nesting chains
    // (scan ⊃ can ⊃ an, table ⊃ able) exercise dictionary suffixes.
    "q_keyword_tag" -> ((s, d) => {
      val tagged = graft.ext.KeywordTag.tagFrame(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", KeywordTerms)
      // per-term named columns (the checker's row hash takes scalars,
      // not lists) — also pins the array's index alignment
      val termCols = KeywordTerms.zipWithIndex.map { case (t, i) =>
        element_at(col("hit_counts"), i + 1).as(s"c_$t")
      }
      tagged.select(col("doc_id") +: col("n_hits") +: col("n_terms_hit") +:
        termCols: _*)
        .orderBy(col("doc_id"))
    }),

    // Dolma tag-once/mix-many (Soldaini et al. 2024): all five taggers
    // persist once per corpus signature; the MIX is a predicate over
    // the attribute columns joined back by id. This mix: the learned
    // classifier AND the Gopher structural gate.
    "q_dolma_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val dir = graft.ext.Attributes.attributesFor(docs, d)
      graft.ext.Attributes
        .mixed(s, dir, docs, col("clf_keep") && col("gopher_keep"))
        .select(col("doc_id"), col("n_words"), col("quality_q4"),
          col("lang"), col("gopher_keep"), col("clf_keep"),
          md5(coalesce(col("text"), lit("")).cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // A SECOND mix over the SAME persisted attributes — the economics
    // the architecture buys: different thresholds, zero re-tagging
    // (MixPlanSpec pins that this plan contains no tagger lambdas).
    "q_dolma_remix" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val dir = graft.ext.Attributes.attributesFor(docs, d)
      graft.ext.Attributes.mixed(s, dir, docs,
        col("quality_q4") >= 5000L && col("n_words") >= 30 && !col("clf_keep"))
        .select(col("doc_id"), col("n_words"), col("quality_q4"),
          col("lang"), col("gopher_keep"), col("clf_keep"),
          md5(coalesce(col("text"), lit("")).cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // C4 line-level filter (Raffel et al. 2020 §2.2): terminal-punct +
    // ≥5-word lines survive, ≥3 surviving lines keep the page, lorem
    // ipsum / brace pages drop; retained text pinned by md5. Map-only.
    "q_c4_filter" -> ((s, d) => {
      val in = CurationFilters.withPlanted(
        s, Tables.documents(s, d), CurationFilters.c4Planted)
      CurationFilters.c4Frame(in, "text").orderBy(col("doc_id"))
    }),

    // Efraimidis–Spirakis weighted sample without replacement, weights
    // = document length in chars: the standard "sample k docs with
    // probability ∝ size" draw, reproducible via the md5 selector.
    // Map-only + TakeOrdered — the corpus never shuffles.
    "q_weighted_sample" -> ((s, d) => {
      graft.ext.Sampling
        .weightedTopK(
          Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id", col("n_chars"), 100)
        .select(col("doc_id"), col("n_chars"),
          (floor(col("es_key") * 1e6 + 0.5) / 1e6).as("key6"))
    }),

    // CCNet-style perplexity-band bucketing (Wenzek et al. 2020): score
    // every page under a per-language unigram LM trained on the corpus
    // itself, percent-rank within the language, and cut head/middle/
    // tail thirds; tail pages drop. Same decimal-sum determinism
    // discipline as q_unigram_logprob (per-token logp rounded to 6
    // decimals, summed as exact decimal, terminal mean through the
    // floor contract). Shuffles are bounded by per-language vocabulary
    // and the per-language ranking window, never raw text.
    "q_ppl_band" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val freq = toks.groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
      val tot = freq.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
      val model = freq.join(tot, Seq("lang"))
      val logp6 =
        round(log(col("cnt").cast("double") / col("n").cast("double")), 6)
          .cast("decimal(14,6)")
      val scored = toks.join(model, Seq("lang", "tok"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_tok"), sum(logp6).as("slog"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          (floor(col("slog").cast("double") / col("n_tok") * 1e4 + 0.5) / 1e4)
            .as("mean_logp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("mean_logp").desc, col("doc_id"))
      scored.withColumn("pr", percent_rank().over(w))
        .select(col("doc_id"), col("lang"), col("n_tok"), col("mean_logp"),
          when(col("pr") * 3 < 1, "head")
            .when(col("pr") * 3 < 2, "middle")
            .otherwise("tail").as("bucket"))
        .withColumn("keep", col("bucket") =!= "tail")
        .orderBy(col("doc_id"))
    }),

    // URL canonicalization contract: two deterministically-messy
    // spellings of every document's URL (case noise, default port,
    // trailing slash, tracking params, fragments) must collapse onto
    // ONE canonical string — the key web-corpus URL dedup hangs on.
    // The oracle predicts the canonical analytically from id
    // arithmetic, so only a real parse+rebuild can match. Map-only.
    "q_url_canon" -> ((s, d) =>
      graft.ext.Urls.urlCanon(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // DSIR importance resampling (Xie et al. 2023): hashed-unigram
    // bucket models for raw corpus vs target domain (lang = 'en'),
    // per-doc mean log-likelihood ratio, top-150 selected through the
    // broadcast boundary (no global window). See [[graft.ext.Dsir]].
    "q_dsir_select" -> ((s, d) => {
      val scored = graft.ext.Dsir.importanceScores(
        Tables.documents(s, d), "text", col("lang") === "en")
      graft.ext.Dsir.selectTopK(scored, 150).orderBy(col("doc_id"))
    }),

    // SemDeDup planted contract: every 5th embedding gets a ×1.5-scaled
    // clone at id+1_000_000. Normalized clustering puts the clone in
    // its original's cell, cosine 1.0 ≥ τ=0.9 drops it, and the
    // original survives because the MEASURED max real-pair cosine is
    // 0.60 at every shipped SF (0.48/0.51/0.60 — a data margin like
    // q_knn_projected's; re-measure if the testdata regenerates).
    // So the full output is analytically predictable: kept = ¬clone.
    "q_semdedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val clones = emb.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
      val all = emb.select(col("vec_id"), col("embedding")).unionByName(clones)
      graft.ext.SemDedup.semDedup(all, "vec_id", "embedding", 0.9)
        .select(col("id").as("vec_id"),
          (col("id") >= 1000000L).as("is_clone"), col("kept"))
        .orderBy(col("vec_id"))
    }),

    // q_semdedup with k AUTO-SCALED to hold expected cell size at 512
    // (SemDedup.kFor — the paper's clusters-grow-with-n discipline):
    // the shape to copy at corpus scale, where pinning k makes the
    // within-cell compare n²/k (the sf1→sf10 ladder's one superlinear
    // curve). Past k=64 assignment goes TWO-LEVEL (coarse-quantized,
    // O(√k·d) per row — SemDedup.assignFn) so assignment cannot
    // re-become the quadratic. The planted contract is invariant to k
    // AND to assignment approximation — a normalized clone is
    // bit-identically its original, so it co-assigns with it under any
    // deterministic assignment, and cell boundaries only REMOVE
    // real-pair comparisons (all measured ≤ 0.60 cosine, far under
    // τ=0.9) — so the same analytic oracle pins it: kept = ¬clone.
    // (At the gate scales k stays ≤ 64 — flat path; the two-level path
    // is pinned by SemDedupSpec's forced-k planted contract and
    // measured by the ladder.)
    "q_semdedup_autok" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val clones = emb.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
      val all = emb.select(col("vec_id"), col("embedding")).unionByName(clones)
      graft.ext.SemDedup.semDedupAuto(all, "vec_id", "embedding", 0.9,
          targetCellSize = 512)
        .select(col("id").as("vec_id"),
          (col("id") >= 1000000L).as("is_clone"), col("kept"))
        .orderBy(col("vec_id"))
    }),

    // the DISTRIBUTED-training path of the same operator, forced at
    // gate scale (distributedK = 1 — in production it engages at
    // k ≥ 4096, where the driver-sample trainer's k²·d loop and k·d
    // closure stop scaling): coarse √k-group model, per-group seed
    // allocation, integer two-level Lloyd as a dataframe program,
    // nothing k-sized on the driver. The SAME analytic oracle pins it:
    // originals can never drop under ANY assignment (their only
    // ≥τ-cosine partner carries the LARGER id), and a clone drops iff
    // it co-assigns with its bit-identical original — which any
    // deterministic assignment guarantees (verified across sf0.001/
    // 0.01/0.1/1/10). A torn E-step, a lost seed group, or a
    // nondeterministic float mean would each break kept=¬clone.
    "q_semdedup_dist" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val clones = emb.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
      val all = emb.select(col("vec_id"), col("embedding")).unionByName(clones)
      graft.ext.SemDedup.semDedupAuto(all, "vec_id", "embedding", 0.9,
          targetCellSize = 512, distributedK = 1)
        .select(col("id").as("vec_id"),
          (col("id") >= 1000000L).as("is_clone"), col("kept"))
        .orderBy(col("vec_id"))
    }),

    // The RefinedWeb-shaped funnel from this round's operators, ONE
    // plan: URL-canonical dedup (every page re-enters as a second
    // messy spelling at id+1e6; canonicalization must collapse the
    // pair and keep the original) → structural Gopher gate →
    // per-language perplexity band (LM trained in-plan on the
    // survivors, tail third dropped) → Efraimidis–Spirakis length-
    // weighted draw of the final 100. Shuffles: the canonical-URL
    // window, the per-lang vocab aggregates, the per-doc score re-agg,
    // and the band window — text itself moves only through the
    // canonical-dedup exchange; selection is TakeOrdered.
    // UT1-style domain blocklist verdict (the RefinedWeb recipe's
    // first stage, standalone form): registrable domain of the planted
    // URL against a driver-held 3-row list — broadcast-hash lookup,
    // the probe side never shuffles. The oracle mirrors the domain
    // algebra and the literal list (one source of truth:
    // Urls.BlockedDomains).
    "q_domain_block" -> ((s, d) =>
      graft.ext.Urls.domainBlock(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    "q_refinedweb_funnel" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val src = col("source"); val lang = col("lang"); val id = col("doc_id")
      val orig = docs.select(id.as("doc_id"), lang.as("lang"),
        col("n_chars"), col("text"),
        graft.ext.Urls.messyUrlCol(1)(src, lang, id).as("url"))
      val dup = docs.select((id + 1000000L).as("doc_id"), lang.as("lang"),
        col("n_chars"), col("text"),
        graft.ext.Urls.messyUrlCol(2)(src, lang, id).as("url"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("canon")).orderBy(col("doc_id"))
      // stage 0 (published order: the UT1 gate runs before dedup):
      // broadcast anti-join on the registrable domain — no shuffle of
      // the text rows, so the funnel still crosses ONE exchange
      val unblocked = orig.unionByName(dup)
        .withColumn("bkey", graft.ext.Urls.blockKeyCol(col("url")))
        .join(broadcast(graft.ext.Urls.blocklistDf(s)),
          col("bkey") === col("bdom"), "left_anti")
        .drop("bkey")
      val deduped = unblocked
        .withColumn("canon", graft.ext.Urls.canonicalizeUrl(col("url")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      val gated = deduped
        .filter(graft.ext.CurationFilters.structuralKeepCol(col("text")))
      val toks = gated
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val freq = toks.groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
      val tot = freq.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
      val logp6 =
        round(log(col("cnt").cast("double") / col("n").cast("double")), 6)
          .cast("decimal(14,6)")
      val scored = toks.join(freq.join(tot, Seq("lang")), Seq("lang", "tok"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_tok"), sum(logp6).as("slog"))
        .select(col("doc_id"), col("lang"),
          (floor(col("slog").cast("double") / col("n_tok") * 1e4 + 0.5) / 1e4)
            .as("mean_logp"))
      val bw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("mean_logp").desc, col("doc_id"))
      val banded = scored.withColumn("pr", percent_rank().over(bw))
        .filter(col("pr") * 3 < 2)
        .select(col("doc_id"), col("lang"))
      graft.ext.Sampling
        .weightedTopK(
          banded.join(gated.select(col("doc_id"), col("n_chars")), Seq("doc_id")),
          "doc_id", col("n_chars"), 100)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (floor(col("es_key") * 1e6 + 0.5) / 1e6).as("key6"))
    }),

    // contrastive-pair mining: top same-label (positive) and top
    // different-label (HARD negative) neighbor per query vector —
    // broadcast query set, per-branch argmax as a partial aggregate
    // (no window over the pair stream). See Similarity.hardPairs.
    "q_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.ext.Similarity.hardPairs(emb, "vec_id", "embedding", "label",
          emb.filter(col("vec_id") < 20))
        .orderBy(col("qid"))
    }),

    // corpus-health analytics: per-source Zipf rank-frequency slope
    // (log-log least squares over the source vocabulary — a healthy
    // natural corpus sits near −1; synthetic/templated text flattens).
    // Determinism: per-point log coordinates rounded to 6 decimals and
    // summed as EXACT decimals (order-free partial aggregation), the
    // closed-form slope evaluated in double only at the end. Shuffles
    // bounded by vocabulary cardinality, never corpus size.
    "q_zipf_slope" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val freq = toks.groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("cnt").desc, col("tok"))
      val pts = freq.withColumn("rank", row_number().over(w))
        .select(col("source"),
          round(log(col("rank").cast("double")), 6).cast("decimal(14,6)").as("x"),
          round(log(col("cnt").cast("double")), 6).cast("decimal(14,6)").as("y"))
      pts.groupBy(col("source"))
        .agg(count(lit(1)).as("n_vocab"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("source"), col("n_vocab"),
          (floor((col("n_vocab").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
            / (col("n_vocab").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * 1e4 + 0.5) / 1e4).as("slope"))
        .orderBy(col("source"))
    }),

    // per-source KL divergence from the corpus unigram distribution —
    // the drift/contamination detector (a source whose token mix walks
    // away from the pool lights up). MLE both sides: the source vocab
    // is a subset of the corpus vocab, so q(tok) > 0 always and no
    // smoothing is needed. Same decimal-sum discipline.
    "q_source_kl" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val st = toks.groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c_st"))
      val sTot = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
      val ct = st.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
      val tot = ct.agg(sum(col("c_t")).as("n"))
      val term = (col("c_st").cast("double") / col("n_s").cast("double")) *
        log((col("c_st").cast("double") / col("n_s").cast("double")) /
          (col("c_t").cast("double") / col("n").cast("double")))
      st.join(sTot, Seq("source")).join(ct, Seq("tok"))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n_s"),
          round(term, 6).cast("decimal(14,6)").as("t6"))
        .groupBy(col("source"), col("n_s"))
        .agg(sum(col("t6")).as("skl"))
        .select(col("source"), col("n_s").as("n_tok"),
          (floor(col("skl").cast("double") * 1e4 + 0.5) / 1e4).as("kl"))
        .orderBy(col("source"))
    }),

    // Quality-signal correlation matrix — the corpus-health check on
    // the FILTER SIGNALS themselves (two near-duplicate signals waste
    // a gate; an anti-correlated pair explains disagreeing verdicts):
    // Pearson r between token count, alpha chars, and stopword hits.
    // All three signals are integers, so every sum is an EXACT
    // decimal(38,0) (order-free partial aggregation, no long overflow
    // at corpus scale); the closed form runs in double once, through
    // the floor contract. One aggregate over the corpus, 1-row output.
    "q_signal_corr" -> ((s, d) => {
      val stops = graft.ext.TextStats.Stopwords.flatMap(_._2)
      val sig = Tables.documents(s, d).select(
        size(split(col("text"), " ")).cast("long").as("x"),
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long").as("y"),
        graft.functions.TokenSetCount.token_set_count(col("text"), stops)
          .cast("long").as("z"))
      def dsum(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,0)"))
      val agg = sig.agg(count(lit(1)).as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"), dsum(col("z")).as("sz"),
        dsum(col("x") * col("x")).as("sxx"), dsum(col("y") * col("y")).as("syy"),
        dsum(col("z") * col("z")).as("szz"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("x") * col("z")).as("sxz"),
        dsum(col("y") * col("z")).as("syz"))
      def r(spq: String, sp: String, sq: String, spp: String, sqq: String) = {
        val nd = col("n").cast("double")
        val num = nd * col(spq).cast("double") -
          col(sp).cast("double") * col(sq).cast("double")
        val den = sqrt((nd * col(spp).cast("double") -
            col(sp).cast("double") * col(sp).cast("double")) *
          (nd * col(sqq).cast("double") -
            col(sq).cast("double") * col(sq).cast("double")))
        floor(num / den * 1e4 + 0.5) / 1e4
      }
      agg.select(col("n"),
        r("sxy", "sx", "sy", "sxx", "syy").as("r_len_alpha"),
        r("sxz", "sx", "sz", "sxx", "szz").as("r_len_stop"),
        r("syz", "sy", "sz", "syy", "szz").as("r_alpha_stop"))
    }),

    // Two-sample Kolmogorov–Smirnov drift statistic per source: the
    // max CDF gap between a source's doc-length distribution and the
    // whole corpus's — the distribution-shape drift detector
    // complementing q_source_kl's token-mix one. All-integer core:
    // ks_num = max |cum_s·N − cum_all·n_s| over the distinct-length
    // grid (exact longs at tested scales; the 100 TB form lifts the
    // products to decimal(38,0)), one double division at the end.
    // Every relation is histogram-sized (sources × distinct lengths),
    // never corpus-sized; the grid windows are metadata-class.
    // (q_median_exact in ExtQueries walks the same per-(source,
    // length) histogram without the grid fill — a change to either
    // derivation must visit both.)
    "q_ks_drift" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val hist = docs.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("c"))
      val grid = docs.select(col("n_chars")).distinct()
      val sources = docs.select(col("source")).distinct()
      val tot = hist.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
      val nAll = tot.agg(sum(col("n_s")).as("n_all"))
      val wS = Window.partitionBy(col("source")).orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumS = sources.crossJoin(broadcast(grid))
        .join(hist, Seq("source", "n_chars"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .withColumn("cum_s", sum(col("c")).over(wS))
      val wA = Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumAll = grid
        .join(hist.groupBy(col("n_chars")).agg(sum(col("c")).as("ca")),
          Seq("n_chars"), "left")
        .withColumn("ca", coalesce(col("ca"), lit(0L)))
        .withColumn("cum_all", sum(col("ca")).over(wA))
        .select(col("n_chars"), col("cum_all"))
      cumS.join(broadcast(cumAll), Seq("n_chars"))
        .join(broadcast(tot), Seq("source"))
        .crossJoin(broadcast(nAll))
        .groupBy(col("source"), col("n_s"), col("n_all"))
        .agg(max(abs(col("cum_s") * col("n_all") - col("cum_all") * col("n_s")))
          .as("ks_num"))
        .select(col("source"), col("n_s"),
          (floor(col("ks_num").cast("double")
            / (col("n_s").cast("double") * col("n_all")) * 1e6 + 0.5) / 1e6)
            .as("ks"))
        .orderBy(col("source"))
    }),

    // Token-budget curation cut: keep the highest-quality documents
    // whose cumulative token count fits a budget (half the corpus's
    // tokens) — the "best data that fits the training run" selector.
    // Semantically a global cumsum in (quality desc, doc_id) order;
    // executed WITHOUT a global window: quality is an exact fixed-point
    // int in [0, 10^4], so per-score-band token totals form a
    // CONSTANT-cardinality (≤10 001 rows) relation — the band cumsum
    // is a metadata-sized window, full bands resolve by broadcast
    // compare, and the only per-document window runs over the single
    // boundary band (documents sharing one exact score). The corpus
    // itself never sorts globally.
    "q_token_budget" -> ((s, d) => {
      import graft.ext.TextStats
      // coalesce: a NULL text must still score and keep its row — an
      // un-coalesced NULL q_fp would silently drop out of the band join
      // while the oracle emits every document
      val t = coalesce(col("text"), lit(""))
      val scored = Tables.documents(s, d).select(col("doc_id"),
        TextStats.qualityIntCol(t).cast("long").as("q_fp"),
        TextStats.wsTokensCol(t).cast("long").as("n_tok"))
      val wBand = org.apache.spark.sql.expressions.Window
        .orderBy(col("q_fp").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      // the budget derives from the band relation itself (sum(btok) ==
      // sum(n_tok)) — deriving it from `scored` would re-run the
      // regex-heavy quality scoring over the whole corpus a third time
      val bandTot = scored.groupBy(col("q_fp")).agg(sum(col("n_tok")).as("btok"))
      val budget = bandTot.agg(expr("sum(btok) div 2").as("b"))
      val bands = bandTot
        .withColumn("cum_before", coalesce(sum(col("btok")).over(wBand), lit(0L)))
        .crossJoin(broadcast(budget))
        .withColumn("band_state",
          when(col("cum_before") + col("btok") <= col("b"), "all")
            .when(col("cum_before") >= col("b"), "none")
            .otherwise("boundary"))
      val dj = scored.join(
        broadcast(bands.select(col("q_fp"), col("band_state"),
          col("cum_before"), col("b"))), Seq("q_fp"))
      val nonB = dj.filter(col("band_state") =!= "boundary")
        .select(col("doc_id"), col("q_fp"), col("n_tok"),
          (col("band_state") === "all").as("kept"))
      val wIn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_fp")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val bd = dj.filter(col("band_state") === "boundary")
        .withColumn("cum_in", sum(col("n_tok")).over(wIn))
        .select(col("doc_id"), col("q_fp"), col("n_tok"),
          (col("cum_before") + col("cum_in") <= col("b")).as("kept"))
      nonB.unionByName(bd).orderBy(col("doc_id"))
    }),

    // SPAN-level Dolma attributes (Soldaini et al. 2024 — the published
    // attribute format carries (start, end, score) SPANS): PII card
    // spans (Luhn-validated, exactly the runs LuhnRedact would rewrite)
    // and contaminated spans (maximal benchmark-3-gram-covered token
    // runs — the span form of the excision rule) persist once per
    // corpus signature; span POLICIES then filter the relation without
    // re-tagging. Cards planted valid-on-even / checksum-broken-on-odd
    // (only valid ones may span); src0 plays the benchmark. Both
    // offset conventions emitted: 0-based char [start,end) + 1-based
    // token [p_start,p_end].
    "q_span_attrs" -> ((s, d) => {
      val all = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), spanPlantedCol.as("text"))
      val dir = graft.ext.Attributes.spansFor(
        all.filter(col("source") =!= "src0"),
        all.filter(col("source") === "src0"), d, n = 3)
      graft.ext.Attributes.readSpans(s, dir)
        .orderBy(col("doc_id"), col("tag"), col("start"))
    }),

    // The span MIX: SCRUB instead of drop — cut every pii span (card,
    // email, phone, IP) plus contaminated spans covering ≥ 6 tokens (shorter runs
    // survive: a real policy choice exercised through the persisted
    // relation — re-tuning it touches only the small span store, the
    // taggers never re-run). Overlaps (the planted card inside a
    // shared '... pay CARD ref ...' gram run) merge before cutting.
    "q_span_mix" -> ((s, d) => {
      val all = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), spanPlantedCol.as("text"))
      val cand = all.filter(col("source") =!= "src0")
      val dir = graft.ext.Attributes.spansFor(
        cand, all.filter(col("source") === "src0"), d, n = 3)
      val spans = graft.ext.Attributes.readSpans(s, dir)
        .filter(col("tag").like("pii_%") || col("score") >= 6.0)
      graft.ext.Attributes.exciseSpans(cand, spans)
        .orderBy(col("doc_id"))
    })
  )

  /** Planted corpus for the span taggers — the q_luhn_scrub planting
    * discipline: base-text digits masked (a regenerated corpus can't
    * sneak a Luhn-valid run past the oracle), then a known-valid card
    * on even ids / its checksum-broken near-miss on odd ones. */
  private val SpanCards: Array[String] = Array(
    "4111111111111111", "5555555555554444",
    "4012888888881881", "6011000990139424")
  private val SpanCardsBad: Array[String] =
    SpanCards.map(v => v.init + ((v.last - '0' + 1) % 10).toString)

  private[queries] def spanPlantedCol: org.apache.spark.sql.Column = {
    def pick(arr: Array[String]) =
      when(col("doc_id") % 4 === 0, arr(0)).when(col("doc_id") % 4 === 1, arr(1))
        .when(col("doc_id") % 4 === 2, arr(2)).otherwise(arr(3))
    concat(regexp_replace(coalesce(col("text"), lit("")), "[0-9]", "x"),
      lit(" pay "),
      when(col("doc_id") % 2 === 0, pick(SpanCards)).otherwise(pick(SpanCardsBad)),
      lit(" ref "), col("doc_id").cast("string"),
      // email on every third doc; a TLD-less near-miss otherwise (the
      // email-token class must reject it)
      lit(" mail user"), col("doc_id").cast("string"),
      when(col("doc_id") % 3 === 0, "@example.com").otherwise("@example"),
      // phone on every fifth doc; a digit-short near-miss otherwise
      lit(" tel "),
      when(col("doc_id") % 5 === 0, "555-0142").otherwise("555-014x"),
      // dotted quad on every seventh doc; truncated near-miss otherwise
      lit(" host "),
      when(col("doc_id") % 7 === 0, "10.1.2.34").otherwise("10.1.2.x"))
  }

  /** q_keyword_tag's term list — shared verbatim with the oracle. All
    * borderless (see the query comment); two nesting chains. */
  private val KeywordTerms: Seq[String] =
    Seq("scan", "can", "an", "table", "able", "merge", "row", "spark")

  /** DuckDB mirror of the Dolma attributes relation + a mix predicate
    * over it: re-derives every tagger (the oracle has no persisted
    * artifact) and filters with `pred` — exactly what the engine's
    * join-against-persisted-attrs must equal. */
  private[queries] def dolmaAttrsSql(pred: String,
                                     rel: String = "documents"): String = {
    val B = graft.ext.LinearGate.Buckets
    val T = graft.ext.LinearGate.Threshold
    s"""WITH t AS (SELECT doc_id, coalesce(text, '') AS tx FROM $rel),
       |w AS (SELECT doc_id, tx,
       |        list_filter(string_split_regex(tx, '\\s+'), x -> x <> '') AS ws
       |      FROM t),
       |f AS (SELECT doc_id, tx, ws,
       |        list_concat(ws,
       |          CASE WHEN len(ws) >= 2
       |            THEN list_transform(range(1, len(ws)),
       |                   i -> ws[i] || '_' || ws[i + 1])
       |            ELSE CAST([] AS VARCHAR[]) END) AS fs
       |      FROM w),
       |a AS (SELECT doc_id, tx,
       |        CAST(len(ws) AS INT) AS n_words,
       |        CAST(${graft.ext.TextStats.qualityIntSql("tx")} AS BIGINT) AS quality_q4,
       |        ${graft.ext.TextStats.langIdSql("tx")} AS lang,
       |        (${graft.ext.CurationFilters.structuralKeepSql("tx")}) AS gopher_keep,
       |        (CAST(coalesce(list_sum(list_transform(fs, g ->
       |           ((CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % $B)
       |             * 2654435761) % 2003 - 1001)), 0) AS BIGINT)
       |          > $T * CAST(len(fs) AS BIGINT)) AS clf_keep
       |      FROM f)
       |SELECT doc_id, n_words, quality_q4, lang, gopher_keep, clf_keep,
       |  md5(tx) AS text_md5
       |FROM a WHERE $pred ORDER BY doc_id""".stripMargin
  }

  /** DuckDB Luhn check for the digit-run token expression `t` —
    * mirrors [[graft.functions.LuhnRedact.luhnValid]]: from the
    * rightmost digit (k=1 of the reversed string, NOT doubled), double
    * every second, subtract 9 over 9, total ≡ 0 (mod 10).
    * TRY_CAST, not CAST: DuckDB does NOT short-circuit a row filter's
    * AND, so this expression also evaluates on tokens the digit-run
    * regexp already rejected — a dotted quad ('10.1.2.34', planted for
    * the pii_ip tagger) aborts the whole query under a plain CAST.
    * For all-digit tokens TRY_CAST is value-identical; elsewhere the
    * NULL result is discarded by the regexp conjunct. */
  private def luhnSql(t: String): String =
    s"""list_sum(list_transform(generate_series(1, length($t)), k ->
       |  CASE WHEN k % 2 = 0 THEN
       |    CASE WHEN 2 * TRY_CAST(substr(reverse($t), k, 1) AS INT) > 9
       |         THEN 2 * TRY_CAST(substr(reverse($t), k, 1) AS INT) - 9
       |         ELSE 2 * TRY_CAST(substr(reverse($t), k, 1) AS INT) END
       |  ELSE TRY_CAST(substr(reverse($t), k, 1) AS INT) END)) % 10 = 0""".stripMargin

  /** Shared CTE chain deriving the span relation (pii + contaminated)
    * from scratch — the oracle has no persisted artifact. Char offsets
    * under the single-space join convention: token p starts at
    * len(join(toks[1:p-1],' '))+1 (0 for p=1). */
  private[queries] def spanCtesSql(rel: String = "documents"): String = {
    def pickSql(arr: Array[String]) =
      s"""CASE doc_id % 4 WHEN 0 THEN '${arr(0)}' WHEN 1 THEN '${arr(1)}'
         |       WHEN 2 THEN '${arr(2)}' ELSE '${arr(3)}' END""".stripMargin
    def csSql(p: String) =
      s"CASE WHEN $p = 1 THEN 0 ELSE length(array_to_string(toks[1:$p-1], ' ')) + 1 END"
    def csSqlQ(p: String) =
      s"CASE WHEN $p = 1 THEN 0 ELSE length(array_to_string(c.toks[1:$p-1], ' ')) + 1 END"
    // the email-token class, DuckDB form of Attributes.EmailTokenRe
    // (regexp_full_match carries the anchoring)
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    s"""WITH p AS (SELECT doc_id, source,
       |    concat(regexp_replace(coalesce(text, ''), '[0-9]', 'x', 'g'), ' pay ',
       |      CASE WHEN doc_id % 2 = 0 THEN ${pickSql(SpanCards)}
       |           ELSE ${pickSql(SpanCardsBad)} END,
       |      ' ref ', CAST(doc_id AS VARCHAR),
       |      ' mail user', CAST(doc_id AS VARCHAR),
       |      CASE WHEN doc_id % 3 = 0 THEN '@example.com' ELSE '@example' END,
       |      ' tel ',
       |      CASE WHEN doc_id % 5 = 0 THEN '555-0142' ELSE '555-014x' END,
       |      ' host ',
       |      CASE WHEN doc_id % 7 = 0 THEN '10.1.2.34' ELSE '10.1.2.x' END)
       |      AS tx
       |  FROM $rel),
       |tok AS (SELECT doc_id, source, tx, string_split(tx, ' ') AS toks FROM p),
       |cand AS (SELECT doc_id, tx, toks FROM tok WHERE source <> 'src0'),
       |piiraw AS (SELECT doc_id, toks, CAST(u.i AS INT) AS i
       |           FROM cand, unnest(generate_series(1, len(toks))) AS u(i)
       |           WHERE regexp_full_match(toks[u.i], '[0-9]{13,19}')
       |             AND ${luhnSql("toks[u.i]")}),
       |pii AS (SELECT doc_id, 'pii_card' AS tag, i AS p_start, i AS p_end,
       |          CAST(${csSql("i")} AS INT) AS start,
       |          CAST(${csSql("i")} + length(toks[i]) AS INT) AS "end",
       |          CAST(1.0 AS DOUBLE) AS score
       |        FROM piiraw),
       |emraw AS (SELECT doc_id, toks, CAST(u.i AS INT) AS i
       |          FROM cand, unnest(generate_series(1, len(toks))) AS u(i)
       |          WHERE regexp_full_match(toks[u.i], '$emailRe')),
       |piie AS (SELECT doc_id, 'pii_email' AS tag, i AS p_start, i AS p_end,
       |          CAST(${csSql("i")} AS INT) AS start,
       |          CAST(${csSql("i")} + length(toks[i]) AS INT) AS "end",
       |          CAST(1.0 AS DOUBLE) AS score
       |         FROM emraw),
       |phraw AS (SELECT doc_id, toks, CAST(u.i AS INT) AS i
       |          FROM cand, unnest(generate_series(1, len(toks))) AS u(i)
       |          WHERE regexp_full_match(toks[u.i], '[0-9]{3}-[0-9]{4}')),
       |piip AS (SELECT doc_id, 'pii_phone' AS tag, i AS p_start, i AS p_end,
       |          CAST(${csSql("i")} AS INT) AS start,
       |          CAST(${csSql("i")} + length(toks[i]) AS INT) AS "end",
       |          CAST(1.0 AS DOUBLE) AS score
       |         FROM phraw),
       |ipraw AS (SELECT doc_id, toks, CAST(u.i AS INT) AS i
       |          FROM cand, unnest(generate_series(1, len(toks))) AS u(i)
       |          WHERE regexp_full_match(toks[u.i],
       |            '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')),
       |piii AS (SELECT doc_id, 'pii_ip' AS tag, i AS p_start, i AS p_end,
       |          CAST(${csSql("i")} AS INT) AS start,
       |          CAST(${csSql("i")} + length(toks[i]) AS INT) AS "end",
       |          CAST(1.0 AS DOUBLE) AS score
       |         FROM ipraw),
       |bench AS (SELECT DISTINCT array_to_string(toks[i:i+2], ' ') AS g
       |          FROM tok, unnest(CASE WHEN len(toks) >= 3
       |                 THEN generate_series(1, len(toks) - 2) ELSE [] END) AS u(i)
       |          WHERE source = 'src0'),
       |candg AS (SELECT doc_id, CAST(i AS INT) AS pos,
       |            array_to_string(toks[i:i+2], ' ') AS g
       |          FROM cand, unnest(CASE WHEN len(toks) >= 3
       |                 THEN generate_series(1, len(toks) - 2) ELSE [] END) AS u(i)),
       |bad AS (SELECT DISTINCT doc_id, pos FROM candg JOIN bench USING (g)),
       |cov AS (SELECT DISTINCT doc_id, pos + CAST(o AS INT) AS pp
       |        FROM bad, unnest([0, 1, 2]) AS v(o)),
       |isl AS (SELECT doc_id, pp, pp - CAST(row_number() OVER (
       |          PARTITION BY doc_id ORDER BY pp) AS INT) AS grp FROM cov),
       |sp AS (SELECT doc_id, min(pp) AS p_start, max(pp) AS p_end,
       |         count(*) AS nn FROM isl GROUP BY doc_id, grp),
       |contam AS (SELECT s.doc_id, 'contaminated' AS tag,
       |             s.p_start, s.p_end,
       |             CAST(${csSqlQ("s.p_start")} AS INT) AS start,
       |             CAST(${csSqlQ("s.p_end")} + length(c.toks[s.p_end]) AS INT) AS "end",
       |             CAST(nn AS DOUBLE) AS score
       |           FROM sp s JOIN cand c USING (doc_id)),
       |spans AS (SELECT * FROM pii UNION ALL SELECT * FROM piie
       |          UNION ALL SELECT * FROM piip UNION ALL SELECT * FROM piii
       |          UNION ALL SELECT * FROM contam)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(

    "q_span_attrs" ->
      s"""${spanCtesSql()}
         |SELECT doc_id, tag, p_start, p_end, start, "end", score
         |FROM spans ORDER BY doc_id, tag, start""".stripMargin,

    // policy filter → interval-merge (running max(end) islands) →
    // ordered piece reassembly: kept text is the concat of inter-span
    // gaps plus the tail after the last merged span — char-exact with
    // the engine's right-to-left cut fold
    "q_span_mix" ->
      s"""${spanCtesSql()},
         |sel AS (SELECT doc_id, start, "end" FROM spans
         |        WHERE tag LIKE 'pii_%' OR score >= 6.0),
         |m0 AS (SELECT doc_id, start, "end",
         |        CASE WHEN start > coalesce(max("end") OVER (
         |            PARTITION BY doc_id ORDER BY start, "end"
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |          THEN 1 ELSE 0 END AS ni
         |       FROM sel),
         |m1 AS (SELECT doc_id, start, "end",
         |        sum(ni) OVER (PARTITION BY doc_id ORDER BY start, "end"
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |       FROM m0),
         |mg AS (SELECT doc_id, min(start) AS s, max("end") AS e
         |       FROM m1 GROUP BY doc_id, isl),
         |pieces AS (SELECT doc_id, s, e,
         |            coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
         |           FROM mg),
         |kept AS (SELECT pc.doc_id,
         |          string_agg(substr(c.tx, pc.pe + 1, pc.s - pc.pe), '' ORDER BY pc.s)
         |            AS head_part,
         |          max(pc.e) AS last_e,
         |          CAST(count(*) AS INT) AS n_spans,
         |          CAST(sum(pc.e - pc.s) AS INT) AS n_chars_cut
         |         FROM pieces pc JOIN cand c USING (doc_id) GROUP BY pc.doc_id)
         |SELECT c.doc_id,
         |  CASE WHEN k.doc_id IS NULL THEN c.tx
         |       ELSE coalesce(k.head_part, '') || substr(c.tx, k.last_e + 1) END
         |    AS clean_text,
         |  coalesce(k.n_spans, 0) AS n_spans,
         |  coalesce(k.n_chars_cut, 0) AS n_chars_cut
         |FROM cand c LEFT JOIN kept k USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q_mlm_masking" ->
      graft.ext.MlmMask.oracleSql("documents", "doc_id", "text"),

    "q_fim_transform" ->
      graft.ext.Fim.oracleSql("documents", "doc_id", "text"),

    "q_quality_classifier" ->
      s"""WITH res AS (
         |${graft.ext.LinearGate.scoreSql("documents")})
         |SELECT * FROM res ORDER BY doc_id""".stripMargin,

    "q_keyword_tag" -> {
      def cnt(p: String) =
        s"CAST((len(t) - len(replace(t, '$p', ''))) // ${p.length} AS BIGINT)"
      val cnts = KeywordTerms.map(cnt)
      val termCols = KeywordTerms.zip(cnts)
        .map { case (t, c) => s"$c AS c_$t" }
      s"""SELECT doc_id,
         |  ${cnts.mkString(" + ")} AS n_hits,
         |  CAST(${cnts.map(c => s"CASE WHEN $c > 0 THEN 1 ELSE 0 END")
                  .mkString(" + ")} AS INT) AS n_terms_hit,
         |  ${termCols.mkString(",\n  ")}
         |FROM (SELECT doc_id, coalesce(text, '') AS t FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "q_dolma_mix" -> dolmaAttrsSql("clf_keep AND gopher_keep"),
    "q_dolma_remix" ->
      dolmaAttrsSql("quality_q4 >= 5000 AND n_words >= 30 AND NOT clf_keep"),

    "q_gopher_filter" ->
      s"""WITH rel AS (
         |  ${CurationFilters.plantedRelSql(CurationFilters.gopherPlanted)}),
         |res AS (
         |${CurationFilters.gopherSql("rel")})
         |SELECT * FROM res ORDER BY doc_id""".stripMargin,

    "q_c4_filter" ->
      s"""WITH rel AS (
         |  ${CurationFilters.plantedRelSql(CurationFilters.c4Planted)}),
         |res AS (
         |${CurationFilters.c4Sql("rel")})
         |SELECT * FROM res ORDER BY doc_id""".stripMargin,

    // same selector arithmetic as the Spark side: first 8 md5 hex
    // digits of the stringified key, +1, over 2^32
    "q_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    pow((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1.0)
        |          / 4294967296.0,
        |        1.0 / n_chars) AS es_key
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  floor(es_key * 1e6 + 0.5) / 1e6 AS key6
        |FROM t ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin,

    "q_ppl_band" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |tt AS (SELECT doc_id, lang, tok FROM toks WHERE tok <> ''),
        |freq AS (SELECT lang, tok, count(*) AS cnt FROM tt GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM freq GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, tt.lang, count(*) AS n_tok,
        |    floor(CAST(sum(CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |                        AS DECIMAL(14,6))) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4
        |      AS mean_logp
        |  FROM tt JOIN freq USING (lang, tok) JOIN tot USING (lang)
        |  GROUP BY doc_id, tt.lang),
        |ranked AS (
        |  SELECT doc_id, lang, n_tok, mean_logp,
        |    percent_rank() OVER (PARTITION BY lang
        |                         ORDER BY mean_logp DESC, doc_id) AS pr
        |  FROM scored)
        |SELECT doc_id, lang, n_tok, mean_logp,
        |  CASE WHEN pr * 3 < 1 THEN 'head'
        |       WHEN pr * 3 < 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  (CASE WHEN pr * 3 < 1 THEN 'head'
        |        WHEN pr * 3 < 2 THEN 'middle'
        |        ELSE 'tail' END) <> 'tail' AS keep
        |FROM ranked ORDER BY doc_id""".stripMargin,

    "q_url_canon" ->
      """SELECT doc_id,
        |  'https://' ||
        |    CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END ||
        |    lower(source) || '-' || CAST(doc_id % 5 AS VARCHAR) ||
        |    '.example.com/' || lang || '/' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'sub/' ELSE '' END ||
        |    CAST(doc_id AS VARCHAR) ||
        |    CASE WHEN doc_id % 5 = 0 THEN '?a=1&b=2'
        |         WHEN doc_id % 5 = 1 THEN '?a=1'
        |         ELSE '' END AS url_canon,
        |  true AS collapse_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the selection is expressed as a rank here (the oracle may use a
    // global window; the Spark side must not) — identical verdicts
    // because the rounded scores are bit-identical and doc_id breaks
    // ties totally
    "q_dsir_select" ->
      """WITH toks AS (SELECT doc_id, lang, (lang = 'en') AS is_tgt,
        |                unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |tt AS (SELECT doc_id, lang, is_tgt, tok FROM toks WHERE tok <> ''),
        |tb AS (SELECT doc_id, lang, is_tgt,
        |         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 64 AS bucket
        |       FROM tt),
        |counts AS (SELECT bucket, count(*) AS c_raw,
        |             sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS c_tgt
        |           FROM tb GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_raw) AS BIGINT) AS n_raw,
        |          CAST(sum(c_tgt) AS BIGINT) AS n_tgt FROM counts),
        |model AS (SELECT bucket,
        |            CAST(c_tgt + 1 AS DOUBLE) / CAST(n_tgt + 64 AS DOUBLE) AS p_tgt,
        |            CAST(c_raw + 1 AS DOUBLE) / CAST(n_raw + 64 AS DOUBLE) AS p_raw
        |          FROM counts CROSS JOIN tot),
        |scored AS (
        |  SELECT doc_id, lang, count(*) AS n_tok,
        |    floor(CAST(sum(CAST(round(ln(p_tgt / p_raw), 6) AS DECIMAL(14,6)))
        |               AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS logratio
        |  FROM tb JOIN model USING (bucket) GROUP BY doc_id, lang)
        |SELECT doc_id, lang, n_tok, logratio,
        |  (row_number() OVER (ORDER BY logratio DESC, doc_id)) <= 150 AS selected
        |FROM scored ORDER BY doc_id""".stripMargin,

    "q_semdedup" ->
      """SELECT vec_id, false AS is_clone, true AS kept FROM embeddings
        |UNION ALL
        |SELECT vec_id + 1000000 AS vec_id, true AS is_clone, false AS kept
        |FROM embeddings WHERE vec_id % 5 = 0
        |ORDER BY vec_id""".stripMargin,

    // the planted contract is k-invariant (see the query comment), so
    // the auto-k variant pins the identical analytic oracle
    "q_semdedup_autok" ->
      """SELECT vec_id, false AS is_clone, true AS kept FROM embeddings
        |UNION ALL
        |SELECT vec_id + 1000000 AS vec_id, true AS is_clone, false AS kept
        |FROM embeddings WHERE vec_id % 5 = 0
        |ORDER BY vec_id""".stripMargin,

    // ... and the contract is also assignment-invariant (see the
    // q_semdedup_dist comment), so the distributed-training path pins
    // the identical analytic oracle again
    "q_semdedup_dist" ->
      """SELECT vec_id, false AS is_clone, true AS kept FROM embeddings
        |UNION ALL
        |SELECT vec_id + 1000000 AS vec_id, true AS is_clone, false AS kept
        |FROM embeddings WHERE vec_id % 5 = 0
        |ORDER BY vec_id""".stripMargin,

    // funnel mirror: the duplicate-spelling stage collapses exactly
    // back onto the originals (lower id wins on the shared canonical),
    // so the oracle starts from `documents` and chains the verified
    // structural-gate, per-lang LM band, and E-S draw forms
    // domain algebra = the q_url_parse oracle's; the IN-list is
    // generated from Urls.BlockedDomains (one source of truth)
    "q_domain_block" ->
      s"""SELECT doc_id,
         |  lower(source) || '-' || CAST(doc_id % 5 AS VARCHAR)
         |    || '.example.com' AS domain,
         |  (lower(source) || '-' || CAST(doc_id % 5 AS VARCHAR)
         |    || '.example.com') IN ${graft.ext.Urls.blockedDomainsSql}
         |    AS blocked
         |FROM documents ORDER BY doc_id""".stripMargin,

    // survivors = the structural gate MINUS the UT1 blocklist (both
    // messy spellings of a doc share its registrable domain, so the
    // gate removes originals and clones together and the URL-dedup
    // stage is otherwise unchanged: originals outrank their +1M
    // clones)
    "q_refinedweb_funnel" ->
      s"""WITH survivors AS (
         |  SELECT doc_id, lang, n_chars, text FROM documents
         |  WHERE ${CurationFilters.structuralKeepSql("text")}
         |    AND (lower(source) || '-' || CAST(doc_id % 5 AS VARCHAR)
         |         || '.example.com') NOT IN ${graft.ext.Urls.blockedDomainsSql}),
         |toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
         |         FROM survivors),
         |tt AS (SELECT doc_id, lang, tok FROM toks WHERE tok <> ''),
         |freq AS (SELECT lang, tok, count(*) AS cnt FROM tt GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM freq GROUP BY 1),
         |scored AS (
         |  SELECT doc_id, tt.lang,
         |    floor(CAST(sum(CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         |               AS DECIMAL(14,6))) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4
         |      AS mean_logp
         |  FROM tt JOIN freq USING (lang, tok) JOIN tot USING (lang)
         |  GROUP BY doc_id, tt.lang),
         |ranked AS (
         |  SELECT doc_id, lang,
         |    percent_rank() OVER (PARTITION BY lang
         |                         ORDER BY mean_logp DESC, doc_id) AS pr
         |  FROM scored),
         |banded AS (
         |  SELECT r.doc_id, r.lang, s.n_chars
         |  FROM ranked r JOIN survivors s USING (doc_id) WHERE pr * 3 < 2),
         |t AS (
         |  SELECT doc_id, lang, n_chars,
         |    pow((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1.0)
         |          / 4294967296.0,
         |        1.0 / n_chars) AS es_key
         |  FROM banded)
         |SELECT doc_id, lang, n_chars, floor(es_key * 1e6 + 0.5) / 1e6 AS key6
         |FROM t ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin,

    "q_hard_negatives" ->
      """WITH p AS (
        |  SELECT q.vec_id AS qid, q.label AS qlabel, n.vec_id AS nid,
        |    n.label AS nlabel,
        |    list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) AS cos
        |  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
        |  WHERE q.vec_id < 20),
        |r AS (
        |  SELECT qid, qlabel, nid, nlabel, cos,
        |    row_number() OVER (PARTITION BY qid, (qlabel = nlabel)
        |                       ORDER BY cos DESC, nid) AS rn
        |  FROM p)
        |SELECT qid, qlabel AS label,
        |  max(CASE WHEN qlabel = nlabel AND rn = 1 THEN nid END) AS pos_id,
        |  max(CASE WHEN qlabel = nlabel AND rn = 1
        |      THEN floor(cos * 1e4 + 0.5) / 1e4 END) AS pos_cos,
        |  max(CASE WHEN qlabel <> nlabel AND rn = 1 THEN nid END) AS neg_id,
        |  max(CASE WHEN qlabel <> nlabel AND rn = 1
        |      THEN floor(cos * 1e4 + 0.5) / 1e4 END) AS neg_cos
        |FROM r GROUP BY qid, qlabel ORDER BY qid""".stripMargin,

    "q_zipf_slope" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |tt AS (SELECT source, tok FROM toks WHERE tok <> ''),
        |freq AS (SELECT source, tok, count(*) AS cnt FROM tt GROUP BY 1, 2),
        |pts AS (
        |  SELECT source,
        |    CAST(round(ln(CAST(row_number() OVER (PARTITION BY source
        |                        ORDER BY cnt DESC, tok) AS DOUBLE)), 6)
        |         AS DECIMAL(14,6)) AS x,
        |    CAST(round(ln(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(14,6)) AS y
        |  FROM freq),
        |agg AS (
        |  SELECT source, count(*) AS n_vocab,
        |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx
        |  FROM pts GROUP BY 1)
        |SELECT source, n_vocab,
        |  floor((CAST(n_vocab AS DOUBLE) * CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n_vocab AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * 1e4 + 0.5) / 1e4 AS slope
        |FROM agg ORDER BY source""".stripMargin,

    "q_source_kl" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |tt AS (SELECT source, tok FROM toks WHERE tok <> ''),
        |st AS (SELECT source, tok, count(*) AS c_st FROM tt GROUP BY 1, 2),
        |stot AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
        |ct AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM ct),
        |terms AS (
        |  SELECT source, n_s,
        |    CAST(round((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)) *
        |      ln((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
        |         / (CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE))), 6)
        |      AS DECIMAL(14,6)) AS t6
        |  FROM st JOIN stot USING (source) JOIN ct USING (tok) CROSS JOIN tot)
        |SELECT source, n_s AS n_tok,
        |  floor(CAST(sum(t6) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS kl
        |FROM terms GROUP BY source, n_s ORDER BY source""".stripMargin,

    "q_signal_corr" -> {
      val allStops = graft.ext.TextStats.Stopwords.flatMap(_._2)
        .map(w => s"'$w'").mkString(",")
      s"""WITH sig AS (
         |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
         |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS y,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |      t -> t IN ($allStops))) AS BIGINT) AS z
         |  FROM documents),
         |agg AS (
         |  SELECT count(*) AS n,
         |    sum(CAST(x AS DECIMAL(38,0))) AS sx,
         |    sum(CAST(y AS DECIMAL(38,0))) AS sy,
         |    sum(CAST(z AS DECIMAL(38,0))) AS sz,
         |    sum(CAST(x*x AS DECIMAL(38,0))) AS sxx,
         |    sum(CAST(y*y AS DECIMAL(38,0))) AS syy,
         |    sum(CAST(z*z AS DECIMAL(38,0))) AS szz,
         |    sum(CAST(x*y AS DECIMAL(38,0))) AS sxy,
         |    sum(CAST(x*z AS DECIMAL(38,0))) AS sxz,
         |    sum(CAST(y*z AS DECIMAL(38,0))) AS syz
         |  FROM sig)
         |SELECT n,
         |  floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |    * 1e4 + 0.5) / 1e4 AS r_len_alpha,
         |  floor((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
         |         - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
         |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |         * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
         |            - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
         |    * 1e4 + 0.5) / 1e4 AS r_len_stop,
         |  floor((CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
         |         - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
         |    / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         |         * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
         |            - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
         |    * 1e4 + 0.5) / 1e4 AS r_alpha_stop
         |FROM agg""".stripMargin
    },

    "q_ks_drift" ->
      """WITH hist AS (SELECT source, n_chars, count(*) AS c
        |              FROM documents GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT n_chars FROM documents),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s
        |        FROM hist GROUP BY 1),
        |nall AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_all FROM tot),
        |cum_s AS (
        |  SELECT s.source, g.n_chars,
        |    sum(coalesce(h.c, 0)) OVER (PARTITION BY s.source
        |      ORDER BY g.n_chars ROWS UNBOUNDED PRECEDING) AS cum_s
        |  FROM srcs s CROSS JOIN grid g
        |  LEFT JOIN hist h ON h.source = s.source AND h.n_chars = g.n_chars),
        |cum_all AS (
        |  SELECT g.n_chars,
        |    sum(coalesce(a.ca, 0)) OVER (ORDER BY g.n_chars
        |      ROWS UNBOUNDED PRECEDING) AS cum_all
        |  FROM grid g LEFT JOIN
        |    (SELECT n_chars, CAST(sum(c) AS BIGINT) AS ca
        |     FROM hist GROUP BY 1) a USING (n_chars))
        |SELECT source, n_s,
        |  floor(CAST(max(abs(cum_s * n_all - cum_all * n_s)) AS DOUBLE)
        |        / (CAST(n_s AS DOUBLE) * n_all) * 1e6 + 0.5) / 1e6 AS ks
        |FROM cum_s JOIN cum_all USING (n_chars)
        |  JOIN tot USING (source) CROSS JOIN nall
        |GROUP BY source, n_s, n_all ORDER BY source""".stripMargin,

    // the oracle states the SEMANTICS (one global cumsum in quality
    // order); the Spark side must reach the same verdicts through the
    // banded plan
    "q_token_budget" ->
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    CAST(${graft.ext.TextStats.qualityIntSql("coalesce(text, '')")} AS BIGINT) AS q_fp,
         |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) // 2 AS b FROM scored),
         |c AS (SELECT doc_id, q_fp, n_tok,
         |        sum(n_tok) OVER (ORDER BY q_fp DESC, doc_id
         |                         ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM scored)
         |SELECT doc_id, q_fp, n_tok, (cum <= b) AS kept
         |FROM c CROSS JOIN tot ORDER BY doc_id""".stripMargin
  )
}
