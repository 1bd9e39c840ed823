package graft

/** Benchmark main (driver contract): runs the headline query set
  * against SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query
  * seconds.
  *
  * Timing methodology: each query materializes through the `noop` sink
  * — `count()` would let Catalyst drop the output sort and any column
  * not needed for counting, under-measuring the real plan.
  *
  * THE RECORD CANNOT GO MISSING (the r17 failure: the full 136-query
  * set outgrew the driver's ~3600 s budget, was killed at rc=124, and
  * emitted nothing). Four structural defenses, each independent:
  *  1. DEADLINE-AWARE: a SPARK_GRAFT_BENCH_BUDGET_S soft budget
  *     (default 2700 s) is checked before every sample and every
  *     retry; once exceeded, no new sample starts and the record is
  *     emitted with whatever samples exist, the short-sampled queries
  *     listed in `truncated_names`.
  *  2. INCREMENTAL EMISSION: the running record prints after EVERY
  *     full iteration pass, so even a hard kill mid-iteration leaves a
  *     complete parseable line from the previous pass in the log (plus
  *     a shutdown hook re-printing the latest record on SIGTERM).
  *  3. TRIMMED + ROTATED SET: redundant per-machine variants (the
  *     four streaming-pack queries, the eight generation-store
  *     protocol queries) keep ONE canonical representative in every
  *     round's core set; the rest rotate through a deterministic
  *     round-keyed tranche (key = count of committed BENCH_r*.json
  *     records, overridable via SPARK_GRAFT_BENCH_TRANCHE), so full
  *     drift coverage recurs every ROTATION_TRANCHES rounds while the
  *     committed bench_baseline.json keeps guarding all of them.
  *  4. TAIL-SIZED FINAL LINE: the driver records only the LAST ~2000
  *     chars of output and scans them for a parseable JSON line — a
  *     128-query map (~3.5 KB) can never parse from that window (every
  *     rc=0 round r14-r16 shipped parsed:null this way). The FINAL
  *     printed line is therefore size-capped: per-query numbers enter
  *     HEAVIEST-FIRST until the line reaches ~1500 chars, the rest are
  *     counted in `queries_elided`, and the complete per-query map is
  *     both printed earlier in the log and committed to
  *     BENCH_detail.json (one valid JSON object).
  *
  * Warmup: queries ALREADY IN the committed baseline skip the untimed
  * warmup pass (a full extra pass was ~40% of r17's wall) — with ≥3
  * round-robin iterations the one cold first sample is discarded by
  * the median and the calm-min drift guard alike. Queries absent from
  * the baseline (new this round) still warm, so their to-be-seeded
  * medians stay steady-state.
  */
object Bench {
  // Headline inventory: one representative per operator family (the
  // full query inventory runs under Verify; all-pairs oracle forms are
  // excluded in favor of their sub-quadratic scale paths). CORE
  // queries run every round; ROTATING queries are redundant
  // per-machine protocol variants — each exercises machinery a core
  // canonical already times every round — and run one tranche per
  // round. Object-level (not main-local) so BenchRotationSpec can pin
  // the selection contract: core ∪ all tranches = the guarded set,
  // canonicals in core, selection a pure function of the round key.
  private[graft] val core = Seq(
    "q_agg_pricing", "q_join_revenue_by_nation", "q_window_topk_orders",
    "q_filter_topn", "q_rollup_lineitem", "q_events_json_props",
    "q_doc_pipeline", "q_route_good", "q_split_tokens",
    "q_extract_fixtures", "q_dedup_exact", "q_dedup_minhash",
    "q_dedup_simhash", "q_dedup_embed_lsh", "q_winnow_pairs",
    "q_knn_lsh", "q_knn_ivf",
    "q_token_stats", "q_fingerprint", "q_salted_agg",
    "q_sample_stratified", "q_vocab_topn", "q_contamination",
    "q_curation_funnel", "q_asof_join", "q_range_join", "q_tfidf_topk",
    "q_chunk_docs", "q_bloom_screen", "q_embed_quantize",
    "q_line_dedup", "q_self_excise",
    "q_multimodal_frames", "q_multimodal_decode", "q_skew_aqe_join",
    "q_stream_window", "q_sessionize",
    "q_knn_ivf_pq", "q_audio_decode", "q_dedup_keep_canonical",
    "q_multimodal_resize_oriented", "q_source_mixture",
    "q_video_meta", "q_curation_funnel3", "q_bpe_merges",
    "q_tar_members", "q_chunk_cdc", "q_hygiene_funnel",
    "q_gopher_filter", "q_dsir_select", "q_semdedup",
    "q_refinedweb_funnel",
    "q_bm25_topk", "q_token_budget",
    "q_pagerank_hosts", "q_inverted_index", "q_scd2", "q_image_funnel",
    "q_stream_scd2", "q_dedup_editdist",
    "q_warc_members", "q_wet_text", "q_trigram_prefilter",
    "q_domain_block", "q_stream_bm25_ingest", "q_bpe_encode",
    "q_pmi_colloc", "q_retention_cohorts", "q_median_exact",
    "q_ks_drift", "q_funnel_provenance", "q_zorder_layout",
    "q_corpus_diff", "q_dedup_threshold_sweep",
    "q_wet_funnel", "q_warc_derive_wet", "q_quality_classifier",
    "q_stream_warc", "q_dolma_mix", "q_dolma_remix", "q_keyword_tag",
    "q_stream_attrs_ingest", "q_kmeans_topics", "q_kmeans_balanced_sample",
    "q_cms_heavy_hitters", "q_stream_kmeans_ingest", "q_stream_cms_ingest",
    "q_anchor_text", "q_source_overlap", "q_mlm_masking",
    "q_fim_transform", "q_stream_mlm", "q_trigram_backoff",
    "q_kmeans_inertia",
    "q_span_attrs", "q_span_mix", "q_sentence_split", "q_chunk_sentences",
    "q_store_compact", "q_pack_attention", "q_tokenize_roundtrip",
    "q_stream_sentences", "q_stream_span_ingest",
    "q_epoch_mix", "q_length_buckets", "q_pretrain_pipeline",
    "q_stream_epoch_mix",
    // streaming-pack machine: carry is the canonical superset
    // (micro-batch engine ×2 + atomic generations + cross-batch
    // carry); the unigram/wordpiece/plain variants rotate
    "q_stream_pack_carry",
    "q_unigram_tokenize", "q_unigram_roundtrip",
    "q_unigram_pack", "q_temperature_mix",
    "q_stream_temperature_mix", "q_tokenizer_fertility",
    "q_unigram_vocab_cap", "q_unigram_store",
    "q_pretrain_pipeline_unigram",
    "q_wordpiece_tokenize", "q_wordpiece_roundtrip", "q_wordpiece_pack",
    "q_wordpiece_store",
    "q_wordpiece_vocab_cap",
    // generation-store machine: one canonical batch tier
    // (q_genstore_bm25: build+ingest+fold+GC+serve) and one
    // canonical streaming maintainer (q_stream_genstore_bm25);
    // the per-store protocol variants rotate
    "q_genstore_bm25", "q_stream_genstore_bm25",
    // round-17 additions
    "q_tokenizer_interchange", "q_semdedup_autok", "q_extract_synth",
    // round-18 additions
    "q_semdedup_dist", "q_extract_heavy",
    // round-19 additions
    "q_stream_semdedup",
    // round-20 addition: the cold-build rung for the build-once
    // stores — the only place the bench times the store BUILD path
    // (serve queries ensure-probe a content-keyed store that survives
    // across iterations AND runs), so §6 writer-sizing wins/regressions
    // get a committed, drift-guarded number (VERDICT r19 #5)
    "q_store_build_cold")
  private[graft] val rotating = Seq(
    "q_stream_pack", "q_stream_unigram_pack", "q_stream_wordpiece_pack",
    "q_genstore_ann", "q_genstore_spans", "q_genstore_attrs",
    "q_genstore_cms", "q_genstore_kmeans", "q_stream_genstore_spans")
  private[graft] val RotationTranches = 3
  private[graft] val headlineAll = core ++ rotating
  /** The round's query set as a pure function of the round key — a
    * regression in a rotating query is caught at most
    * [[RotationTranches]] rounds late, with bench_baseline.json
    * guarding all of them whenever they run. */
  private[graft] def roundSet(tranche: Int): Seq[String] = core ++
    rotating.zipWithIndex.collect {
      case (q, i) if i % RotationTranches == tranche % RotationTranches => q
    }

  /** IO-weather verdict for one flagged query (object-level so
    * BenchRotationSpec can replay the r18 scenario without a loaded
    * disk): given the samples that produced the flagging evidence
    * (each `(seconds, leadSentinel, trailSentinel, ioRead)`) and the
    * baseline's calm io_p50, the flag is DISK-SUSPECT when every one
    * of those samples ran with the 4 MB write+fsync probe above
    * [[IoSuspectWire]]× the calm yardstick — "the disk was busy", not
    * "the code got slower". One io-quiet flagging sample exonerates
    * nothing-suspect (the slowness survived calm disk); a missing
    * probe reading (-1) is conservatively NOT suspect evidence. */
  private[graft] val IoSuspectWire = 4.0
  private[graft] def ioSuspectVerdict(
      usable: Seq[(Double, Double, Double, Double)],
      baselineIoP50: Option[Double]): Boolean =
    baselineIoP50.exists { b =>
      val reads = usable.map(_._4).filter(_ >= 0)
      reads.nonEmpty && reads.length == usable.length &&
        reads.forall(_ > IoSuspectWire * b)
    }

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "2700").toDouble
    def elapsedS: Double = (System.nanoTime() - startNs) / 1e9
    def overBudget: Boolean = elapsedS > budgetS
    val spark = GraftSession.local(GraftSession.cores)
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // round key: committed official records in the REPO ROOT — walk up
    // from cwd to the dir holding build.sbt (launched from a subdir,
    // the old cwd count silently pinned tranche 0 forever and two of
    // the three tranches were never drift-guarded — ADVICE r18).
    // Deterministic per round, no clock.
    val tranche = sys.env.get("SPARK_GRAFT_BENCH_TRANCHE").map(_.toInt)
      .getOrElse {
        var dir = new java.io.File(".").getAbsoluteFile
        while (dir != null && !new java.io.File(dir, "build.sbt").exists())
          dir = dir.getParentFile
        if (dir == null)
          System.err.println("[bench] WARNING: no repo root (build.sbt) " +
            "above cwd — tranche round key unavailable, pinned to 0; set " +
            "SPARK_GRAFT_BENCH_TRANCHE to rotate")
        val files = Option(dir).flatMap(d => Option(d.listFiles()))
          .getOrElse(Array.empty[java.io.File])
        files.count(_.getName.matches("BENCH_r\\d+\\.json")) % RotationTranches
      }
    // scale-ladder hook: run a SUBSET (selected from the FULL
    // inventory, so ladder runs can time rotated-out queries too).
    // Unknown or zero-match selections fail LOUDLY — the Verify
    // discipline: a typo must not masquerade as a clean empty record.
    val headline = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(raw) =>
        val only = raw.split(',').map(_.trim).filter(_.nonEmpty).toSet
        val unknown = only.diff(headlineAll.toSet)
        require(unknown.isEmpty,
          "SPARK_GRAFT_BENCH_ONLY names not in the headline set: " +
            unknown.toSeq.sorted.mkString(", "))
        // and against the live query registry: a stale headlineAll
        // entry would otherwise throw inside timedSample's catch-all
        // and record a near-zero bogus sample (ADVICE r18)
        val unimpl = only.filterNot(SparkEntry.queries.contains)
        require(unimpl.isEmpty,
          "SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: " +
            unimpl.toSeq.sorted.mkString(", "))
        val sel = headlineAll.filter(only.contains)
        require(sel.nonEmpty,
          "SPARK_GRAFT_BENCH_ONLY selected zero queries")
        sel
      case None => roundSet(tranche).filter(SparkEntry.queries.contains)
    }

    // ≥3 timed iterations per query, report the MEDIAN (and min): this
    // host's throughput varies severalfold (SCALE.md), so a single run
    // can misreport a query by 20-40× in either direction.
    //
    // Iterations run ROUND-ROBIN across queries (round 1 of every query,
    // then round 2, …) rather than back-to-back per query: a sustained
    // host-contention window then shifts ONE sample of every query —
    // which the median discards — instead of swallowing all samples of
    // whichever query it happened to land on (BENCH_r04 reported
    // q_contamination at 82 s this way while an idle-host re-time
    // measured 2.3-2.8 s).
    //
    // A fixed constant-work sentinel is timed before AND after every
    // query slot, bracketing every sample with host-load readings. A
    // sample is "calm" only when BOTH brackets ran ≤2× the sentinel
    // floor; queries with NO calm sample get bounded re-runs, and the
    // ones still without a calm sample after retries are listed in
    // queries_contended — the record defends itself instead of being
    // silently wrong (BENCH_r08 shipped ~2.4× uniform inflation).
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    val maxRetries = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRIES", "2").toInt.max(0)

    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE", "bench_baseline.json")
    val (baseline: Map[String, Double], baselineIoP50: Option[Double]) = try {
      val f = new java.io.File(baselinePath)
      if (!f.exists) (Map.empty[String, Double], None)
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath))
        val sfOk = "\"sf_dir\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
          .exists(_.group(1) == sfDir)
        if (!sfOk) (Map.empty[String, Double], None)
        else ("\"(q_[a-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap,
          // the calm-run median of the 4 MB write+fsync probe — the
          // absolute disk yardstick the io_suspect annotation compares
          // this run's per-sample readings against
          "\"io_p50\"\\s*:\\s*([0-9.]+)".r.findFirstMatchIn(txt)
            .map(_.group(1).toDouble))
      }
    } catch { case _: Exception => (Map.empty[String, Double], None) }

    // bit_xor, not sum: summing id * large-constant over 8M rows
    // overflows Long, which under Spark 4's default ANSI mode throws
    // ARITHMETIC_OVERFLOW (this killed BENCH_r05). xor does the same
    // constant per-row work with no overflow semantics.
    //
    // A FAILED probe returns -1, never its elapsed time: a probe that
    // throws fast (transient executor loss) would otherwise enter the
    // pool as an artificially-fast reading, collapse the 2×-min calm
    // floor below what any honest sentinel can reach, and burn every
    // query's retry budget on an idle host — min-keyed fragility of
    // exactly the shape the run-level flag already moved to the median
    // to avoid.
    def sentinel(): Double = {
      val t0 = System.nanoTime()
      try {
        spark.range(0, 8L * 1000 * 1000, 1, GraftSession.cores)
          .selectExpr("bit_xor(id * 2654435761) AS s")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    }
    sentinel() // warm the sentinel plan itself so its first timing is comparable

    // Untimed warmup ONLY for queries the committed baseline does not
    // yet guard (defense 4's wall-clock trim): their seeded medians
    // must be steady-state; everything else round-robins its cold run
    // into iteration 1, where the median and the calm-min both discard
    // it. SPARK_GRAFT_BENCH_WARMUP=full restores the old full pass.
    val warmAll = sys.env.get("SPARK_GRAFT_BENCH_WARMUP").contains("full")
    for (name <- headline if warmAll || !baseline.contains(name))
      if (!overBudget) try run(name) catch { case _: Throwable => }

    // per-query samples as (seconds, sentinelBefore, sentinelAfter,
    // ioRead) tuples — every sample is BRACKETED by sentinel probes
    // and carries the disk reading taken at its slot. The
    // leading probe catches load already present when the sample
    // starts; the trailing probe catches a burst that began MID-sample
    // (the BENCH_r14 failure: q_warc_members re-ran five times inside
    // one load burst, each re-run's leading probe taken before the
    // burst's next spike, so all five loaded samples classed calm and
    // the record accused an innocent query at 21× baseline).
    val samples = scala.collection.mutable.Map(
      headline.map(_ -> Vector.empty[(Double, Double, Double, Double)]): _*)
    val sentinels = scala.collection.mutable.ArrayBuffer.empty[Double]
    def probe(): Double = {
      val sv = sentinel()
      // a failed probe contributes no floor reading, and a sample it
      // brackets is conservatively NOT calm (paired with +∞)
      if (sv >= 0) { sentinels += sv; sv } else Double.MaxValue
    }
    // The FIRST probe right after a multi-second query measures the
    // query's own JVM aftermath (GC debt, shuffle-file page-cache
    // churn), not host load — observed ~0.3 s uniformly after every
    // heavy query on an otherwise idle host, which would flag exactly
    // the heavy queries as contended. The trailing bracket therefore
    // probes up to three times and keeps the BEST reading, stopping
    // early once one is calm: self-inflicted debris clears after the
    // first probe, while a genuine burst inflates all three. Only the
    // best reading enters the floor pool (the debris readings would
    // drag sentinel_p50 up and could trip the run-level wire falsely).
    def trailingProbe(): Double = {
      var best = Double.MaxValue
      var i = 0
      while (i < 3 && !(sentinels.nonEmpty && {
        val f = sentinels.sorted.apply(sentinels.length / 10)
        best <= 2.0 * f
      })) {
        val sv = sentinel()
        if (sv >= 0 && sv < best) best = sv
        i += 1
      }
      if (best < Double.MaxValue) { sentinels += best; best }
      else Double.MaxValue
    }
    // IO-weather diagnostic (summary-only — calm classification stays
    // on the CPU sentinel so baselines keep their meaning): one 4 MB
    // write+fsync per sample slot, pooled into io_p50/io_max. The
    // pure-CPU sentinel cannot see a disk-contended window (blind spot
    // (b) below); these absolute readings let a judge tell "code got
    // slower" from "the disk was busy" without a snapshot A/B.
    val ioProbes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ioBuf = new Array[Byte](4 << 20)
    def ioProbe(): Double = try {
      val t0 = System.nanoTime()
      val p = java.nio.file.Files.createTempFile("graft_bench_io", ".bin")
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.WRITE)
      ch.write(java.nio.ByteBuffer.wrap(ioBuf))
      ch.force(true)
      ch.close()
      java.nio.file.Files.delete(p)
      val d = (System.nanoTime() - t0) / 1e9
      ioProbes += d
      d
    } catch { case _: Throwable => -1.0 }
    def timedSample(name: String): Unit = {
      val ioRead = ioProbe()
      val lead = probe()
      // drop caches persisted inside operators (route fan-out, shingle
      // index) so queries don't inherit each other's memory pressure
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      // per-query CacheScope: the timed window includes the scope-exit
      // release, matching how a library caller pays for the caches
      try graft.ext.CacheScope.withScope { run(name) }
      catch { case _: Throwable => }
      val t = (System.nanoTime() - t0) / 1e9
      val trail = trailingProbe()
      samples.update(name, samples(name) :+ ((t, lead, trail, ioRead)))
    }

    // ---- calm classification (shared by the retry passes and the
    // emitter, so a mid-run emission classifies exactly like the final
    // one would at that moment) -------------------------------------
    // The FLOOR is the sentinels' 10th percentile, not their min: the
    // min is a single lucky probe (this host idles at p10 ≈ p50 ≈
    // 0.07-0.08 s with an occasional 0.04 s outlier — min-keyed calm
    // classed HALF of an idle run's samples as loaded). p10 needs ~10%
    // of probes to agree before it moves, so one outlier can't halve
    // the floor, while a genuinely calm stretch still lowers it.
    // all-probes-failed ⇒ no floor exists: nothing is calm, retries
    // re-attempt the probe, and a still-empty pool ends contended with
    // sentinel fields at -1 — a visibly-broken record, not a fake-calm
    // one.
    def sFloorNow = if (sentinels.isEmpty) -1.0
      else sentinels.sorted.apply(sentinels.length / 10)
    // a sample is calm only when BOTH brackets are quiet: a loaded
    // trailing probe means the burst overlapped the sample's window
    def calmPair(lead: Double, trail: Double): Boolean = {
      val f = sFloorNow
      f > 0 && lead <= 2.0 * f && trail <= 2.0 * f
    }
    def hasCalm(name: String): Boolean =
      samples(name).exists { case (_, l, tr, _) => calmPair(l, tr) }

    // ---- the emitter ------------------------------------------------
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.4f", v)
    // names are q_[a-z0-9_] identifiers today, but a malformed one must
    // degrade to an ugly-but-parseable line, not an invalid record
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def obj(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => jstr(k) + ":" + num(v) }.mkString("{", ",", "}")
    def nameArr(xs: Seq[String], cap: Int): String =
      (xs.take(cap) ++ (if (xs.length > cap) Seq(s"+${xs.length - cap} more") else Nil))
        .map(jstr).mkString("[", ",", "]")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_detail.json")
    @volatile var lastFinal: String = null
    var emitted = false
    // Compute-and-print the CURRENT record. Prints, in order: the full
    // per-query summary (complete but too wide for the driver's tail
    // window), the detail line, then the SIZE-CAPPED final line —
    // always last, so the tail window always ends with one complete
    // parseable line. `partial` marks mid-run emissions.
    def emit(partial: Boolean, writeDetail: Boolean): Unit = {
      val ran = headline.filter(samples(_).nonEmpty)
      val results = ran.map { name =>
        // median/min over the calm (both-brackets-quiet) samples when
        // any exist — burst-overlapped samples are DISCARDED, they
        // only widen the median upward; all samples otherwise
        val all = samples(name)
        val usable = {
          val c = all.filter(p => calmPair(p._2, p._3)); if (c.nonEmpty) c else all
        }
        val times = usable.map(_._1).sorted
        val n = times.length
        val median =
          if (n % 2 == 1) times(n / 2)
          else (times(n / 2 - 1) + times(n / 2)) / 2
        (name, median, times.head)
      }
      val flagged = ran.filterNot(hasCalm)
      val truncated = headline.filter(samples(_).length < iters)
      val sFloor = sFloorNow
      val sMin = if (sentinels.isEmpty) -1.0 else sentinels.min
      val sMax = if (sentinels.isEmpty) -1.0 else sentinels.max
      val sP50 = if (sentinels.isEmpty) -1.0
        else sentinels.sorted.apply(sentinels.length / 2)
      // run-level flag: any query still contended after retries, or
      // the host was busy for most of the run (sentinel MEDIAN vs the
      // p10 FLOOR; threshold 2.0 — the r13 run sat at 2.1 under
      // sustained moderate load and slipped under a 3.0 wire, shipping
      // 16 false regression flags; an idle host measures ≈ 1.0-1.3).
      val contended = flagged.nonEmpty || (sFloor > 0 && sP50 / sFloor > 2.0)
      // Drift guard: per-query baseline (committed bench_baseline.json
      // — the last judge-confirmed uncontended medians at sf0.1). A
      // query REGRESSED when its best CALM sample still runs > 1.3×
      // its baseline median AND at least 0.3 s above it (the absolute
      // floor exists because sub-second IO-shaped queries drift ±40%
      // with the HOST's day, not the code). Queries absent from the
      // baseline are skipped — they enter it at the next refresh. The
      // guard only speaks when the bench ran at the baseline's sf.
      val regressed = results.collect {
        case (name, _, minT)
          if hasCalm(name) &&
            baseline.get(name).exists(b => minT > 1.3 * b && minT - b > 0.3) =>
            name
      }
      val qs = obj(results.map(r => r._1 -> r._2))
      val qsMin = obj(results.map(r => r._1 -> r._3))
      val total = results.map(_._2).sum
      // Per-flag audit: every sample of every flagged query as
      // [seconds, leadSentinel, trailSentinel, ioRead], plus an
      // IO-WEATHER verdict. The CPU sentinel cannot see a
      // disk-contended window (blind spot (b) above) — the r18
      // IO-loaded window flagged two innocent queries through five
      // calm CPU brackets each and cost a manual git-worktree A/B to
      // exonerate. io_suspect=true when EVERY sample that produced the
      // flagging evidence (the calm-CPU ones when any exist) carries a
      // disk reading > 4× the baseline's calm io_p50: the flag then
      // reads "the disk was busy", not "the code got slower", and the
      // judge can discount it without a snapshot A/B.
      def ioSuspect(name: String): Boolean = {
        val all = samples(name)
        val usable = {
          val c = all.filter(p => calmPair(p._2, p._3)); if (c.nonEmpty) c else all
        }
        ioSuspectVerdict(usable, baselineIoP50)
      }
      def auditFor(names: Seq[String]): String =
        names.map { n =>
          val rows = samples(n).map { case (t, l, tr, io) =>
            val trS = if (tr == Double.MaxValue) "-1" else num(tr)
            val lS = if (l == Double.MaxValue) "-1" else num(l)
            val ioS = if (io < 0) "-1" else num(io)
            s"[${num(t)},$lS,$trS,$ioS]"
          }.mkString("[", ",", "]")
          jstr(n) + s""":{"samples":$rows,"io_suspect":${ioSuspect(n)}}"""
        }.mkString("{", ",", "}")
      val flagAudit = auditFor((flagged ++ regressed).distinct)
      val ioP50 = if (ioProbes.isEmpty) -1.0
        else ioProbes.sorted.apply(ioProbes.length / 2)
      val ioMax = if (ioProbes.isEmpty) -1.0 else ioProbes.max
      val fullSummary = s"""{"metric":"total","queries":$qs,"sf":"$sfDir","iters":$iters,"tranche":$tranche,"partial":$partial,"elapsed_s":${num(elapsedS)},"sentinel_min":${num(sMin)},"sentinel_p10":${num(sFloor)},"sentinel_p50":${num(sP50)},"sentinel_max":${num(sMax)},"io_p50":${num(ioP50)},"io_max":${num(ioMax)},"n_contended":${flagged.length},"contended":$contended,"n_regressed":${regressed.length},"n_truncated":${truncated.length},"contended_names":${nameArr(flagged, 6)},"regressed_names":${nameArr(regressed, 6)},"truncated_names":${nameArr(truncated, 6)},"unit":"sec","value":${num(total)}}"""
      val detail = s"""{"metric":"bench_detail","queries_min":$qsMin,"queries_contended":${flagged.map(jstr).mkString("[", ",", "]")},"regressed":${regressed.map(jstr).mkString("[", ",", "]")},"truncated":${truncated.map(jstr).mkString("[", ",", "]")},"flag_audit":$flagAudit,"max_samples":${(samples.values.map(_.length) ++ Seq(0)).max}}"""
      // the FINAL line, sized for the driver's ~2000-char tail window
      // (minus sbt's [success]/GC-warn trailer): per-query numbers
      // enter HEAVIEST-FIRST — the scale-relevant ones — until the
      // cap; the complete map is in the full summary above and in the
      // committed detail file.
      val fixed = s""","sf":"$sfDir","iters":$iters,"tranche":$tranche,"partial":$partial,"n_queries":${results.length},"sentinel_p10":${num(sFloor)},"sentinel_p50":${num(sP50)},"n_contended":${flagged.length},"contended":$contended,"n_regressed":${regressed.length},"n_truncated":${truncated.length},"contended_names":${nameArr(flagged, 4)},"regressed_names":${nameArr(regressed, 4)},"truncated_names":${nameArr(truncated, 4)},"detail_file":${jstr(detailPath)},"unit":"sec","value":${num(total)}}"""
      // 1400, not ~1900: sbt can append up to ~430 chars AFTER the
      // final line (the [success] trailer plus an occasional GC
      // warning — observed on the r14 record) and the line must still
      // START inside the driver's ~2000-char tail window
      val capChars = 1400
      val entries = results.sortBy(-_._2).map(r => jstr(r._1) + ":" + num(r._2))
      val room = capChars - fixed.length - """{"metric":"total","queries":{},"queries_elided":000""".length - 24
      val kept = {
        var used = 0
        entries.takeWhile { e => used += e.length + 1; used <= room }
      }
      val finalLine = s"""{"metric":"total","queries":${kept.mkString("{", ",", "}")},"queries_elided":${entries.length - kept.length}$fixed"""
      if (writeDetail) {
        // ONE valid JSON object (json.load-able): r17's two
        // concatenated objects failed every json.load with Extra data
        try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
          (s"""{"summary":$fullSummary,"detail":$detail}""" + "\n").getBytes("UTF-8"))
        catch { case _: Exception => } // an unwritable dir must not fail the bench
      }
      println(fullSummary)
      println(detail)
      println(finalLine)
      lastFinal = finalLine
    }
    // last-ditch defense: the driver's timeout sends SIGTERM first —
    // re-print the latest record so the tail window ends with it even
    // if the kill lands mid-iteration (best effort; Spark's own
    // shutdown logging may still follow it)
    sys.addShutdownHook { if (!emitted && lastFinal != null) println(lastFinal) }

    var deadlineHit = false
    for (it <- 1 to iters) {
      for (name <- headline) {
        if (overBudget) deadlineHit = true
        if (!deadlineHit) timedSample(name)
      }
      // running record after every full pass: a kill mid-iteration
      // leaves the previous pass's complete parseable line in the log
      if (it < iters && !deadlineHit) emit(partial = true, writeDetail = false)
    }

    // Self-defense pass: a query with no calm sample was only ever
    // measured under load — re-run it (bounded) until a calm window
    // lands; whatever still has no calm sample is reported per-query
    // in queries_contended rather than poisoning the record silently.
    // The floor is computed over the sentinels seen SO FAR — and every
    // retry adds a sentinel that can LOWER that floor, which
    // retroactively invalidates queries already accepted under the old
    // one. So: sweep the whole set repeatedly until a fixpoint — every
    // query is either calm under the FINAL floor or has exhausted its
    // budget. Terminates because each sweep that does anything
    // consumes budget (≤ headline×maxRetries extra samples total).
    // Residual blind spots, by construction: (a) load that inflates
    // EVERY sentinel uniformly also inflates the floor and stays
    // self-consistently "calm" — that is what the ABSOLUTE
    // sentinel_min/p50 fields are for; the judge compares them across
    // runs, where the constant-work sentinel is an absolute yardstick.
    // (b) The sentinel is PURE CPU, so an IO-loaded-but-CPU-calm
    // window (host disk contention, FS reclaim after large deletes)
    // inflates IO-shaped queries while every bracket reads calm —
    // observed 2026-08-16: q_stream_window/q_dedup_keep_canonical at
    // 1.7-2.6× baseline through five calm-bracketed samples, with an
    // r16-snapshot A/B measuring the SAME inflation on the old tree
    // and both calm-mins returning to baseline in a later quiet
    // window. A flag whose flag_audit shows calm brackets at uniform
    // inflation therefore needs an idle-window re-time before it is
    // believed.
    val retriesUsed = scala.collection.mutable.Map(headline.map(_ -> 0): _*)
    var progressed = true
    while (progressed && !overBudget) {
      progressed = false
      for (name <- headline)
        if (!overBudget && samples(name).nonEmpty && !hasCalm(name) &&
            retriesUsed(name) < maxRetries) {
          timedSample(name); retriesUsed(name) += 1; progressed = true
        }
    }

    // Verify-before-accusing: a query ABOUT to be flagged regressed
    // gets bounded re-runs at END-OF-RUN, so the re-times land outside
    // whatever burst created the suspicion. A genuine regression stays
    // above threshold through every extra sample; a noise flag drops
    // under it on the first quiet one. Between re-runs of a
    // still-flagged query we additionally WAIT OUT the burst — a
    // bounded sleep whenever the latest sample's brackets were hot —
    // instead of burning the retry budget inside it (BENCH_r14: five
    // q_warc_members re-runs inside one burst, 4.56-29.7 s recorded vs
    // 1.2 s idle truth). Separate budget from the contention pass so a
    // loaded mid-run can't starve the exoneration re-runs.
    def wouldFlag(name: String): Boolean = {
      val calmTimes = samples(name).collect { case (t, l, tr, _) if calmPair(l, tr) => t }
      calmTimes.nonEmpty && baseline.get(name).exists(b =>
        calmTimes.min > 1.3 * b && calmTimes.min - b > 0.3)
    }
    val regRetries = scala.collection.mutable.Map(headline.map(_ -> 0): _*)
    progressed = true
    while (progressed && !overBudget) {
      progressed = false
      for (name <- headline)
        if (!overBudget && wouldFlag(name) && regRetries(name) < maxRetries) {
          val wasHot = samples(name).lastOption.exists {
            case (_, l, tr, _) => !calmPair(l, tr)
          }
          if (wasHot) Thread.sleep(5000)
          timedSample(name); regRetries(name) += 1; progressed = true
        }
    }

    // the final record: partial=false (this IS the record); a hit
    // deadline shows as n_truncated/truncated_names, not as partial
    emit(partial = false, writeDetail = true)
    emitted = true
    spark.stop()
  }
}
