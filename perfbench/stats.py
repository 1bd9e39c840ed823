"""The benchmark's arithmetic: percentiles, open-loop latency, backlog,
driver gap, span self time, and the mapping from one raw-results file
to the end-to-end and per-layer metrics. Pure functions over plain
data; tests/test_stats.py pins each on fixed inputs."""
import math
import statistics

# Percentiles tried for a `_tail` metric, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nearest_rank(values, p):
    """The p-th percentile by nearest rank, and how many samples lie
    beyond it."""
    xs = sorted(values)
    n = len(xs)
    idx = max(0, math.ceil(p / 100.0 * n) - 1)
    return xs[idx], n - (idx + 1)


def tail(values):
    """The highest percentile on TAIL_LADDER with at least ten samples
    beyond it, as (percentile, value, n). With fewer than twenty
    samples no percentile qualifies and the maximum is reported as
    percentile 100."""
    n = len(values)
    for p in TAIL_LADDER:
        v, beyond = nearest_rank(values, p)
        if beyond >= 10:
            return p, v, n
    return 100.0, max(values), n


def median(values):
    return statistics.median(values)


def open_loop_latencies(pairs):
    """Latency of each open-loop request, timed from when it was due
    (not from when the system got to it), in seconds. `pairs` are
    (due_ms, done_ms)."""
    return [(done - due) / 1000.0 for due, done in pairs]


def backlog_max(pairs):
    """Largest number of requests due but not yet done at any moment."""
    events = []
    for due, done in pairs:
        events.append((due, 1))
        events.append((done, -1))
    # at equal times a completion leaves before an arrival counts
    events.sort(key=lambda e: (e[0], e[1]))
    cur = best = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best


def driver_gap(wall_s, task_s, cores):
    """Wall time not covered by task time spread over every core."""
    return wall_s - task_s / cores


def self_times(spans):
    """Self time per layer, in seconds. A span is (id, parent, name,
    start_ns, end_ns); its self time is its duration minus the part of
    it that its child spans cover; its layer is the name's first
    dot-separated word."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for sid, _parent, name, start, end in spans:
        ivs = sorted((max(c[3], start), min(c[4], end)) for c in children.get(sid, []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        layer = name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (end - start - covered) / 1e9
    return out


LAYERS = ("extract", "pipeline", "functions", "ext", "store", "streaming")


def _m(v, unit):
    return {"value": float(v), "unit": unit}


def _med(xs, default=0.0):
    return statistics.median(xs) if xs else default


def end_to_end(raw):
    """The end-to-end metrics of one untraced run, plus diagnostics
    (tail percentiles and sample counts) that go beside them."""
    s = raw.get("samples", {})
    setup = raw["setup"]
    if raw["workload"] == "stream_serve":
        commits = open_loop_latencies(s.get("commit_due_done_ms", []))
        docs_per_s = raw["values"].get("docs_committed", 0) / raw["window_s"]
    else:
        commits = s.get("commit_s", [])
        docs_per_s = _med(s.get("docs_per_s", []))
    queries = s.get("query_s", [])
    attempted, failed = raw["attempted"], raw["failed"]
    ct, qt = tail(commits), tail(queries)
    metrics = {
        "docs_per_s": _m(docs_per_s, "1/s"),
        "commit_s_p50": _m(median(commits), "s"),
        "commit_s_tail": _m(ct[1], "s"),
        "query_s_p50": _m(median(queries), "s"),
        "query_s_tail": _m(qt[1], "s"),
        "ok_frac": _m(1.0 - failed / attempted, "fraction"),
        "peak_rss_mb": _m(raw["peak_rss_mb"], "MB"),
        "setup_s": _m(setup["session_s"] + median(setup["reps_s"]), "s"),
    }
    diag = {
        "failed_frac": failed / attempted,
        "commit_s_tail": {"percentile": ct[0], "n": ct[2]},
        "query_s_tail": {"percentile": qt[0], "n": qt[2]},
    }
    return metrics, diag


def per_layer(raw):
    """The per-layer metrics of one traced run. Layers a workload does
    not exercise read 0."""
    s = raw.get("samples", {})
    c = raw.get("counters", {})
    wl = raw["workload"]
    out = {}

    def put(name, v, unit):
        out[name] = _m(v, unit)

    put("extract.detect_us", c.get("extract.detect_us", 0), "us")
    for f in ("pdf", "docx", "odt", "html", "txt", "pdfz", "doc", "pdfenc"):
        put("extract.text_us." + f, c.get("extract.text_us." + f, 0), "us")
    put("extract.meta_us", c.get("extract.meta_us", 0), "us")
    put("extract.mb_per_s", c.get("extract.mb_per_s", 0), "MB/s")
    put("extract.errors", c.get("extract.errors", 0), "count")

    for k in ("scan_s", "enrich_s", "flow_s"):
        put("pipeline." + k, c.get("pipeline." + k, 0), "s")
    for k in ("success", "failure", "lines", "routed"):
        put("pipeline.rows." + k, c.get("pipeline.rows." + k, 0), "count")

    put("functions.tag_s", c.get("functions.tag_s", 0), "s")
    put("functions.gate_s", c.get("functions.gate_s", 0), "s")

    for k in ("gate", "dedup", "decontam", "encode", "pack", "semdedup"):
        put("ext.%s_s" % k, c.get("ext.%s_s" % k, 0), "s")
    for k in ("gate", "dedup", "decontam"):
        put("ext.%s.rows_out" % k, c.get("ext.%s.rows_out" % k, 0), "count")
    put("ext.encode.tokens", c.get("ext.encode.tokens", 0), "count")
    put("ext.pack.seqs", c.get("ext.pack.seqs", 0), "count")
    put("ext.semdedup.kept", c.get("ext.semdedup.kept", 0), "count")

    put("store.resolve_ms", _med(s.get("store.resolve", [])) * 1000, "ms")
    put("store.ingest_s", _med(s.get("store.ingest", [])), "s")
    put("store.compact_s", _med(s.get("store.compact", [])), "s")
    put("store.gc_s", _med(s.get("store.gc", [])), "s")
    put("store.publish_s", _med(s.get("store_publish_s", [])), "s")
    dirs = s.get("batch_dirs_at_query", [])
    put("store.batch_dirs_at_query", sum(dirs) / len(dirs) if dirs else 0, "count")
    put("store.write_amp", c.get("store.write_amp", 0), "ratio")
    put("store.space_amp", c.get("store.space_amp", 0), "ratio")
    put("store.files", c.get("store.files", 0), "count")

    batches = raw.get("stream_batches", [])

    def dur(key):
        return _med([b["durations"].get(key, 0) for b in batches])

    pairs = s.get("commit_due_done_ms", []) + s.get("commit_due_done_ms_traced", [])
    gen = s.get("gen_due_written_ms", [])
    put("streaming.batches", len(batches), "count")
    put("streaming.trigger_ms", dur("triggerExecution"), "ms")
    put("streaming.addbatch_ms", dur("addBatch"), "ms")
    put("streaming.walcommit_ms", dur("walCommit"), "ms")
    put("streaming.planning_ms", dur("queryPlanning"), "ms")
    put("streaming.backlog_max", backlog_max(pairs) if pairs else 0, "count")
    put("streaming.gen_late_s_max", max(open_loop_latencies(gen)) if gen else 0, "s")

    sw = raw.get("spark_window", {})
    tot = {}
    for m in sw.values():
        for k, v in m.items():
            tot[k] = tot.get(k, 0.0) + v
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                    ("shuffle_write_mb", "MB"), ("spill_mb", "MB")):
        put("spark." + k, tot.get(k, 0), unit)
    put("spark.driver_gap_s", driver_gap(raw["window_s"], tot.get("task_s", 0), raw["cores"]), "s")
    if wl == "stream_serve":
        per_batch = sw.get("stream", {}).get("jobs", 0) / max(1, len(batches))
    else:
        passes = len(s.get("pass_s", [])) + len(s.get("pass_s_traced", []))
        per_batch = sw.get("pass", {}).get("jobs", 0) / max(1, passes)
    n_queries = len(s.get("query_s", [])) + len(s.get("query_s_traced", []))
    put("spark.jobs_per_batch", per_batch, "count")
    put("spark.jobs_per_query", sw.get("query", {}).get("jobs", 0) / max(1, n_queries), "count")
    put("spark.conf_changed", sum(s.get("conf_changed", [])), "count")

    selfs = self_times(raw.get("spans", []))
    for layer in LAYERS:
        put("self_s." + layer, selfs.get(layer, 0.0), "s")

    # stream_serve compares its reads: its few commits alternate between
    # plain batches and compactions, so traced and untraced commits do
    # different work
    if wl == "stream_serve":
        untraced, traced = s.get("query_s", []), s.get("query_s_traced", [])
    else:
        untraced, traced = s.get("pass_s", []), s.get("pass_s_traced", [])
    put("trace.overhead_frac", _med(traced) / _med(untraced) - 1 if traced and untraced else 0,
        "fraction")
    return out
