"""Turns one run's raw record (operations, spans, store sizes) into the
benchmark's metrics. Pure functions over plain data, unit-tested in
perfbench/tests."""

import statistics

LAYERS = ("ingest", "transform", "embed", "index", "probe", "serve", "maintain")
LAYER_FIELDS = (
    ("self_ms", "ms/op", "lower"),
    ("calls", "count/op", "lower"),
    ("jobs", "count/op", "lower"),
    ("tasks", "count/op", "lower"),
    ("driver_ms", "ms/op", "lower"),
    ("task_wait_ms", "ms/op", "lower"),
    ("shuffle_bytes", "B/op", "lower"),
    ("spill_bytes", "B/op", "lower"),
    ("written_bytes", "B/op", "lower"),
)
RATIOS = (
    ("serve.hit_ratio", "ratio", "higher"),
    ("probe.rows_per_result", "ratio", "lower"),
    ("probe.files_per_probe", "count", "lower"),
    ("maintain.write_amp", "ratio", "lower"),
    ("serve.state_files", "count", "lower"),
)
PER_LAYER = tuple((f"{layer}.{f}", unit, better) for layer in LAYERS
                  for f, unit, better in LAYER_FIELDS) + RATIOS
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("op_cpu_ms_p50", "ms", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)
# The operation whose latency op_ms_* reports, and the ones whose items
# count toward items_per_s.
PRIMARY = {"corpus_build": "build", "chat_session": "turn", "store_churn": "probe"}
ITEM_KINDS = {"corpus_build": ("build",), "chat_session": ("turn",),
              "store_churn": ("append", "delete")}
# The names the workload's metrics go by in the detail record.
ALIASES = {
    "corpus_build": {"op_ms_p50": "build_ms_p50", "op_ms_tail": "build_ms_tail",
                     "op_cpu_ms_p50": "build_cpu_ms_p50", "items_per_s": "build_docs_per_s"},
    "chat_session": {"op_ms_p50": "turn_ms_p50", "op_ms_tail": "turn_ms_tail",
                     "op_cpu_ms_p50": "turn_cpu_ms_p50", "items_per_s": "questions_per_s"},
    "store_churn": {"op_ms_p50": "probe_ms_p50", "op_ms_tail": "probe_ms_tail",
                    "op_cpu_ms_p50": "probe_cpu_ms_p50", "items_per_s": "write_docs_per_s"},
}
TAIL_BEYOND = 10
# On chat_session the self times of a turn's spans must cover its wall
# time to within this share.
SPAN_COVERAGE_BOUND = 0.05


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile that leaves at least `beyond` samples above
    it: the (n - beyond)-th smallest sample. Returns (value, percentile,
    samples beyond, sample count)."""
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"a tail needs more than {beyond} samples, got {n}")
    s = sorted(xs)
    idx = n - beyond - 1
    return s[idx], 100.0 * (idx + 1) / n, n - idx - 1, n


def outcome(records):
    """(attempted, failed): every record is one attempted operation."""
    return len(records), sum(1 for r in records if not r["ok"])


def end_to_end(workload, res):
    """(gated metrics, other figures, tail record, store ratio) of an
    untraced run. The gated times are process CPU times; the wall-clock
    ones, which carry the host's steal time, are among the others."""
    recs = [r for r in res["records"] if not r.get("warmup")]
    st = res["stats"]
    prim = [r for r in recs if r["kind"] == PRIMARY[workload]]
    items = [r for r in recs if r["kind"] in ITEM_KINDS[workload]]
    if workload == "corpus_build":
        store = median(st["store_bytes_per_live_byte"])
    else:
        store = st["store_bytes"] / st["live_bytes"]
    metrics = {
        "setup_s": median(st["setup_cpu_s"]),
        "op_cpu_ms_p50": median([r["cpu_ms"] for r in prim]),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    other = {
        "op_ms_p50": median([r["ms"] for r in prim]),
        "items_per_s": 1000.0 * sum(r["items"] for r in items) / sum(r["ms"] for r in items),
        "setup_wall_s": median(st["setup_wall_s"]),
        "op_steal_ms_p50": median([r["steal_ms"] for r in prim]),
    }
    return metrics, other, tail_record([r["ms"] for r in prim]), store


def tail_record(xs):
    """The tail of the primary operation's latencies by the rule of
    [[tail]], with its percentile and sample counts; a run with too few
    samples records only how many it had."""
    if len(xs) <= TAIL_BEYOND:
        return {"op_ms_tail": None, "samples": len(xs),
                "note": f"needs more than {TAIL_BEYOND} samples"}
    value, pct, beyond, n = tail(xs)
    return {"op_ms_tail": value, "percentile": round(pct, 3),
            "samples_beyond": beyond, "samples": n}


def _union_len(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_self(spans):
    """span id -> self time in ms (span time minus its children's)."""
    child = {}
    for s in spans:
        if s["parent"]:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end_ms"] - s["start_ms"])
    return {s["id"]: (s["end_ms"] - s["start_ms"]) - child.get(s["id"], 0.0) for s in spans}


def driver_ms(span, children):
    """Self time of `span` during which none of its own jobs was running."""
    lo, hi = span["start_ms"], span["end_ms"]
    kids = [(c["start_ms"], c["end_ms"]) for c in children]
    own = [(a, b) for a, b in span["job_intervals"]]
    busy = _union_len(kids + own, lo, hi)
    return max(0.0, (hi - lo) - busy)


def rollup(workload, res):
    """Per-layer metrics of a traced run, each per executed operation."""
    spans = [s for s in res["spans"] if s["op"] >= 0]
    recs = res["records"]
    n_ops = max(1, sum(1 for r in recs if r["kind"] != "final_check" and not r.get("warmup")))
    selfs = span_self(spans)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    agg = {layer: dict.fromkeys((f for f, _, _ in LAYER_FIELDS), 0.0) for layer in LAYERS}
    for s in spans:
        a = agg[s["layer"]]
        a["self_ms"] += selfs[s["id"]]
        a["calls"] += 1
        a["jobs"] += s["jobs"]
        a["tasks"] += s["tasks"]
        a["driver_ms"] += driver_ms(s, kids.get(s["id"], []))
        a["task_wait_ms"] += s["task_wait_ms"]
        a["shuffle_bytes"] += s["shuffle_bytes"]
        a["spill_bytes"] += s["spill_bytes"]
        a["written_bytes"] += s["written_bytes"]
    out = {f"{layer}.{f}": agg[layer][f] / n_ops for layer in LAYERS for f, _, _ in LAYER_FIELDS}
    st = res["stats"]
    probes = [s for s in spans if s["layer"] == "probe"]
    rows = sum(s["result_rows"] for s in probes)
    files = st.get("files_per_probe") or []
    user = st.get("user_text_bytes", 0)
    written = agg["index"]["written_bytes"] + agg["maintain"]["written_bytes"]
    out.update({
        "serve.hit_ratio": st["hits"] / st["lookups"] if st.get("lookups") else 0.0,
        "probe.rows_per_result": sum(s["records_read"] for s in probes) / rows if rows else 0.0,
        "probe.files_per_probe": sum(files) / len(files) if files else 0.0,
        "maintain.write_amp": written / user if user else 0.0,
        "serve.state_files": st.get("state_files", 0),
    })
    return out


def span_coverage(res, kind):
    """Share of each `kind` operation's wall time its spans' self times
    cover, summed over the run: (covered ms, wall ms)."""
    spans = [s for s in res["spans"] if s["op"] >= 0]
    selfs = span_self(spans)
    by_op = {}
    for s in spans:
        by_op[s["op"]] = by_op.get(s["op"], 0.0) + selfs[s["id"]]
    ops = [r for r in res["records"] if r["kind"] == kind and not r.get("warmup")]
    return sum(by_op.get(r["i"], 0.0) for r in ops), sum(r["ms"] for r in ops)


def span_tree(res):
    """Spans nested under their parents, for the trace artifact."""
    nodes = {s["id"]: {"id": s["id"], "layer": s["layer"], "label": s["label"],
                       "op": s["op"], "ms": round(s["end_ms"] - s["start_ms"], 3),
                       "jobs": s["jobs"], "tasks": s["tasks"], "children": []}
             for s in res["spans"]}
    roots = []
    for s in res["spans"]:
        (nodes[s["parent"]]["children"] if s["parent"] in nodes else roots).append(nodes[s["id"]])
    return roots
