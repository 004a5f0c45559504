"""Per-layer metrics of a traced run, and the self time of each span.

A traced run keeps its counters per timed pass; each counter reported is
the median over passes. Spans are read back from the trace file: the
client-side spans carry their parent, the listener-side ones (Catalyst
phases, jobs, stages, micro-batches) are parented by time containment
in the closed loop, and a layer's self time is its spans' duration minus
the part of it their children cover.
"""
import json
import statistics

# (metric, unit): the per-pass counters, reported as medians over passes
COUNTERS = [
    ("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
    ("plan.planning_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.no_task_ms", "ms"), ("exec.task_overhead_ms", "ms"),
    ("exec.cpu_ms", "ms"), ("exec.run_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.busy_frac", "ratio"),
    ("op.codegen_ms", "ms"), ("op.sort_ms", "ms"), ("op.agg_ms", "ms"),
    ("op.broadcast_ms", "ms"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_ms", "ms"), ("spill.bytes", "bytes"),
    ("scan.bytes", "bytes"), ("scan.records", "count"),
    ("sink.bytes", "bytes"), ("sink.records", "count"),
    ("cache.block_bytes", "bytes"),
    ("stream.batches", "count"), ("stream.input_rows", "count"),
    ("stream.add_batch_ms", "ms"), ("stream.query_planning_ms", "ms"),
    ("stream.wal_commit_ms", "ms"), ("stream.commit_offsets_ms", "ms"),
    ("stream.latest_offset_ms", "ms"), ("stream.get_batch_ms", "ms"),
    ("state.rows", "count"), ("state.memory_bytes", "bytes"),
    ("state.commit_ms", "ms"),
]

# span name -> nesting level; a listener span's parent is the innermost
# span of a lower level that contains it
LEVELS = {
    "setup": 0, "GraftSession.getOrCreate": 1, "setup.warmup": 1,
    "pass": 0, "query": 1, "queries.build": 2, "sources.save": 2,
    "streaming.batch": 3, "catalyst.parsing": 4, "catalyst.analysis": 4,
    "catalyst.optimization": 4, "catalyst.planning": 4, "dispatch.job": 4,
    "operators.stage": 5,
}
# layers of a timed pass whose self time is reported (set-up has its own
# setup.* metrics)
SELF = ["queries.build", "sources.save", "streaming.batch", "catalyst.analysis",
        "catalyst.optimization", "catalyst.planning", "dispatch.job",
        "operators.stage"]
# Spark's event times are whole milliseconds; the client's are not
SLACK_MS = 1.0


def pct(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))]


def _covered(intervals, lo, hi):
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        a, b = max(s, reach), min(e, hi)
        if b > a:
            total, reach = total + b - a, b
    return total


def self_ms(spans):
    """{span id: self ms}, after parenting each listener span by containment."""
    by_pass = {}
    for s in spans:
        by_pass.setdefault(s["pass"], []).append(s)
    for group in by_pass.values():
        for s in group:
            if s["parent"] >= 0 or s["name"] in ("setup", "pass"):
                continue
            level = LEVELS.get(s["name"], 9)
            inside = [o for o in group
                      if LEVELS.get(o["name"], 9) < level
                      and o["start_ms"] - SLACK_MS <= s["start_ms"]
                      and s["end_ms"] <= o["end_ms"] + SLACK_MS]
            # innermost: deepest level, then shortest
            best = max(inside, default=None, key=lambda o: (
                LEVELS[o["name"]], o["start_ms"] - o["end_ms"]))
            s["parent"] = best["id"] if best else -1
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: max(0.0, s["end_ms"] - s["start_ms"] -
                         _covered(children.get(s["id"], []), s["start_ms"], s["end_ms"]))
            for s in spans}


def per_layer(doc, samples, trace_file):
    """{metric: (value, unit)} for a traced run."""
    passes = doc["passes"]
    med = statistics.median
    m = {
        "setup.session_ms": (doc["setup"]["session_ms"], "ms"),
        "setup.warmup_ms": (doc["setup"]["warmup_ms"], "ms"),
    }
    for name, unit in COUNTERS:
        m[name] = (med(p["counters"].get(name, 0.0) for p in passes), unit)
    batches = [b["batch_ms"] for p in passes for b in p["batches"]]
    m["batch_ms.p50"] = (pct(batches, 50) if batches else 0.0, "ms")
    m["batch_ms.p90"] = (pct(batches, 90) if batches else 0.0, "ms")
    m["batch.samples"] = (len(batches), "count")
    m["query_ms.p50"] = (statistics.median(samples), "ms")
    m["query_ms.p90"] = (pct(samples, 90), "ms")
    m["query.samples"] = (len(samples), "count")
    m["trace.pass_s"] = (med(p["wall_ms"] for p in passes) / 1000, "s")
    m["fail_frac"] = (doc["fail_frac"], "ratio")
    with open(trace_file) as f:
        spans = json.load(f)["spans"]
    own = self_ms(spans)
    st = {}
    for s in spans:
        st[(s["pass"], s["name"])] = st.get((s["pass"], s["name"]), 0.0) + own[s["id"]]
    timed = [p["pass"] for p in passes]
    for name in SELF:
        m[f"self.{name}_ms"] = (med(st.get((n, name), 0.0) for n in timed), "ms")
    return m


def summary(trace_file):
    """Per pass and query: self time of each layer, and the top operators."""
    with open(trace_file) as f:
        doc = json.load(f)
    spans = doc["spans"]
    own = self_ms(spans)
    by_id = {s["id"]: s for s in spans}

    def query_of(s):
        while s is not None and s["name"] != "query":
            s = by_id.get(s["parent"])
        return s["query"] if s else "-"

    rows = {}
    for s in spans:
        if s["pass"] > 0 and s["name"] not in ("pass", "query"):
            layer_ms = rows.setdefault((s["pass"], query_of(s)), {})
            layer_ms[s["name"]] = layer_ms.get(s["name"], 0.0) + own[s["id"]]
    for (n, q), layers_ms in sorted(rows.items()):
        parts = ", ".join(f"{k} {v:.0f}" for k, v in sorted(layers_ms.items(), key=lambda kv: -kv[1]))
        print(f"pass {n} {q}: {parts}")
    queries = [s for s in spans if s["name"] == "query"]
    for qe in doc["query_executions"]:
        owner = next((s["query"] for s in queries if s["pass"] == qe["pass"]
                      and s["start_ms"] - SLACK_MS <= qe["start_ms"] <= s["end_ms"]), "-")
        tops = ", ".join(f"{name} {ms:.0f}" for name, ms in qe["top_operators"])
        print(f"pass {qe['pass']} {owner} [{qe['func']}] top operators (ms): {tops}")


if __name__ == "__main__":
    import sys
    summary(sys.argv[1])
