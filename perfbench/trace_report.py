"""Trace post-processing: per-layer metrics, module self times and the
tracing overhead, from a run's ``result.json`` and ``trace.jsonl``.

    python3 perfbench/trace_report.py <result.json> <trace.jsonl>

A span is {id, parent, name, module, start, end, traced, attrs} with
epoch-nanosecond times; a job is {id, start, end, stages, tasks, cpu_ns,
run_ms, gc_ms, shuffle_write, shuffle_read, spill}. Root spans are the
timed operations. A traced run alternates untraced and traced steps: the
per-layer metrics come from the traced ones, and the overhead is the
traced operations' time over the later untraced ones' for the same
operation.
"""
import json
import math
import statistics
import sys

MB = 1024.0 * 1024.0
MODULES = ("bench", "ops", "functions", "operators", "sources", "streaming")
PLANNING = ("ops.build", "ops.plan", "sources.read_plan")
COMMIT_VERBS = ("append", "upsert", "merge", "delete_mor", "apply_dv",
                "compact")
SOURCE_CALLS = COMMIT_VERBS + ("vacuum", "publish")
STREAM_PHASES = (("trigger_s", "triggerExecution"),
                 ("latest_offset_s", "latestOffset"),
                 ("get_batch_s", "getBatch"),
                 ("planning_s", "queryPlanning"),
                 ("add_batch_s", "addBatch"),
                 ("wal_commit_s", "walCommit"))
ROOT_OPS = {"curate": "bench.pipeline", "query_mix": "bench.query",
            "table_cdc": "bench.step"}

# Every per-layer metric, in report order: (name, unit, better).
PER_LAYER = (
    [("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
     ("spark.tasks", "count", "lower"), ("spark.task_cpu_s", "s", "lower"),
     ("spark.task_run_s", "s", "lower"), ("spark.gc_s", "s", "lower"),
     ("spark.shuffle_write_mb", "MB", "lower"),
     ("spark.shuffle_read_mb", "MB", "lower"),
     ("spark.spill_mb", "MB", "lower"), ("spark.cpu_util", "ratio", "higher"),
     ("spark.driver_gap_s", "s", "lower"),
     ("ops.build_s", "s", "lower"), ("ops.plan_s", "s", "lower"),
     ("ops.exec_s", "s", "lower"), ("ops.release_s", "s", "lower"),
     ("ops.jobs_per_query", "count", "lower"),
     ("ops.plan_share", "ratio", "lower"),
     ("functions.features_s", "s", "lower"),
     ("functions.task_cpu_s", "s", "lower"),
     ("functions.rows_per_cpu_s", "1/s", "higher"),
     ("operators.curate_s", "s", "lower"), ("operators.pairs_s", "s", "lower"),
     ("operators.components_s", "s", "lower"),
     ("operators.cc_jobs", "count", "lower"),
     ("operators.band_candidates", "count", "lower"),
     ("operators.pairs_emitted", "count", "lower"),
     ("operators.pair_yield", "ratio", "higher"),
     ("operators.survivors", "count", "higher")]
    + [(f"sources.{v}_s", "s", "lower") for v in SOURCE_CALLS]
    + [("sources.jobs_per_commit", "count", "lower"),
       ("sources.read_plan_s", "s", "lower"),
       ("sources.read_exec_s", "s", "lower"),
       ("sources.read_changes_s", "s", "lower"),
       ("sources.files_scanned_per_read", "count", "lower"),
       ("sources.meta_files_written", "count", "lower"),
       ("sources.meta_bytes_written", "bytes", "lower"),
       ("sources.data_bytes_written", "bytes", "lower"),
       ("sources.dv_sidecars_live", "count", "lower"),
       ("streaming.batches", "count", "lower")]
    + [(f"streaming.{n}", "s", "lower") for n, _ in STREAM_PHASES]
    + [("curate.docs_per_s", "1/s", "higher"),
       ("query.latency_p50_s", "s", "lower"),
       ("query.latency_p90_s", "s", "lower"), ("query.qps", "1/s", "higher"),
       ("table.commit_p50_s", "s", "lower"),
       ("table.commit_p90_s", "s", "lower"),
       ("table.read_p50_s", "s", "lower"),
       ("table.cdc_lag_p50_s", "s", "lower"),
       ("table.rows_per_s", "1/s", "higher"),
       ("table.write_amp", "ratio", "lower")]
    + [(f"self.{m}_s", "s", "lower") for m in MODULES]
    + [("trace.root_coverage", "ratio", "higher"),
       ("trace.overhead", "ratio", "lower"),
       ("error_rate", "ratio", "lower")])


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def pct(xs, q):
    """Percentile by linear interpolation (numpy's default)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean_of_medians(groups):
    """Geometric mean, over the groups, of each group's median: a typical
    latency of a mix of operation kinds that does not jump from one kind
    to another the way a pooled percentile does."""
    meds = [statistics.median(g) for g in groups if g]
    return math.exp(mean([math.log(m) for m in meds])) if meds else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def ratio(a, b):
    return a / b if b else 0.0


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: duration minus the part its direct children cover}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        [(c["start"], c["end"]) for c in children.get(s["id"], [])],
        s["start"], s["end"]) for s in spans}


def subtree(spans, roots):
    """Spans under (and including) the given roots."""
    keep = {r["id"] for r in roots}
    out = list(roots)
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    frontier = list(keep)
    while frontier:
        nxt = []
        for pid in frontier:
            for c in by_parent.get(pid, []):
                if c["id"] not in keep:
                    keep.add(c["id"])
                    out.append(c)
                    nxt.append(c["id"])
        frontier = nxt
    return out


def jobs_in(jobs, spans):
    """Jobs whose start falls inside any of the spans."""
    iv = sorted((s["start"], s["end"]) for s in spans)
    return [j for j in jobs if any(a <= j["start"] <= b for a, b in iv)]


def timed_roots(res, name, spans=None):
    """Root spans of the timed operations (from the result, or from a
    trace's span records)."""
    src = res["roots"] if spans is None else [
        s for s in spans if s["parent"] == 0]
    return [r for r in src if r["name"] == name
            and res["timed_start"] <= r["start"] <= res["timed_end"]]


def op_key(r):
    a = r.get("attrs", {})
    return a.get("key") or a.get("verb") or "all"


def overhead(roots):
    """Traced over untraced mean duration of the same operation, pooled
    over operations seen both ways (0 when there is no such pair). The
    untraced operations before the first traced one are left out: the
    first step of a run may still be cold."""
    first = min((r["start"] for r in roots if r["traced"]), default=None)
    by = {}
    for r in roots:
        if first is None or r["start"] < first:
            continue
        by.setdefault(op_key(r), {True: [], False: []})[r["traced"]].append(
            r["end"] - r["start"])
    t = u = 0.0
    for d in by.values():
        if d[True] and d[False]:
            t += mean(d[True])
            u += mean(d[False])
    return ratio(t, u) - 1.0 if u else 0.0


def commit_samples(res):
    return [x for v in COMMIT_VERBS
            for x in res["samples"].get(f"sources.{v}", [])]


def workload_metrics(res):
    """The workload's own end-to-end figures under their issue names."""
    w = res["workload"]
    wall = (res["timed_end"] - res["timed_start"]) / 1e9
    lat = [(r["end"] - r["start"]) / 1e9 for r in timed_roots(res, ROOT_OPS[w])]
    s = res["samples"]
    if w == "curate":
        return {"curate.docs_per_s": (ratio(res["extra"]["docs"],
                                            statistics.median(lat)), "1/s")}
    if w == "query_mix":
        return {"query.latency_p50_s": (pct(lat, 0.5), "s"),
                "query.latency_p90_s": (pct(lat, 0.9), "s"),
                "query.qps": (ratio(len(lat), wall), "1/s")}
    x = res["extra"]
    commits = commit_samples(res)
    written = sum(x.get(f"{k}_bytes", 0) for k in ("data", "dv", "meta"))
    return {"table.commit_p50_s": (pct(commits, 0.5), "s"),
            "table.commit_p90_s": (pct(commits, 0.9), "s"),
            "table.read_p50_s": (pct(s.get("sources.read", []), 0.5), "s"),
            "table.cdc_lag_p50_s": (pct(s.get("streaming.drain", []), 0.5), "s"),
            "table.rows_per_s": (ratio(x["user_rows"], wall), "1/s"),
            "table.write_amp": (ratio(written, x["user_bytes"]), "ratio")}


def per_layer(res, records):
    """Every PER_LAYER metric for one traced run (0 where the workload
    does not exercise the layer)."""
    spans = [r for r in records if r["kind"] == "span"]
    jobs = [r for r in records if r["kind"] == "job"]
    w = res["workload"]
    roots = timed_roots(res, ROOT_OPS[w], spans)
    troots = [r for r in roots if r["traced"]]
    tree = subtree(spans, troots)
    n_ops = max(1, len(troots))
    wall_ns = sum(r["end"] - r["start"] for r in troots)
    tjobs = jobs_in(jobs, troots)
    m = {}

    def put(name, value):
        m[name] = value

    # Spark, per traced operation
    put("spark.jobs", len(tjobs) / n_ops)
    put("spark.stages", sum(j["stages"] for j in tjobs) / n_ops)
    put("spark.tasks", sum(j["tasks"] for j in tjobs) / n_ops)
    cpu_s = sum(j["cpu_ns"] for j in tjobs) / 1e9
    put("spark.task_cpu_s", cpu_s / n_ops)
    put("spark.task_run_s", sum(j["run_ms"] for j in tjobs) / 1e3 / n_ops)
    put("spark.gc_s", sum(j["gc_ms"] for j in tjobs) / 1e3 / n_ops)
    put("spark.shuffle_write_mb", sum(j["shuffle_write"] for j in tjobs) / MB / n_ops)
    put("spark.shuffle_read_mb", sum(j["shuffle_read"] for j in tjobs) / MB / n_ops)
    put("spark.spill_mb", sum(j["spill"] for j in tjobs) / MB / n_ops)
    put("spark.cpu_util", ratio(cpu_s, wall_ns / 1e9 * res["cores"]))
    gap = 0
    for r in troots:
        sub = [s for s in tree if r["start"] <= s["start"] <= r["end"]]
        plan = [(s["start"], s["end"]) for s in sub if s["name"] in PLANNING]
        busy = plan + [(j["start"], j["end"] or r["end"])
                       for j in jobs_in(jobs, [r])]
        gap += (r["end"] - r["start"]) - union_length(busy, r["start"], r["end"])
    put("spark.driver_gap_s", gap / 1e9 / n_ops)

    s = res["samples"]

    def avg(name):
        return mean(s.get(name, []))

    def named(name):
        return [x for x in spans if x["name"] == name and x["traced"]]

    def jobs_per(name):
        sp = named(name)
        return ratio(len(jobs_in(jobs, sp)), len(sp))

    # graft.ops
    for k in ("build", "plan", "exec", "release"):
        put(f"ops.{k}_s", avg(f"ops.{k}"))
    put("ops.jobs_per_query", jobs_per("bench.query") if w == "query_mix" else 0.0)
    put("ops.plan_share", ratio(sum(s.get("ops.plan", [])),
                                sum(s.get("bench.query", []))))
    # graft.functions (the curate feature probe)
    feat = named("functions.features")
    fcpu = sum(j["cpu_ns"] for j in jobs_in(jobs, feat)) / 1e9
    put("functions.features_s", statistics.median(s["functions.features"])
        if s.get("functions.features") else 0.0)
    put("functions.task_cpu_s", ratio(fcpu, len(feat)))
    put("functions.rows_per_cpu_s", ratio(
        sum(x["attrs"].get("rows", 0) for x in feat), fcpu))
    # graft.operators
    for k in ("curate", "pairs", "components"):
        put(f"operators.{k}_s", avg(f"operators.{k}"))
    put("operators.cc_jobs", jobs_per("operators.components"))
    pairs = named("operators.pairs")
    cand = sum(x["attrs"].get("candidates", 0) for x in pairs)
    emitted = sum(x["attrs"].get("emitted", 0) for x in pairs)
    put("operators.band_candidates", ratio(cand, len(pairs)))
    put("operators.pairs_emitted", ratio(emitted, len(pairs)))
    put("operators.pair_yield", ratio(emitted, cand))
    cur = named("operators.curate")
    put("operators.survivors", mean([x["attrs"].get("survivors", 0) for x in cur]))
    # graft.sources
    for v in SOURCE_CALLS:
        put(f"sources.{v}_s", avg(f"sources.{v}"))
    commit_spans = [x for v in COMMIT_VERBS for x in named(f"sources.{v}")]
    put("sources.jobs_per_commit", ratio(len(jobs_in(jobs, commit_spans)),
                                         len(commit_spans)))
    for k in ("read_plan", "read_exec", "read_changes"):
        put(f"sources.{k}_s", avg(f"sources.{k}"))
    reads = named("sources.read")
    put("sources.files_scanned_per_read",
        mean([x["attrs"].get("files", 0) for x in reads]))
    x = res["extra"]
    n_commits = len(commit_samples(res))
    put("sources.meta_files_written", ratio(x.get("meta_files", 0), n_commits))
    put("sources.meta_bytes_written", ratio(x.get("meta_bytes", 0), n_commits))
    put("sources.data_bytes_written", ratio(x.get("data_bytes", 0), n_commits))
    put("sources.dv_sidecars_live",
        mean([x["attrs"].get("dv_sidecars", 0) for x in reads]))
    # graft.streaming, per drain (one availableNow run)
    drains = named("streaming.drain")
    batches = [b for d in drains for b in d["attrs"].get("batches", [])]
    put("streaming.batches", ratio(len(batches), len(drains)))
    for name, key in STREAM_PHASES:
        put(f"streaming.{name}",
            ratio(sum(b.get(key, 0) for b in batches) / 1e3, len(drains)))
    # the workloads' own figures
    own = {k: v for k, (v, _) in workload_metrics(res).items()}
    for name, _, _ in PER_LAYER:
        if name.split(".")[0] in ("curate", "query", "table"):
            put(name, own.get(name, 0.0))
    # self time per module, per traced operation
    st = self_times(tree)
    for mod in MODULES:
        put(f"self.{mod}_s", sum(st[x["id"]] for x in tree
                                 if x["module"] == mod) / 1e9 / n_ops)
    timed = (res["timed_end"] - res["timed_start"])
    put("trace.root_coverage", ratio(sum(r["end"] - r["start"] for r in roots), timed))
    put("trace.overhead", overhead(roots))
    put("error_rate", 0.0)
    units = {n: u for n, u, _ in PER_LAYER}
    return {n: (m[n], units[n]) for n, _, _ in PER_LAYER}


def main():
    with open(sys.argv[1]) as f:
        res = json.load(f)
    for k, (v, unit) in per_layer(res, load(sys.argv[2])).items():
        print(f"{k} = {v:.6g} {unit}")


if __name__ == "__main__":
    main()
