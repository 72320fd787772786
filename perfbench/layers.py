"""Per-layer metrics of a traced run (--trace 1).

Counters come from the harness's collector (Spark listener events,
planning-tracker phases and rule stats, AQE-final plan fingerprints),
one record per traced op. Layer self times come from the spans: a span's
self time is its duration minus the part of it that its child spans
cover. A traced run alternates untraced and traced cycles of passes; the
gap between their pass times is the tracing overhead.

Every metric is defined on both workloads: a time that would be 0 by
construction on one of them (a layer the workload never calls) is rolled
up with others instead; layers.json keeps the per-family split.
"""
import json
import os
import sys

# op families submitted as QL or YQL query strings; the rest are jobs
# built through the operator APIs (MapReduce, pipes, dedup, text,
# keyed-table scripts and log ops)
QUERY_FAMILIES = ("ql", "yql")
COUNTERS = {
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "plans.rule_ms": "ms", "plans.rule_effective": "count",
    "plan.exchange": "count", "plan.hash_agg": "count", "plan.sort_agg": "count",
    "plan.bhj": "count", "plan.smj": "count", "plan.wscg": "count",
    "sources.scan_bytes": "bytes", "sources.scan_rows": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.sched_delay_ms": "ms", "exec.task_failures": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.task_skew": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.write_ms": "ms", "spill.memory_bytes": "bytes", "spill.disk_bytes": "bytes",
}
# span name -> layer it times; "op" is the harness between layer calls
SPAN_LAYERS = ["op", "sources.load", "ql.build", "functions.build", "operators.build",
               "exec.action", "catalyst.analysis", "catalyst.optimization",
               "catalyst.planning", "spark.job", "spark.stage", "spark.task"]
# driver-side: everything but task execution
DRIVER = [s for s in SPAN_LAYERS if s != "spark.task"]


def pct(xs, q):
    """Percentile by linear interpolation between closest ranks."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = (len(xs) - 1) * q / 100.0
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def tree_size(paths):
    """(bytes, data files) under the given directories."""
    size, files = 0, 0
    for top in paths:
        for d, _, fs in os.walk(top):
            for f in fs:
                size += os.path.getsize(os.path.join(d, f))
                files += f.endswith(".parquet")
    return size, files


def self_times(spans):
    """Self time of every span, in ms, keyed by span id."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
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
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered) / 1000.0
    return out


def metric_name(span):
    return "self." + span.replace(".", "_") + "_ms"


def mean_of(ops, key):
    return sum(o["layers"].get(key, 0.0) for o in ops) / len(ops) if ops else 0.0


def per_layer(ops, summary, out, tables, attempted, failed, pass_seconds):
    """`tables`: directories holding the workload's stored tables;
    `pass_seconds(ops, passes)`: the end-to-end pass time estimator."""
    traced = [o for o in ops if o["traced"]]
    n = max(1, len(traced))
    m = {}
    for k, unit in COUNTERS.items():
        m[k] = (sum(o["layers"].get(k, 0.0) for o in traced) / n, unit)
    m["operators.exec_ms.queries"] = (
        mean_of([o for o in traced if o["family"] in QUERY_FAMILIES], "exec.task_run_ms"), "ms")
    m["operators.exec_ms.jobs"] = (
        mean_of([o for o in traced if o["family"] not in QUERY_FAMILIES], "exec.task_run_ms"), "ms")
    cores = summary["cores"]
    m["exec.idle_core_ms"] = (sum(o["ms"] * cores - o["layers"].get("exec.task_run_ms", 0.0)
                                  for o in traced) / n, "ms")
    # candidate pairs: join output rows of the dedup jobs' plans
    dd = [o for o in traced if o["family"] == "dedup"]
    cand = sum(o["layers"].get("operators.pairs_candidate", 0.0) for o in dd)
    m["operators.pairs_candidate"] = (cand / len(dd) if dd else 0.0, "count")
    m["operators.pairs_yield"] = (
        sum(o["layers"].get("output.rows", 0.0) for o in dd) / cand if cand else 0.0, "ratio")

    spans = []
    with open(os.path.join(out, "spans.jsonl")) as f:
        spans = [json.loads(l) for l in f]
    st = self_times(spans)
    by_layer = {s: 0.0 for s in SPAN_LAYERS}
    for s in spans:
        if s["name"] in by_layer:
            by_layer[s["name"]] += st[s["id"]]
    for s in SPAN_LAYERS:
        m[metric_name(s)] = (by_layer[s] / n, "ms")
    m["ql.build_ms"] = m.pop(metric_name("ql.build"))
    m["functions.build_ms"] = m.pop(metric_name("functions.build"))
    m["sources.load_ms"] = m.pop(metric_name("sources.load"))
    wall = sum(o["ms"] for o in traced)
    m["driver.share_pct"] = (100.0 * sum(by_layer[s] for s in DRIVER) / wall if wall else 0.0, "%")

    # ops that return rows vs ops that write a table; on `interactive`
    # the writes are exactly the keyed-table writes
    reads = [o["ms"] for o in ops if o["kind"] == "read"]
    writes = [o["ms"] for o in ops if o["kind"] == "write"]
    m["client.read_p50_ms"] = (pct(reads, 50), "ms")
    m["client.read_p90_ms"] = (pct(reads, 90), "ms")
    m["client.write_p50_ms"] = (pct(writes, 50), "ms")
    m["client.write_p90_ms"] = (pct(writes, 90), "ms")
    dyn_t = [o for o in traced if o["family"] in ("dml", "dyntable")]
    wbytes = sum(o["layers"].get("output.bytes", 0.0) for o in dyn_t if o["kind"] == "write")
    src_bytes = sum(o["layers"].get("dyn.source_bytes", 0.0) for o in dyn_t)
    m["dyn.write_bytes"] = (wbytes / max(1, len([o for o in dyn_t if o["kind"] == "write"])),
                            "bytes")
    m["dyn.write_amp"] = (wbytes / src_bytes if src_bytes else 0.0, "ratio")
    rd = [o for o in dyn_t if o["kind"] == "read"]
    rows_out = sum(o["layers"].get("output.rows", 0.0) for o in rd)
    m["dyn.rows_examined_per_row"] = (
        sum(o["layers"].get("sources.scan_rows", 0.0) for o in rd) / rows_out
        if rows_out else 0.0, "ratio")
    size, files = tree_size(tables)
    m["dyn.table_bytes"] = (size, "bytes")
    m["dyn.table_files"] = (files, "count")

    ms = [o["ms"] for o in ops]
    m["client.latency_p50_ms"] = (pct(ms, 50), "ms")
    m["client.latency_p90_ms"] = (pct(ms, 90), "ms")
    m["client.ops_per_s"] = (len(ms) / (sum(ms) / 1000.0) if ms else 0.0, "1/s")
    m["jvm.gc_ms"] = (sum(o["gc_ms"] for o in traced) / n, "ms")
    m["jvm.heap_after_gc_mb"] = (max(summary["heap_after_gc_mb"]), "MB")
    tp = sum(p["traced"] for p in summary["passes"])
    up = len(summary["passes"]) - tp
    m["trace.overhead_pct"] = (
        100.0 * (pass_seconds(traced, tp) / pass_seconds([o for o in ops if not o["traced"]], up)
                 - 1.0), "%")
    m["failed_ops_ratio"] = (failed / attempted if attempted else 0.0, "ratio")

    write_table(out, by_layer, wall, n, ops)
    return m


def write_table(out, by_layer, wall, n, ops):
    """The run's per-layer self-time table, to stderr and layers.json,
    with each op family's median latency and mean task time."""
    rows = [(s, by_layer[s] / n, 100.0 * by_layer[s] / wall if wall else 0.0)
            for s in SPAN_LAYERS]
    families = {}
    for o in ops:
        families.setdefault(o["family"], []).append(o)
    with open(os.path.join(out, "layers.json"), "w") as f:
        json.dump({"self_time": {s: {"self_ms_per_op": v, "pct_of_wall": p} for s, v, p in rows},
                   "families": {k: {"latency_p50_ms": pct([o["ms"] for o in v], 50),
                                    "task_run_ms": mean_of([o for o in v if o["traced"]],
                                                           "exec.task_run_ms")}
                                for k, v in families.items()}}, f, indent=1)
    print(f"{'layer':24s} {'self ms/op':>11s} {'% wall':>7s}", file=sys.stderr)
    for s, v, p in rows:
        print(f"{s:24s} {v:11.1f} {p:7.1f}", file=sys.stderr)
