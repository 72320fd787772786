#!/usr/bin/env python3
"""Steadiness and A/B tooling for the benchmark.

Run a workload over several seeds and print each metric's median,
quartiles and spread (quartile distance over median):

    python3 perfbench/steady.py runs --workload batch --seeds 1-10 --save a.jsonl

Compare two checkouts that carry identical benchmark files, in
alternating pairs (the parent first on even pairs, the change first on
odd ones), each pair on its own seed:

    python3 perfbench/steady.py ab --parent ../parent --change . \\
        --workload batch --pairs 10 --save ab.jsonl

or re-analyse saved pairs with `steady.py report ab.jsonl`. A gain is
claimed only when the change wins at least 9 of 10 pairs (ties count for
neither) and the medians differ by more than the parent's quartile
distance. A metric is a regression when the change's median is worse
than the parent's by more than its bound in BENCHMARK.json; when the
parent's own spread exceeds the bound the metric is unresolved, unless
every change run beats every parent run.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(s):
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def bench_digest(checkout):
    """Digest of a checkout's benchmark files (build outputs excluded)."""
    h = hashlib.sha256()
    for top in spec(checkout)["paths"]:
        for d, dirs, fs in sorted(os.walk(os.path.join(checkout, top))):
            dirs[:] = sorted(x for x in dirs if x != "target"
                             and not os.path.join(d, x).endswith("project/project"))
            for f in sorted(fs):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()


def run_once(checkout, workload, seed, seconds, trace):
    """One benchmark run from the root of `checkout`."""
    cmd = spec(checkout)["command"] + ["--workload", workload, "--seed", str(seed),
                                       "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"run failed: {workload} seed {seed} in {checkout}")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def describe(results):
    names = list(results[0]["metrics"])
    print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s}")
    for m in names:
        xs = [r["metrics"][m]["value"] for r in results]
        q1, med, q3 = quartiles(xs)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{m:28s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f}")
    bad = sum(r["failed"] for r in results)
    print(f"{len(results)} runs, {bad} failed ops")


def cmd_runs(a):
    root = os.path.dirname(HERE)
    secs = a.seconds or spec(root)["run_seconds"]
    results = []
    for s in seeds(a.seeds):
        r = run_once(root, a.workload, s, secs, a.trace)
        results.append(r)
        print(f"seed {s}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                                        if a.trace == 0), file=sys.stderr)
        if a.save:
            with open(a.save, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": s, "result": r}) + "\n")
    describe(results)


def analyse(pairs, bench):
    """pairs: list of (parent_result, change_result)."""
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    for name, m in metrics.items():
        par = [p["metrics"][name]["value"] for p, _ in pairs]
        chg = [c["metrics"][name]["value"] for _, c in pairs]
        lower = m["better"] == "lower"
        better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
        wins = sum(better(c, p) for p, c in zip(par, chg))
        q1p, mp, q3p = quartiles(par)
        q1c, mc, q3c = quartiles(chg)
        iqr = q3p - q1p
        worse = (mc - mp) / mp if lower else (mp - mc) / mp
        if wins >= 0.9 * len(pairs) and abs(mc - mp) > iqr:
            verdict = "gain"
        elif iqr / mp > m["bound"] and not all(better(c, p) for c in chg for p in par):
            verdict = "unresolved"
        elif worse > m["bound"]:
            verdict = "regression"
        else:
            verdict = "no regression"
        print(f"{name:18s} parent {mp:10.4f} [{q1p:.4f}, {q3p:.4f}]  change {mc:10.4f} "
              f"[{q1c:.4f}, {q3c:.4f}]  wins {wins}/{len(pairs)}  {verdict}")


def cmd_ab(a):
    bench_root = os.path.dirname(HERE)
    secs = spec(bench_root)["run_seconds"]
    if bench_digest(a.parent) != bench_digest(a.change):
        raise SystemExit("the two checkouts must carry identical benchmark files")
    pairs = []
    for i, s in enumerate(seeds(a.seeds) if a.seeds else range(1, a.pairs + 1)):
        sides = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            sides.reverse()
        got = {name: run_once(path, a.workload, s, secs, 0) for name, path in sides}
        pairs.append((got["parent"], got["change"]))
        if a.save:
            with open(a.save, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": s, "parent": got["parent"],
                                    "change": got["change"]}) + "\n")
    analyse(pairs, spec(bench_root))


def cmd_report(a):
    with open(a.file) as f:
        rows = [json.loads(l) for l in f]
    by_wl = {}
    for r in rows:
        by_wl.setdefault(r["workload"], []).append(r)
    for wl, rs in by_wl.items():
        print(f"== {wl}")
        if "parent" in rs[0]:
            analyse([(r["parent"], r["change"]) for r in rs], spec(os.path.dirname(HERE)))
        else:
            describe([r["result"] for r in rs])


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=int)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--save")
    r.set_defaults(func=cmd_runs)
    b = sub.add_parser("ab")
    b.add_argument("--parent", required=True)
    b.add_argument("--change", required=True)
    b.add_argument("--workload", required=True)
    b.add_argument("--pairs", type=int, default=10)
    b.add_argument("--seeds")
    b.add_argument("--save")
    b.set_defaults(func=cmd_ab)
    p = sub.add_parser("report")
    p.add_argument("file")
    p.set_defaults(func=cmd_report)
    a = ap.parse_args()
    a.func(a)


if __name__ == "__main__":
    main()
