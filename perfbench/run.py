#!/usr/bin/env python3
"""The engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness with sbt and generates the corpus (gen.py); both are cached under
.perfbench/ and rebuilt only when their inputs change. A run then starts
one JVM (one closed-loop client thread, Spark local[cores], the engine's
own session posture), sets up three times, runs a fixed number of
untimed warm-up passes (WARMUP_PASSES), measures whole cycles of passes until --seconds have
elapsed, and checks every op's output in DuckDB (oracle.py). The last stdout line is the
result JSON; --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones. Logs and traces stay in .perfbench/runs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import oracle  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ["interactive", "batch"]
SETUPS = 3
# A fresh JVM's passes speed up for about 30 s while the JIT compiles;
# these counts cover most of that within the run's time budget.
WARMUP_PASSES = {"interactive": 2, "batch": 3}
JVM_TIMEOUT_S = 170
INITIAL_HEAP = "2g"


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths, root):
    """Hash of the files under `paths`, named relative to `root`, so a
    checkout that moves keeps its cache."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env(work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Dsbt.offline=true -Djava.io.tmpdir={tmp}").strip()
    return env


def build(root, work):
    """Compiles engine + harness when their sources changed; returns the
    JVM classpath and options the engine's build declares."""
    srcs = [os.path.join(root, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    srcs += [os.path.join(BENCH, p) for p in ("build.sbt", "project/build.properties", "src")]
    stamp = digest(srcs, root)
    spec = os.path.join(BENCH, "target", "launch.txt")
    stamp_file = os.path.join(work, "build.stamp")
    if not (os.path.exists(spec) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        log = os.path.join(work, "build.log")
        with open(log, "w") as f:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                                 cwd=BENCH, stdout=f, stderr=subprocess.STDOUT, env=sbt_env(work))
        if rc != 0:
            die(f"build failed, see {log}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(spec).read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def heap_size():
    """JVM heap as the repository's tier-1 test line sizes it: half the
    machine's memory, clamped to 2..8 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(8, max(2, g))}g"


def java(cp, opts, main, args, log, timeout):
    """Runs one JVM to completion; scratch files and the SQL warehouse
    stay in the run's own directory."""
    cores = str(os.cpu_count() or 1)
    run_dir = os.path.dirname(log)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores, SPARK_LOCAL_DIRS=tmp,
               SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"))
    # a fixed initial heap: grown from the default 1/64 of memory, the
    # heap's size (and with it GC work) differed from run to run
    cmd = ["java", f"-Xmx{heap_size()}", f"-Xms{INITIAL_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + opts + \
          ["-cp", cp, main] + args
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"{main} timed out, see {log}")
    if rc != 0:
        die(f"{main} exited {rc}, see {log}")


def corpus(work):
    """The generated corpus, built once per generator version. Returns
    (directory, seconds spent preparing it in this run)."""
    t0 = time.time()
    base = os.path.join(work, "data", "base-" + digest([os.path.join(BENCH, "gen.py")], BENCH))
    if not os.path.exists(os.path.join(base, "_done")):
        shutil.rmtree(base, ignore_errors=True)
        gen.generate(base)
        open(os.path.join(base, "_done"), "w").close()
    return base, time.time() - t0


def pass_seconds(ops, passes):
    """Wall time of one pass of the mix: every op's time replaced by the
    median time of its template, summed, over the number of passes. The
    window holds whole cycles, so every run sums the same mix; the
    medians keep a single slow op (a GC pause, a late JIT) out."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["ms"])
    return sum(len(v) * statistics.median(v) for v in by_name.values()) / passes / 1000.0


def end_to_end(ops, summary):
    """The bounded metrics. Per-op latency percentiles and throughput are
    reported by the traced run (client.*): on a shared 4-core host their
    run-to-run spread exceeds the largest bound the benchmark may set."""
    return {
        "setup_s": (statistics.median(summary["setup_s"]), "s"),
        "pass_s": (pass_seconds(ops, len(summary["passes"])), "s"),
        "heap_live_mb": (statistics.median(summary["heap_after_gc_mb"]), "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"run from the root of an engine checkout ({need} is missing)")
    work = os.path.join(root, ".perfbench")
    os.makedirs(work, exist_ok=True)
    cp, opts = build(root, work)
    data, prepare_s = corpus(work)

    out = os.path.join(work, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    java(cp, opts, "perfbench.Main",
         ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
          "--trace", str(a.trace), "--data", data, "--out", out, "--setups", str(SETUPS),
          "--warmup", str(WARMUP_PASSES[a.workload])],
         os.path.join(out, "jvm.log"), JVM_TIMEOUT_S)
    jvm_done = time.time()

    attempted, failed, failures = oracle.check_run(
        os.path.join(out, "ops.jsonl"), data, stateful=a.workload == "interactive")
    for name, why in failures[:20]:
        print(f"perfbench: {name} failed: {why}", file=sys.stderr)
    with open(os.path.join(out, "ops.jsonl")) as f:
        ops = [r for r in map(json.loads, f) if "i" in r]
    summary = json.load(open(os.path.join(out, "summary.json")))
    print(f"perfbench: {a.workload} seed {a.seed}: {len(ops)} ops in "
          f"{len(summary['passes'])} passes, prepare {prepare_s:.1f} s, "
          f"check {time.time() - jvm_done:.1f} s", file=sys.stderr)

    if a.trace:
        tables = [os.path.join(out, "warehouse")] + [
            os.path.join(out, p) for p in os.listdir(out) if p.startswith("dyn_log")]
        metrics = layers.per_layer(ops, summary, out, tables, attempted, failed, pass_seconds)
    else:
        metrics = end_to_end(ops, summary)
    # outputs are checked; keep only the logs, the op log and the spans
    for p in os.listdir(out):
        if os.path.isdir(os.path.join(out, p)):
            shutil.rmtree(os.path.join(out, p))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
