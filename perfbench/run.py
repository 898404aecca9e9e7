#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, seeded inputs.

    python3 perfbench/run.py --workload board|elt|corpus --seed N \
        --seconds S --trace 0|1 [--smoke]

Run from the repository root. The engine and the driver are compiled
from source into `.bench_build/` (see build.py), inputs are made from
the committed sf0.01 fixture and the seed (gen.py, untimed), one JVM
runs the workload (driver/Main.scala), and the outputs are checked
against DuckDB (oracle.py, untimed). The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). A traced
run also writes its spans and a reconciliation report under
`.bench_build/trace/`. METRICS.md defines every metric.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

DEADLINE_S = 170  # a run ends (or is killed) well inside 180 s

# Sizes per workload, as copies of the sf0.01 fixture (gen.py); `smoke`
# is the self-check's small variant.
SIZES = {
    "board": {"replicas": 2, "files": 4},
    "elt": {"replicas": 6, "batches": 15, "batch_rows": 40},
    "corpus": {"replicas": 4},
}
SMOKE = {
    "board": {"replicas": 1, "files": 2},
    "elt": {"replicas": 1, "batches": 3, "batch_rows": 20},
    "corpus": {"replicas": 2},
}

E2E = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("op_p90_s", "s"),
       ("heap_live_mb", "MB")]
KERNELS = ["normalize_text", "quality_stats", "repetition_stats", "char_minhash",
           "wordgram_md5s", "fingerprint"]
PER_LAYER = [
    ("session.start_s", "s"), ("jvm.gc_s", "s"), ("jvm.gc_count", "count"),
    ("jvm.heap_peak_mb", "MB"),
    ("sources.open_ms", "ms"), ("sources.relations", "count"), ("sources.input_mb", "MB"),
    ("sources.acquire_s", "s"), ("sources.csv_load_s", "s"), ("sources.csv_mb_per_s", "MB/s"),
    ("sources.export_s", "s"),
    ("operators.construct_s", "s"), ("operators.construct_self_s", "s"),
    ("operators.construct_jobs", "count"), ("operators.elt.dims_s", "s"),
    ("operators.elt.fact_s", "s"), ("operators.elt.report_s", "s"),
    ("operators.corpus.write_s", "s"), ("operators.corpus.compact_s", "s"),
    ("operators.corpus.write_mb", "MB"), ("operators.corpus.files", "count"),
    ("operators.corpus.write_amp", "ratio"), ("operators.corpus.accept_ratio", "ratio"),
    ("plans.checkpoint_jobs", "count"), ("plans.checkpoint_s", "s"),
    ("plans.checkpoint_mb", "MB"), ("plans.cache_first_touch_s", "s"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("catalyst.plan_nodes", "count"),
    ("catalyst.exchanges", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.stages_skipped", "count"), ("exec.tasks", "count"), ("exec.task_s", "s"),
    ("exec.cpu_s", "s"), ("exec.gc_s", "s"), ("exec.sched_delay_s", "s"),
    ("exec.core_util", "ratio"), ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"), ("exec.output_mb", "MB"),
    ("exec.failed_tasks", "count"),
] + [(f"functions.{k}.rows_per_s", "1/s") for k in KERNELS] + [
    ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.planning_ms", "ms"), ("streaming.commit_ms", "ms"),
    ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
]

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def machine():
    """Cores from the affinity mask (as `nproc`), heap as Tier-1 derives it:
    half of MemTotal in GiB, clamped to 2..8."""
    cores = len(os.sched_getaffinity(0))
    g = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return cores, f"{g}g"


def generate(root, workload, seed, size, inputs):
    out = os.path.join(inputs, workload)
    if workload == "board":
        gen.gen_board(root, out, seed, size["replicas"], size["files"])
    elif workload == "elt":
        gen.gen_elt(root, out, seed, size["replicas"], size["batches"], size["batch_rows"])
    else:
        gen.gen_corpus(root, out, seed, size["replicas"])
    return gen.digest(inputs)


def run_jvm(cp, heap, cores, args, log_path, deadline):
    cmd = (["java", f"-Xmx{heap}", "-XX:+UseParallelGC", *JDK_OPENS,
            f"-Djava.io.tmpdir={args['out']}/tmp", "-cp", cp, "perfbench.Main"]
           + [str(args[k]) for k in ("workload", "in", "out", "seed", "seconds", "trace",
                                     "cores", "smoke")])
    os.makedirs(f"{args['out']}/tmp", exist_ok=True)
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def op_walls(res):
    """Per-operation walls by name (board rows; one name elsewhere)."""
    by = {}
    for n, w in zip(res.get("op_names") or [""] * len(res["op_s"]), res["op_s"]):
        by.setdefault(n, []).append(w)
    return by


def e2e_values(res):
    """Board quantiles are over each row's median wall across the timed
    passes, so one slow sample of one row does not decide op_p90_s."""
    by = op_walls(res)
    ops = [statistics.median(ws) for ws in by.values()] if len(by) > 1 else res["op_s"]
    return {"setup_s": res["setup_s"], "pass_s": statistics.median(res["pass_s"]),
            "op_p50_s": quantile(ops, 0.5), "op_p90_s": quantile(ops, 0.9),
            "heap_live_mb": res["heap_live_mb"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (self-check)")
    a = ap.parse_args()
    root = os.getcwd()
    cores, heap = machine()
    try:
        driver_cp, classes = build.build(root)
        jars = build.spark_jars()
    except (RuntimeError, subprocess.CalledProcessError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    # the first run in a checkout also compiles; the deadline starts after
    deadline = time.monotonic() + DEADLINE_S
    cp = ":".join([driver_cp, classes, os.path.join(jars, "*")])
    bd = build.build_dir(root)
    work = os.path.join(bd, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, out = os.path.join(work, "inputs"), os.path.join(work, "out")
    os.makedirs(out)
    size = (SMOKE if a.smoke else SIZES)[a.workload]
    try:
        t0 = time.monotonic()
        digest = generate(root, a.workload, a.seed, size, inputs)
        phases = {"generate_s": time.monotonic() - t0}
        log = os.path.join(work, "jvm.log")
        jargs = {"workload": a.workload, "in": inputs, "out": out, "seed": a.seed,
                 "seconds": a.seconds, "trace": a.trace, "cores": cores,
                 "smoke": int(a.smoke)}
        try:
            t0 = time.monotonic()
            rc = run_jvm(cp, heap, cores, jargs, log, deadline)
            phases["jvm_s"] = time.monotonic() - t0
        except subprocess.TimeoutExpired:
            print(f"perfbench: JVM exceeded {DEADLINE_S} s", file=sys.stderr)
            return 3
        result_file = os.path.join(out, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            with open(log, errors="replace") as f:
                lines = f.readlines()
            errors = [ln for ln in lines if "Exception" in ln or "Caused by" in ln]
            sys.stderr.write("".join(errors[:8] + lines[-20:]))
            print(f"perfbench: JVM exited with {rc}", file=sys.stderr)
            return 4
        with open(result_file) as f:
            res = json.load(f)
        return report(a, res, size, digest, inputs, out, cores, bd, phases)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, res, size, digest, inputs, out, cores, bd, phases):
    t0 = time.monotonic()
    failures = list(res["failures"])
    attempted = res["attempted"]
    if a.workload == "board":
        n, fails = oracle.check_board(res, os.path.join(inputs, "board"), out, cores)
    elif a.workload == "elt":
        n, fails = oracle.check_elt(res, os.path.join(inputs, "elt", "truth"), out, cores)
    else:
        n, fails = 0, {}
    phases["check_s"] = time.monotonic() - t0
    attempted += n
    failures += [f"oracle {k}: {v}" for k, v in sorted(fails.items())]
    for f in failures:
        print(f"FAIL {f}")
    e2e = e2e_values(res)
    print(f"workload {a.workload} seed {a.seed} inputs sha256 {digest} sizes {json.dumps(size)}")
    print("pass walls: " + " ".join(f"{x:.3f}" for x in res["pass_s"]) + " s; op walls: "
          + " ".join(f"{x:.3f}" for x in res["op_s"]) + " s")
    print(f"samples: {len(res['pass_s'])} pass, {len(res['op_s'])} op; untimed phases: "
          + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    for name, unit in E2E:
        print(f"  {name:<14} {e2e[name]:12.4f} {unit}")
    print(f"  {'fail_frac':<14} {len(failures) / attempted:12.4f} ratio")
    for n, ws in sorted(op_walls(res).items()):
        if n:
            print(f"  ({n} median {statistics.median(ws):.4f} s over {len(ws)})")
    for k, v in sorted(res.get("named", {}).items()):
        print(f"  ({k} {v:.4f} s)")
    hist = os.path.join(bd, "history", f"{a.workload}.jsonl")
    with open(os.path.join(bd, "stamp")) as f:
        stamp = f.read()  # untraced runs of the same build are the overhead baseline
    if a.trace:
        metrics = trace_outputs(a, res, e2e, hist, digest, size, stamp, bd)
        units = PER_LAYER
    else:
        os.makedirs(os.path.dirname(hist), exist_ok=True)
        with open(hist, "a") as f:
            f.write(json.dumps({"seed": a.seed, "build": stamp, "sizes": size, **e2e}) + "\n")
        metrics, units = e2e, E2E
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures),
                      "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u}
                                  for k, u in units}}))
    return 0


def trace_outputs(a, res, e2e, hist, digest, size, stamp, bd):
    """Writes spans.json and reconcile.json; returns the per-layer metrics."""
    layers = res["layers"]
    for name, unit in PER_LAYER:
        if name in layers:
            print(f"  {name:<36} {layers[name]:14.4f} {unit}")
    untraced = []
    if os.path.exists(hist):
        with open(hist) as f:
            untraced = [h for h in map(json.loads, f)
                        if h.get("sizes") == size and h.get("build") == stamp]
    overhead = {}
    for name, _ in E2E:
        base = [h[name] for h in untraced if name in h]
        overhead[name] = ({"traced": e2e[name], "untraced_median": statistics.median(base),
                           "untraced_runs": len(base),
                           "overhead": e2e[name] / statistics.median(base) - 1}
                          if base else {"traced": e2e[name], "untraced_runs": 0})
    rec = res["reconcile"]
    d = os.path.join(bd, "trace", f"{a.workload}-seed{a.seed}")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "spans.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "inputs_sha256": digest,
                   "spans": res["spans"]}, f)
    with open(os.path.join(d, "reconcile.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "reconcile": rec,
                   "drained": res["drained"], "unattributed_jobs": res["unattributed_jobs"],
                   "tracing_overhead": overhead}, f, indent=1)
    print(f"reconcile: {rec['steps_within']}/{rec['steps']} steps within tolerance "
          f"({rec['tolerance']}); listener drained={res['drained']}, "
          f"unattributed jobs={res['unattributed_jobs']}")
    for name, o in overhead.items():
        if "overhead" in o:
            print(f"  tracing overhead {name}: {o['overhead'] * 100:+.1f}% "
                  f"(vs median of {o['untraced_runs']} untraced runs)")
    print(f"trace written to {d}")
    return layers


if __name__ == "__main__":
    sys.exit(main())
