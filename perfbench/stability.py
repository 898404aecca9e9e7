#!/usr/bin/env python3
"""Steadiness and tracing-overhead check of the benchmark.

    python3 perfbench/stability.py [--workloads board,elt,corpus] [--seeds 10]
        [--sets 2] [--traced 3] [--seconds 10]

Run from the repository root. Each set runs every workload once per seed
(seeds 1..N), workloads alternating within a seed; the second set runs
seeds and workloads in reverse order, so a slow time window does not
fall on the same runs twice. After every few untraced runs of a
workload, one traced run of the same seed follows, until `--traced` of
them have run per workload and set. Printed per workload and
end-to-end metric: each set's median and IQR/median (quartiles as
`statistics.quantiles(n=4)`), how far the second median lies from the
first, and the tracing overhead (median, over the traced runs, of a
traced value over the untraced run of the same set and seed just before
it, minus 1). The report is
also written to `.bench_build/stability.json`. Exits 1 when a run fails
or is not correct.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
LINE = re.compile(r"^  ([a-z_0-9]+)\s+(-?[0-9.]+) (\S+)$")


def run_once(workload, seed, seconds, trace):
    """End-to-end values of one run (traced runs print them as text)."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} trace {trace}: exit {p.returncode}\n"
                           + p.stderr[-2000:])
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"] or res["failed"]:
        raise RuntimeError(f"{workload} seed {seed} trace {trace}: not correct\n{p.stdout}")
    if not trace:
        return {k: v["value"] for k, v in res["metrics"].items()}
    e2e = {}
    for line in p.stdout.splitlines():
        m = LINE.match(line)
        if m and m.group(1) != "fail_frac" and "." not in m.group(1):
            e2e[m.group(1)] = float(m.group(2))
    return e2e


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default="board,elt,corpus")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced", type=int, default=3, help="traced runs per workload and set")
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    every = max(1, a.seeds // max(1, a.traced))
    runs = {w: [] for w in workloads}  # (set, trace, seed, values)
    for s in range(a.sets):
        seeds = list(range(1, a.seeds + 1))
        order = workloads
        if s % 2:
            seeds, order = seeds[::-1], order[::-1]
        traced = {w: 0 for w in workloads}
        for i, seed in enumerate(seeds):
            for w in order:
                jobs = [0] + ([1] if (i + 1) % every == 0 and traced[w] < a.traced else [])
                for trace in jobs:
                    t0 = time.monotonic()
                    v = run_once(w, seed, a.seconds, trace)
                    traced[w] += trace
                    runs[w].append((s, trace, seed, v))
                    print(f"set {s + 1} {w:<6} seed {seed:>2} trace {trace} "
                          f"wall {time.monotonic() - t0:5.1f} s  "
                          + " ".join(f"{k}={x:.4g}" for k, x in v.items()), flush=True)
    report = {}
    print(f"\n{'workload':<7} {'metric':<13} " + " ".join(
        f"{'median' + str(s + 1):>9} {'iqr/med' + str(s + 1):>9}" for s in range(a.sets))
        + f" {'drift':>7} {'trace_ovh':>9}")
    for w in workloads:
        report[w] = {}
        for m in runs[w][0][3]:
            per = [[r[3][m] for r in runs[w] if r[0] == s and not r[1]] for s in range(a.sets)]
            med = [statistics.median(x) for x in per]
            base = {(r[0], r[2]): r[3][m] for r in runs[w] if not r[1]}
            ratios = [r[3][m] / base[(r[0], r[2])] for r in runs[w] if r[1]]
            rep = {"medians": med, "spreads": [spread(x) for x in per],
                   "drift": med[-1] / med[0] - 1,
                   "tracing_overhead": statistics.median(ratios) - 1 if ratios else None}
            report[w][m] = rep
            print(f"{w:<7} {m:<13} " + " ".join(
                f"{x:9.4f} {y:9.4f}" for x, y in zip(med, rep["spreads"]))
                + f" {rep['drift']:+7.3f} "
                + (f"{rep['tracing_overhead']:+9.3f}" if ratios else f"{'-':>9}"))
    os.makedirs(".bench_build", exist_ok=True)
    with open(os.path.join(".bench_build", "stability.json"), "w") as f:
        json.dump({"args": vars(a), "runs": runs, "report": report}, f, indent=1)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except RuntimeError as e:
        print(f"stability: {e}", file=sys.stderr)
        sys.exit(1)
