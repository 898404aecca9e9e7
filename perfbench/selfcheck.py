#!/usr/bin/env python3
"""Self-check of the benchmark on tiny generated inputs.

    python3 perfbench/selfcheck.py        # from the repository root

For each workload it runs `run.py --smoke` untraced and traced and
asserts that:
  - the last stdout line is the result object, `correct` and with no
    failed operation;
  - every metric BENCHMARK.json names (end-to-end untraced, per-layer
    traced) is printed with the unit BENCHMARK.json gives it, and no
    other metric is;
  - the traced run drained the listener bus, attributed every job to a
    step, and reconciled every step's self times to its wall.
Exits 0 when all hold, 1 otherwise.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    expected = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", "1", "--seconds", "1", "--trace", str(trace),
                                "--smoke"], capture_output=True, text=True)
            tag = f"{w} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-500:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != expected[trace]:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(expected[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(expected[trace]))}, units "
                                f"{[k for k in got if expected[trace].get(k, got[k]) != got[k]]}")
            if any(not isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                problems.append(f"{tag}: a metric value is not a number")
            if trace:
                with open(os.path.join(".bench_build", "trace", f"{w}-seed1",
                                       "reconcile.json")) as f:
                    rec = json.load(f)
                if not rec["drained"] or rec["unattributed_jobs"]:
                    problems.append(f"{tag}: drained={rec['drained']} "
                                    f"unattributed_jobs={rec['unattributed_jobs']}")
                r = rec["reconcile"]
                if r["steps"] == 0 or r["steps_within"] != r["steps"]:
                    problems.append(f"{tag}: {r['steps_within']}/{r['steps']} steps reconcile")
            print(f"{tag}: checked", flush=True)
    for p in problems:
        print("PROBLEM", p)
    print("selfcheck", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
