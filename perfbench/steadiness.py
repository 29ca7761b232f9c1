#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the same code, compared metric by
metric against the bounds in BENCHMARK.json.

Usage (from the root of a checkout):
  python3 perfbench/steadiness.py [--runs 10] [--out perfbench/results/steadiness.json]

For every workload in BENCHMARK.json, set A runs seeds 1..runs and set B
seeds runs+1..2*runs. Each end-to-end metric, setup_s included, must have a
quartile spread (Q3 - Q1) / median within its bound in both sets, and
set B's median must not be worse than set A's by more than the bound.
Exits non-zero when a check fails.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(command, workload, seed, seconds):
    res = subprocess.run(command + ["--workload", workload, "--seed", str(seed),
                                    "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, capture_output=True, text=True, timeout=900)
    if res.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{res.stderr[-3000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": statistics.median(values),
            "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", default=os.path.join(HERE, "results",
                                                  "steadiness.json"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    report = {"host": {"nproc": len(os.sched_getaffinity(0)),
                       "machine": platform.machine(),
                       "python": platform.python_version()},
              "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "runs_per_set": a.runs, "workloads": {}}
    ok = True
    for w in bench["workloads"]:
        name = w["name"]
        sets = {}
        for label, first in (("A", 1), ("B", a.runs + 1)):
            runs = [run_once(bench["command"], name, s, bench["run_seconds"])
                    for s in range(first, first + a.runs)]
            sets[label] = {
                "correct": all(r["correct"] for r in runs),
                "attempted": sum(r["attempted"] for r in runs),
                "failed": sum(r["failed"] for r in runs),
                "metrics": {m: summary([r["metrics"][m]["value"]
                                        for r in runs]) for m in metrics}}
            print(name, label, {m: round(v["median"], 4) for m, v in
                                sets[label]["metrics"].items()}, flush=True)
        checks = {}
        for m, spec in metrics.items():
            A, B = sets["A"]["metrics"][m], sets["B"]["metrics"][m]
            worse = (B["median"] - A["median"]) / A["median"]
            if spec["better"] == "higher":
                worse = -worse
            spread_ok = (A["spread"] <= spec["bound"] and
                         B["spread"] <= spec["bound"])
            checks[m] = {"bound": spec["bound"],
                         "spread_A": A["spread"], "spread_B": B["spread"],
                         "B_worse_than_A": worse,
                         "ok": spread_ok and worse <= spec["bound"]}
            ok &= checks[m]["ok"]
        ok &= sets["A"]["correct"] and sets["B"]["correct"]
        report["workloads"][name] = {"sets": sets, "checks": checks}
    report["ok"] = ok
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
    print("steadiness", "ok" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
