#!/usr/bin/env python3
"""Steadiness check: run the benchmark on each workload with seeds
1..N for two sets of runs, interleaved one run from each set in turn, and
report per end-to-end metric the spread of each set (distance between
the first and third quartile over the median) and the ratio of the
second set's median to the first's, against BENCHMARK.json's bounds.

    python3 perfbench/steadiness.py [--runs 10] [--workloads registry ...]
    python3 perfbench/steadiness.py --trace --runs 2   # count repeatability

With ``--trace`` it makes traced runs instead and reports whether each
per-layer count metric repeats exactly between the two runs of a seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTS = (
    "queries.builder_jobs", "compaction.probe_jobs", "exec.jobs",
    "storage.files_per_append",
)


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    out = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=900, check=True
    ).stdout.strip().splitlines()
    result, record = json.loads(out[-1]), json.loads(out[-2])["record"]
    if not result["correct"]:
        print(f"  output check failed: {record['failures'][:3]}", file=sys.stderr)
    return {"result": result, "noise": record.get("noise")}


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    report = {}
    for w in workloads:
        sets: list[list[dict]] = [[], []]
        for seed in range(1, args.runs + 1):
            for s in sets:
                s.append(run_once(spec, w, seed, int(args.trace)))
                m = s[-1]["result"]["metrics"]
                brief = {k: round(v["value"], 4) for k, v in m.items() if k in
                         ("ops_per_s", "op_p50_s", "setup_s", "exec.jobs")}
                print(f"{w} seed {seed} set {sets.index(s)}: {brief} "
                      f"noise={s[-1]['noise']}", file=sys.stderr, flush=True)
        report[w] = summarize(spec, sets, args.trace)
        print(json.dumps({w: report[w]}, indent=1), flush=True)
    path = os.path.join(ROOT, ".bench_build", "perfbench", "steadiness.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)


def summarize(spec: dict, sets: list[list[dict]], trace: bool) -> dict:
    if trace:
        out = {}
        for name in COUNTS:
            pairs = [
                [r["result"]["metrics"][name]["value"] for r in runs]
                for runs in zip(*sets)
            ]
            out[name] = {"per_seed": pairs, "repeats": all(a == b for a, b in pairs)}
        return out
    out = {}
    for metric in spec["end_to_end"]:
        name, bound = metric["name"], metric["bound"]
        vals = [[r["result"]["metrics"][name]["value"] for r in s] for s in sets]
        med = [statistics.median(v) for v in vals]
        worse = (med[1] / med[0] - 1) if metric["better"] == "lower" else (1 - med[1] / med[0])
        out[name] = {
            "bound": bound,
            "spread": [round(spread(v), 4) for v in vals],
            "median": [round(m, 4) for m in med],
            "second_worse_by": round(worse, 4),
            "ok": worse <= bound and all(spread(v) <= bound for v in vals),
        }
    return out


if __name__ == "__main__":
    main()
